package graft.engine

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession
import graft.parser.TrParser
import graft.trck._
import graft.trck.LocalRunner.{Db, RawEvent}

/** The map side of the trail exchange on its own: `TrailPacker` packs
  * every event row, in order, and ships a `__ghost` row only where it is
  * the first row of its trail and source since the trail's previous row
  * in the buffer; and a window run whose filters turn most of a trail into
  * ghost rows still equals LocalRunner.
  */
class TrailPackerSpec extends AnyFunSuite with BeforeAndAfterAll {
  import TrailPackerSpec.R

  private lazy val spark: SparkSession =
    GraftSession.builder("4").appName("trail-packer").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // a projected layout with a source: __uuid, __ts, __srcord, type, __ghost
  private val schema = StructType(Seq(StructField("__uuid", StringType), StructField("__ts", LongType),
    StructField("__srcord", LongType), StructField("type", StringType), StructField("__ghost", IntegerType)))
  private val (srcIdx, ghostIdx) = (2, 4)

  /** The packer's fragments as (uuid, rows), each row read back. */
  private def pack(in: Seq[R]): Seq[(String, Seq[R])] = {
    val toUnsafe = UnsafeProjection.create(schema)
    val rows = in.iterator.map(r => toUnsafe(InternalRow(UTF8String.fromString(r.uuid), r.ts, r.src,
      UTF8String.fromString(r.tpe), if (r.ghost) 1 else 0)).copy())
    new TrailPacker(rows, ghostIdx, srcIdx).map { f =>
      val bytes = f.getBinary(1)
      val view = new UnsafeRow(schema.length)
      val out = Seq.newBuilder[R]
      var at = 0
      while (at < bytes.length) {
        val size = Platform.getInt(bytes, Platform.BYTE_ARRAY_OFFSET + at)
        view.pointTo(bytes, Platform.BYTE_ARRAY_OFFSET + at + TrailPacker.Header, size)
        out += R(view.getUTF8String(0).toString, view.getLong(1), view.getLong(2), view.getUTF8String(3).toString,
          view.getInt(ghostIdx) == 1)
        at += TrailPacker.Header + size
      }
      f.getUTF8String(0).toString -> out.result()
    }.toList
  }

  test("every event row is packed in order; no ghost row follows a row of its trail and source") {
    val rnd = new scala.util.Random(31L)
    // six interleaved trails, source 0's rows then source 1's (as a task
    // reads a union of two scans), about half of the rows ghosts; u4's rows
    // are all ghosts, and u5 is only in source 1
    val in = (0 until 600).map { i =>
      val u = if (i < 300) rnd.nextInt(5) else rnd.nextInt(6)
      R(s"u$u", i.toLong, if (i < 300) 0L else 1L, if (rnd.nextBoolean()) "cli" else "imp",
        ghost = u == 4 || rnd.nextBoolean())
    }
    val segments = in.map(r => (r.uuid, r.src)).toSet
    // the same rows padded to 16 KiB each fill the pack budget twice over
    val pad = "x" * (16 << 10)
    for (in <- Seq(in, in.map(r => r.copy(tpe = r.tpe + pad)))) {
      val frags = pack(in)
      if (in.head.tpe.length > pad.length) assert(frags.size > 6, s"expected several buffers, got ${frags.size} fragments")
      else assert(frags.size == 6)
      assert(frags.forall { case (u, rows) => rows.forall(_.uuid == u) })
      // every event row, in input order per trail
      for (u <- in.map(_.uuid).distinct)
        assert(frags.filter(_._1 == u).flatMap(_._2).filterNot(_.ghost) == in.filter(r => r.uuid == u && !r.ghost))
      // a fragment is one trail's rows in one buffer
      for ((u, rows) <- frags; Seq(prev, g) <- rows.sliding(2) if g.ghost)
        assert(prev.src != g.src, s"$u: ghost $g follows $prev of the same source")
      // presence: every (trail, source) still ships a row
      assert(frags.flatMap(_._2).map(r => (r.uuid, r.src)).toSet == segments)
      // in one buffer, at most the first row of each trail segment is a ghost
      if (frags.size == 6) assert(frags.flatMap(_._2).count(_.ghost) <= segments.size)
    }
  }

  test("window run with most of a trail's events outside its window equals LocalRunner") {
    val prog = Compiled.compile(TrParser.parse(
      """start ->
        |    window
        |        mid ->
        |            window
        |                inner ->
        |                    receive
        |                        type = "conv" -> yield $conv, yield timestamp to #convs, repeat
        |                        * -> yield $other, repeat
        |            after 1d -> yield $midexp, quit
        |    after 2d -> yield $outerexp, quit
        |""".stripMargin))
    val types = Vector("view", "conv", "view", "ping")
    // "big": 400 events, 10 of them in its window; "out": none in its window
    val db = Db(Seq(
      "big" -> (0 until 400).map(i => RawEvent(10L * i, Map("type" -> types(i % 4)))),
      "out" -> (0 until 50).map(i => RawEvent(5000L + i, Map("type" -> types(i % 4)))),
      "small" -> Seq(RawEvent(100L, Map("type" -> "conv")), RawEvent(120L, Map("type" -> "view"))),
    ))
    val ws = LocalRunner.WindowSet(Seq(
      LocalRunner.WindowEntry("big", "big", 1000L, 1100L),
      LocalRunner.WindowEntry("out", "out", 0L, 4000L),
      LocalRunner.WindowEntry("small", "small", 0L, 0L),
    ))
    val local = LocalRunner.run(prog, Seq(db), windows = Some(ws))
    // big at 1010, 1050 and 1090, small at 100; each block expires at
    // finalization, "out" after its empty run
    assert(local.results.head.counters("conv") == 4L)
    assert(local.results.head.counters("midexp") == 3L)
    val s = spark
    import s.implicits._
    val df = db.trails.flatMap { case (u, evs) => evs.map(e => (u, e.ts, e.fields("type"))) }
      .toDF("uuid", "ts", "type").repartition(3)
    val engine = TrckSparkRunner.runRaw(prog, df, "uuid", "ts",
      filters = TrckSparkRunner.EngineFilters(windows = Some(ws)))
    assert(engine.toOutputs == local.toOutputs)
  }
}

object TrailPackerSpec {
  private final case class R(uuid: String, ts: Long, src: Long, tpe: String, ghost: Boolean)
}
