package graft.engine

import org.apache.spark.graft.QueryCapture
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession
import graft.functions.HllAggregator
import graft.parser.TrParser
import graft.trck._
import graft.trck.LocalRunner.{Db, RawEvent}

/** Per-trail HLL sketches travel as sparse (index hi, index lo, rank)
  * triples and merge in the one aggregation pass of
  * TrckSparkRunner.aggregateEmits. Pins the encoding, its size bound, and
  * Spark ≡ LocalRunner rendered sketches byte for byte on the cases the
  * shared aggregation must get right.
  */
class SparseHllSpec extends AnyFunSuite with BeforeAndAfterAll with AdaptiveSparkPlanHelper {

  private lazy val spark: SparkSession =
    GraftSession.builder("2").appName("sparse-hll").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def db(seed: Long, nTrails: Int, nEvents: Int, nSkus: Int): Db = {
    val rnd = new scala.util.Random(seed)
    Db((0 until nTrails).map { u =>
      var ts = 0L
      s"u$u" -> (0 until nEvents).map { _ =>
        ts += 1 + rnd.nextInt(50)
        RawEvent(ts, Map(
          "event_type" -> (if (rnd.nextInt(3) == 0) "buy" else "view"),
          "country" -> s"c${rnd.nextInt(6)}",
          "sku" -> s"s${rnd.nextInt(nSkus)}",
        ))
      }
    })
  }

  private def toDf(d: Db): DataFrame = {
    val s = spark
    import s.implicits._
    d.trails.flatMap { case (uuid, evs) =>
      evs.map(e => (uuid, e.ts, e.fields("event_type"), e.fields("country"), e.fields("sku")))
    }.toDF("uuid", "ts", "event_type", "country", "sku")
  }

  private def compile(text: String) = Compiled.compile(TrParser.parse(text.stripMargin))

  /** Spark runRaw and LocalRunner over the same DBs, outputs compared as
    * key → rendered value (sketch hex strings compared exactly).
    */
  private def assertSame(prog: Compiled.CompiledProgram, dbs: Seq[Db]): Seq[collection.Map[String, Any]] = {
    val local = LocalRunner.run(prog, dbs).toOutputs
    val (events, cuts) = TrckSparkRunner.unionSources(dbs.map(toDf), "ts")
    val out = TrckSparkRunner.runRaw(prog, events, "uuid", "ts", srcCuts = cuts).toOutputs
    assert(out.map(_.toMap) == local.map(_.toMap))
    out
  }

  test("Hll.sparse round-trips to the same registers") {
    val rnd = new scala.util.Random(5L)
    for (k <- Seq(0, 1, 7, 300, 5000, 100000)) {
      val h = Hll()
      (0 until k).foreach(_ => h.add(rnd.nextString(8).getBytes("UTF-8")))
      val back = new Array[Byte](Hll.M)
      Hll.maxSparse(back, h.sparse)
      assert(back.sameElements(h.registers), s"k=$k")
      assert(h.sparse.length == 3 * h.registers.count(_ != 0))
    }
  }

  test("an h emit row for a trail with k distinct items is at most 3k bytes") {
    val prog = compile(
      """start ->
        |    receive
        |        * -> yield sku to ^skus, repeat
        |""")
    val d = db(7L, nTrails = 20, nEvents = 40, nSkus = 500)
    val rows = TrailEngine.emits(prog, toDf(d), "uuid", "ts")
      .filter(col("kind") === "h").select("uuid", "item").collect()
    assert(rows.length == d.trails.length)
    val distinct = d.trails.map { case (u, evs) => u -> evs.map(_.fields("sku")).distinct.size }.toMap
    rows.foreach { r =>
      val k = distinct(r.getString(0))
      val item = r.getAs[Array[Byte]](1)
      assert(item.length > 0 && item.length <= 3 * k, s"${r.getString(0)}: ${item.length} bytes for $k items")
    }
  }

  test("sparse merge aggregator: null-only groups finish null, empty sketches finish 0e00") {
    val s = spark
    import s.implicits._
    val df = Seq[(String, Option[Array[Byte]])](
      ("nulls", None), ("empty", Some(Array.emptyByteArray)), ("empty", None)).toDF("g", "item")
    val got = df.groupBy("g").agg(HllAggregator.trckHllMergeSparseHex(col("item")).as("hex"))
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(got == Map("nulls" -> None, "empty" -> Some(Hll.EmptyHex)))
  }

  test("empty sketch: an HLL yield that never fires renders 0e00 on both engines") {
    val prog = compile(
      """start ->
        |    receive
        |        event_type = "never" -> yield sku to ^skus, repeat
        |        * -> yield $seen, repeat
        |""")
    val out = assertSame(prog, Seq(db(11L, nTrails = 10, nEvents = 10, nSkus = 50)))
    assert(out.head("^skus") == Hll.EmptyHex)
  }

  test("merged results: per-tuple sketches union across the foreach, Spark = local") {
    val prog = compile(
      """foreach %c merged
        |    start ->
        |        receive
        |            country = %c -> yield sku to ^skus, yield $n, repeat
        |            * -> repeat
        |""")
    val out = assertSame(prog, Seq(db(13L, nTrails = 30, nEvents = 20, nSkus = 400)))
    assert(out.size == 1 && out.head("^skus") != Hll.EmptyHex)
  }

  test("foreach with more than 128 sketch groups per task: sort-based fallback, Spark = local") {
    val prog = compile(
      """foreach %s
        |    start ->
        |        receive
        |            sku = %s -> yield country to ^cs, yield $n, repeat
        |            * -> repeat
        |""")
    val d = db(17L, nTrails = 40, nEvents = 30, nSkus = 300)
    val (_, qes) = QueryCapture(spark)(assertSame(prog, Seq(d)))
    val nSkus = d.trails.flatMap(_._2.map(_.fields("sku"))).distinct.size
    assert(nSkus > 2 * 128, s"fixture too narrow: $nSkus foreach values")
    val fellBack = qes.flatMap(qe => collect(qe.executedPlan) { case a: ObjectHashAggregateExec => a })
      .map(_.metrics("numTasksFallBacked").value).sum
    assert(fellBack > 0, "the sketch aggregation never left the hash path")
  }

  test("multi-source: cross-DB sketches merge through unionSources, Spark = local") {
    val prog = compile(
      """start ->
        |    receive
        |        event_type = "buy" -> yield $buys, yield country to #countries, yield country to &cm, yield sku to ^skus, repeat
        |        * -> repeat
        |""")
    val d1 = db(19L, nTrails = 25, nEvents = 20, nSkus = 200)
    // the second DB continues the same cookies past the first one's max
    val max1 = d1.trails.flatMap(_._2.map(_.ts)).max
    val d2 = Db(db(23L, nTrails = 25, nEvents = 20, nSkus = 200).trails.map { case (u, evs) =>
      u -> evs.map(e => e.copy(ts = e.ts + max1 - 100))
    })
    val out = assertSame(prog, Seq(d1, d2))
    assert(out.head("^skus") != Hll.EmptyHex)
  }
}
