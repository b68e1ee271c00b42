package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession
import graft.engine.{ProgramFuzzSpec, TrckSparkRunner}
import graft.trck._
import graft.trck.LocalRunner.{Db, ForeachTuple, RawEvent}

/** Streaming arm of the fuzz equivalence matrix: random programs (the SAME
  * generator as the batch ProgramFuzzSpec) × random trails × random
  * micro-batch splits, requiring TrailStream ≡ LocalRunner on the rendered
  * JSON — the guard over the subtlest state-carry surface (per-entry ctx
  * loop, cross-batch FSM state, timeout finalization; reference behavior:
  * src/match_traildb.c:384-390, 812-849).
  *
  * Two deliberate constraints keep the comparison exact rather than
  * weakening the engines:
  *
  *  - **cut discipline**: LocalRunner's cross-DB `min_ts` cut is GLOBAL
  *    (previous DB's max timestamp) while the stream's documented late-data
  *    policy is per-uuid (its own high-water mark). Events in
  *    `[uuidMax, globalMax)` would legitimately diverge, so the generator
  *    only emits "late" events strictly below the uuid's own previous max
  *    (dropped by BOTH engines — the cut still executes on both sides) or
  *    "fresh" events at/above the previous global max (kept by both,
  *    including the == boundary).
  *  - **strictly increasing per-uuid timestamps** inside a batch: the
  *    stream orders a micro-batch by `ts` while LocalRunner keeps trail
  *    insertion order, so equal-ts events with different fields would
  *    compare two legal-but-different orderings. The one exception is a
  *    same-ts copy of an event (see `withCopies`): identical, identical but
  *    for null vs "" in `advertisable_eid`, or different only in a `note`
  *    column no program reads. Either order of such a pair reads the same
  *    to the program, so the copies fuzz the stream's consecutive-duplicate
  *    drop, and LocalRunner decides which copies are dropped.
  *
  * Finalization: `eventTimeGapSec` is set far beyond the corpus's time
  * span so no trail can time out while data is still flowing (LocalRunner
  * never finalizes mid-run), then sentinel batches for a dedicated uuid
  * push the watermark past every trail's last-event+gap — the streaming
  * spelling of end-of-input. The sentinel's own rows are excluded from the
  * comparison.
  */
class TrailStreamFuzzSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession =
    GraftSession.builder("4").appName("trail-stream-fuzz").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  import ProgramFuzzSpec.{eids, randomProgram, types}

  private val Sentinel = "__wm_sentinel"
  private val GapSec = 1000000L

  private def randomEvent(rnd: scala.util.Random): Map[String, String] = Map(
    "type" -> types(rnd.nextInt(types.length)),
    "advertisable_eid" -> eids(rnd.nextInt(eids.length)),
  )

  /** `e`, sometimes followed or preceded by a same-ts copy: identical
    * (a duplicate), identical but for null vs "" in `advertisable_eid`
    * (a duplicate: the key is absent from the null one's fields, and both
    * read as ""), or with a `note` column no program reads (not a
    * duplicate: dedup compares the full event).
    */
  private def withCopies(rnd: scala.util.Random, e: RawEvent): Seq[RawEvent] =
    if (rnd.nextInt(4) != 0) Seq(e)
    else {
      val kind = rnd.nextInt(3)
      TrailStreamFuzzSpec.copyKinds += kind
      kind match {
        case 0 => Seq(e, e)
        case 1 =>
          val empty = RawEvent(e.ts, e.fields.updated("advertisable_eid", ""))
          val absent = RawEvent(e.ts, e.fields - "advertisable_eid")
          if (rnd.nextBoolean()) Seq(empty, absent) else Seq(absent, empty)
        case 2 => Seq(e, RawEvent(e.ts, e.fields.updated("note", s"n${rnd.nextInt(3)}")))
      }
    }

  /** First batch: strictly increasing ts per uuid, plus same-ts copies. */
  private def firstBatch(rnd: scala.util.Random, nTrails: Int, nEvents: Int): Db =
    Db((0 until nTrails).map { u =>
      var ts = rnd.nextInt(200).toLong
      val evs = (0 until nEvents).flatMap { _ =>
        ts += 1 + rnd.nextInt(400)
        withCopies(rnd, RawEvent(ts, randomEvent(rnd)))
      }
      s"user$u" -> evs
    })

  /** Subsequent batch under the cut discipline (see class doc). Some uuids
    * sit a batch out; some appear with ONLY late events (zero in-bounds
    * events — the empty-run parity case).
    */
  private def nextBatch(rnd: scala.util.Random, prev: Seq[Db], nTrails: Int): Db = {
    val globalMax = prev.flatMap(_.trails.flatMap(_._2.map(_.ts))).max
    val uuidMax: Map[String, Long] = prev.flatMap(_.trails).groupBy(_._1).view
      .mapValues(_.flatMap(_._2.map(_.ts)).max).toMap
    Db((0 until nTrails).flatMap { u =>
      val uuid = s"user$u"
      // user1 never sits out: it carries the forced ==-boundary event below
      if (u != 1 && rnd.nextInt(5) == 0) None // sits this batch out
      else {
        var ts = globalMax + (if (rnd.nextBoolean()) 0L else rnd.nextInt(100).toLong)
        val lateCeil = uuidMax.getOrElse(uuid, 0L)
        val allLate = rnd.nextInt(6) == 0 && lateCeil > 1
        val evs = (0 until 4 + rnd.nextInt(8)).flatMap { _ =>
          if ((allLate || rnd.nextInt(4) == 0) && lateCeil > 1)
            // strictly below this uuid's own high-water: cut by BOTH engines
            Seq(RawEvent(1L + rnd.nextLong(lateCeil - 1), randomEvent(rnd)))
          else {
            ts += 1 + rnd.nextInt(300)
            withCopies(rnd, RawEvent(ts, randomEvent(rnd)))
          }
        }
        // user1 gets one event at EXACTLY the previous global max — the
        // ==-boundary both cut policies must keep (stream: ts >= uuidMax;
        // LocalRunner: ts >= minTs) — deterministic coverage, not left to
        // the RNG
        val boundary = if (u == 1) Seq(RawEvent(globalMax, randomEvent(rnd))) else Nil
        // keep per-uuid fresh ts strictly increasing AND trail order sorted:
        // late events interleave arbitrarily in real streams, but LocalRunner
        // expects trail order; sort by ts (fresh events are distinct, late
        // ones get dropped by both engines so their ties are unobservable)
        Some(uuid -> (boundary ++ evs).sortBy(_.ts))
      }
    })
  }

  /** Fold the collected emit rows through the batch engine's own
    * aggregation (TrckSparkRunner.aggregateEmits), the sentinel's rows
    * excluded.
    */
  private def aggregate(
      tbl: String, prog: Compiled.CompiledProgram,
      tuples: Vector[ForeachTuple]): LocalRunner.RunOutput =
    TrckSparkRunner.aggregateEmits(prog, tuples,
      spark.table(tbl).filter(col("uuid") =!= Sentinel))

  private def runStream(
      prog: Compiled.CompiledProgram, dbs: Seq[Db], params: Fsm.Bindings,
      tuples: Vector[ForeachTuple], windows: Option[Seq[LocalRunner.WindowEntry]],
      tbl: String): LocalRunner.RunOutput = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, String, String, String)]
    val events = input.toDF().toDF("uuid", "ts", "type", "advertisable_eid", "note")
    // nonzero watermark delay: with delay 0, Spark's stateful late-row
    // filter drops rows at exactly the previous batch's max BEFORE the
    // engine's own cut sees them — the ==-boundary case must be decided by
    // the engine's (reference-aligned, inclusive) cut, which this suite is
    // checking. Late rows further below are dropped by either mechanism —
    // same result, equivalence unaffected.
    val out = TrailStream.emits(prog, events, "uuid", "ts", params = params,
      foreachTuples = tuples, eventTimeGapSec = GapSec,
      watermarkDelay = "5 seconds", windows = windows)
    val query = out.writeStream.format("memory").queryName(tbl).outputMode("append").start()
    try {
      dbs.foreach { db =>
        input.addData(db.trails.flatMap { case (uuid, evs) =>
          evs.map(e => (uuid, e.ts, e.fields("type"),
            e.fields.getOrElse("advertisable_eid", null), e.fields.getOrElse("note", null)))
        }: _*)
        query.processAllAvailable()
      }
      // end-of-input: sentinel batch 1 raises the watermark past every
      // trail's last-event+gap; batch 2 triggers the timeout sweep
      val globalMax = dbs.flatMap(_.trails.flatMap(_._2.map(_.ts))).max
      input.addData((Sentinel, globalMax + GapSec + 1000L, "vis", "", null))
      query.processAllAvailable()
      input.addData((Sentinel, globalMax + GapSec + 2000L, "vis", "", null))
      query.processAllAvailable()
      aggregate(tbl, prog, tuples)
    } finally query.stop()
  }

  for (seed <- Seq(11L, 22L, 33L, 44L, 55L, 66L)) {
    test(s"random program × micro-batch-split equivalence, stream == LocalRunner (seed=$seed)") {
      val rnd = new scala.util.Random(seed)
      val program = randomProgram(rnd)
      val prog = Compiled.compile(program)
      val nBatches = 2 + rnd.nextInt(2)
      val dbs = Seq.iterate(Seq(firstBatch(rnd, 10, 12)), nBatches)(acc =>
        acc :+ nextBatch(rnd, acc, 10)).last
      val params = Fsm.Bindings(
        scalars = Map("p" -> eids(rnd.nextInt(3))),
        sets = Map("ts" -> Set(types(rnd.nextInt(types.length)), types(rnd.nextInt(types.length)))),
      )
      val tuples: Vector[ForeachTuple] =
        if (prog.groupbyVars.isEmpty) Vector(ForeachTuple(Vector.empty))
        else Vector("a1", "a2", "zz").map(v => ForeachTuple(Vector(Left(v))))
      val localTuples = if (prog.groupbyVars.isEmpty) None else Some(tuples)

      val local = LocalRunner.run(prog, dbs, params, localTuples)
      val streamed = runStream(prog, dbs, params, tuples, None, s"fuzz_stream_$seed")

      val grouped = prog.groupbyVars.nonEmpty && !prog.mergeResults
      val localJson = OutputJson.render(local.toOutputs, grouped)
      val streamJson = OutputJson.render(streamed.toOutputs, grouped)
      assert(streamJson == localJson,
        s"seed=$seed nBatches=$nBatches program=${program.rules.mkString("; ")}")
      TrailStreamFuzzSpec.nonTrivial += (if (localJson.replaceAll("[^1-9]", "").nonEmpty) 1 else 0)
    }
  }

  for (seed <- Seq(77L, 88L, 99L)) {
    test(s"random program × window-file × micro-batch-split equivalence (seed=$seed)") {
      val rnd = new scala.util.Random(seed)
      val program = randomProgram(rnd)
      val prog = Compiled.compile(program)
      val dbs0 = Seq(firstBatch(rnd, 10, 12))
      val dbs = dbs0 :+ nextBatch(rnd, dbs0, 10)
      val allMax = dbs.flatMap(_.trails.flatMap(_._2.map(_.ts))).max
      val entries = (0 until 10).flatMap { u =>
        val cookie = s"user$u"
        rnd.nextInt(4) match {
          case 0 => Nil // unlisted → dropped before the stateful operator
          case 1 => Seq(LocalRunner.WindowEntry(cookie, cookie,
            rnd.nextInt(500).toLong, allMax - rnd.nextInt(500)))
          case 2 => Seq(
            LocalRunner.WindowEntry(s"w$u-a", cookie, 0L, (allMax * 2) / 3),
            LocalRunner.WindowEntry(s"w$u-b", cookie, allMax / 3, allMax))
          case 3 => Seq(LocalRunner.WindowEntry(s"w$u", cookie, 0L, 0L))
        }
      } ++ Seq(
        LocalRunner.WindowEntry("ghost", "ghost", 0L, allMax),
        // the sentinel must pass the pre-shuffle listed-cookie semi-join or
        // its rows can't advance the watermark
        LocalRunner.WindowEntry(Sentinel, Sentinel, 0L, 0L),
      )
      val params = Fsm.Bindings(
        scalars = Map("p" -> eids(rnd.nextInt(3))),
        sets = Map("ts" -> Set(types(rnd.nextInt(types.length)))),
      )
      val tuples: Vector[ForeachTuple] =
        if (prog.groupbyVars.isEmpty) Vector(ForeachTuple(Vector.empty))
        else Vector("a1", "zz").map(v => ForeachTuple(Vector(Left(v))))
      val localTuples = if (prog.groupbyVars.isEmpty) None else Some(tuples)

      // LocalRunner must not see the sentinel-only window entry's cookie —
      // it has no events in any db, so it is skipped there anyway
      val ws = LocalRunner.WindowSet(entries)
      val local = LocalRunner.run(prog, dbs, params, localTuples, windows = Some(ws))
      val streamed = runStream(prog, dbs, params, tuples, Some(entries), s"fuzz_stream_win_$seed")

      val grouped = prog.groupbyVars.nonEmpty && !prog.mergeResults
      val localJson = OutputJson.render(local.toOutputs, grouped)
      val streamJson = OutputJson.render(streamed.toOutputs, grouped)
      assert(streamJson == localJson,
        s"seed=$seed program=${program.rules.mkString("; ")}")
    }
  }

  test("streaming fuzz corpus was not vacuous") {
    assert(TrailStreamFuzzSpec.nonTrivial >= 3,
      s"only ${TrailStreamFuzzSpec.nonTrivial} non-trivial runs")
    assert(TrailStreamFuzzSpec.copyKinds == Set(0, 1, 2),
      s"same-ts copy kinds generated: ${TrailStreamFuzzSpec.copyKinds}")
  }
}

object TrailStreamFuzzSpec {
  @volatile var nonTrivial: Int = 0
  @volatile var copyKinds: Set[Int] = Set.empty
}
