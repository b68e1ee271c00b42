package graft

import org.apache.spark.sql.functions._

import graft.engine.TrailEngine
import graft.trck._
import graft.trck.LocalRunner.ForeachTuple

/** The reference's perf fixture re-created on the Spark engine
  * (reference: test/perf/perftest1_db.py — 100k trails × 200 events over
  * 2 DBs, fields advertisable_eid/segment_eid; test/perf/perftest1.tr —
  * implicit `foreach %aeid` counting matching events; harness
  * test/run_perf_test.sh measures wall-clock with OMP_NUM_THREADS=2 and
  * diffs against the generator's analytic counts).
  *
  * Usage: `sbt "runMain graft.PerfFixture [nCookies]"` — generates the
  * events distributively (no driver materialization), runs the same
  * implicit-foreach program through TrailEngine, verifies every counter
  * against the analytic oracle, and prints one timing JSON line.
  */
object PerfFixture {

  /** perftest1.tr re-expressed in IR. */
  val program: Ir.Program = Ir.Program(
    Vector(
      Ir.Rule(Some("start"), None, None, entrypoint = false,
        List(
          Ir.Clause(Map("advertisable_eid" -> List("%aeid")), negated = false, None,
            List(Ir.Yield("$r", Nil))),
          Ir.Clause(Map.empty, negated = false, Some("repeat"), Nil),
        ), None)
    ),
    Some(Ir.GroupBy(List("%aeid"), None, mergeResults = false)),
  )

  def main(args: Array[String]): Unit = {
    val nCookies = args.headOption.map(_.toInt).getOrElse(100000)
    val nEventsPerDb = 100 // × 2 DBs = 200 events/trail (reference config)
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // distributed generation mirroring perftest1_db.py:
    //   seg_eid = (i+1) % 100 + 1 ; adv_eid = j % seg_eid ; two DBs with
    //   base_ts 1000000 / 1100000 — concatenated per-cookie time ranges
    val events = spark
      .range(nCookies.toLong)
      .select(col("id").as("cookie"))
      .withColumn("db", explode(array(lit(0), lit(1))))
      .withColumn("j", explode(sequence(lit(0), lit(nEventsPerDb - 1))))
      .select(
        col("cookie").cast("string").as("uuid"),
        (lit(1000000L) + col("db") * 100000L + col("j")).as("ts"),
        (pmod(col("j"), pmod(col("cookie") + 1, lit(100)) + 1)).cast("string").as("advertisable_eid"),
        (pmod(col("cookie") + 1, lit(100)) + 1).cast("string").as("segment_eid"),
      )
      .repartition(64)
      .persist()
    val nEvents = events.count() // materialize before timing

    val prog = Compiled.compile(program)
    val tuples = ("" +: (0 until 100).map(_.toString).sortBy(identity))
      .map(v => ForeachTuple(Vector(Left(v)))).toVector

    val t0 = System.nanoTime()
    val counters = TrailEngine
      .emits(prog, events, "uuid", "ts", Nil, foreachTuples = Some(tuples))
      .filter(col("kind") === "c")
      .groupBy("tuple_idx")
      .agg(sum("n").as("v"))
      .collect()
      .map(r => r.getInt(0) -> r.getLong(1))
      .toMap
    val secs = (System.nanoTime() - t0) / 1e9

    // analytic oracle (what perftest1_db.py accumulates while generating)
    val expected = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    var i = 0
    while (i < nCookies) {
      val seg = (i + 1) % 100 + 1
      var j = 0
      while (j < nEventsPerDb) { expected(s"${j % seg}") += 2L; j += 1 } // ×2 DBs
      i += 1
    }
    var ok = true
    for ((t, idx) <- tuples.zipWithIndex) {
      val Left(v) = t.items.head: @unchecked
      val exp = if (v.isEmpty) 0L else expected(v)
      val got = counters.getOrElse(idx, 0L)
      if (got != exp) { ok = false; System.err.println(s"MISMATCH aeid=$v got=$got exp=$exp") }
    }

    val trailsPerSec = nCookies / secs
    val eventsPerSec = nEvents / secs
    println(
      s"""{"metric":"perftest1","value":$secs,"unit":"sec","trails":$nCookies,"events":$nEvents,""" +
        s""""trails_per_sec":${trailsPerSec.round},"events_per_sec":${eventsPerSec.round},"correct":$ok}""")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
