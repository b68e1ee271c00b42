package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, encode}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession
import graft.engine.TrckQueries
import graft.functions.HllAggregator
import graft.trck.Compiled

/** Streaming FSM: state must carry across micro-batches exactly as the
  * reference carries state across sequential TrailDBs.
  */
class TrailStreamSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession =
    GraftSession.builder("2").appName("trail-stream-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("streaming HLL sketches merge across micro-batches to the exact batch bytes") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    // trck-format distinct-user sketch per event type: the aggregator's
    // register-max merge folds each micro-batch into the group's state
    def hllByType(events: DataFrame): DataFrame =
      events.groupBy(col("event_type"))
        .agg(HllAggregator.trckHllHex(encode(col("user_id").cast("string"), "UTF-8")).as("hll_hex"))
    // overlapping user sets across batches: the merged sketch must count
    // each distinct user once, and the hex must equal one-shot batch agg
    val batch1 = (1 to 60).map(u => ("click", u.toLong)) ++ (1 to 20).map(u => ("view", u.toLong))
    val batch2 = (30 to 90).map(u => ("click", u.toLong)) ++ (10 to 25).map(u => ("view", u.toLong))
    val input = MemoryStream[(String, Long)]
    val events = input.toDF().toDF("event_type", "user_id")
    val query = hllByType(events)
      .writeStream.format("memory").queryName("hll_out").outputMode("complete").start()
    try {
      input.addData(batch1: _*)
      query.processAllAvailable()
      input.addData(batch2: _*)
      query.processAllAvailable()
      val streamed = spark.sql("SELECT event_type, hll_hex FROM hll_out")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val oneShot = hllByType((batch1 ++ batch2).toDF("event_type", "user_id"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(streamed == oneShot,
        "micro-batch-merged sketches must be byte-identical to one batch aggregation")
      // and the estimates are sane: 90 distinct click users, 25 view users
      val est = streamed.view.mapValues(h => HllAggregator.estimate(h)).toMap
      assert(math.abs(est("click") - 90) <= 3 && math.abs(est("view") - 25) <= 2, est)
    } finally query.stop()
  }

  test("funnel conversion spanning two micro-batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val prog = Compiled.compile(TrckQueries.funnelProgram)
    val input = MemoryStream[(String, Long, String)]
    val events = input.toDF().toDF("uuid", "ts", "event_type")

    val out = TrailStream.emits(prog, events, "uuid", "ts")
    val query = out.writeStream
      .format("memory")
      .queryName("fsm_out")
      .outputMode("append")
      .start()

    try {
      // batch 1: signup only — FSM moves to rule 1, no emission
      input.addData(("u1", 100L, "signup"), ("u2", 100L, "view"))
      query.processAllAvailable()
      assert(spark.sql("SELECT * FROM fsm_out WHERE kind = 'c'").count() == 0)

      // batch 2: purchase for u1 — resumed state converts
      input.addData(("u1", 200L, "purchase"), ("u2", 200L, "view"))
      query.processAllAvailable()
      val rows = spark.sql("SELECT uuid, dst, n FROM fsm_out WHERE kind = 'c'").collect()
      assert(rows.length == 1)
      assert(rows.head.getString(0) == "u1" && rows.head.getString(1) == "conv" && rows.head.getLong(2) == 1L)

      // late event below the high-water mark is cut (reference min_ts)
      input.addData(("u2", 150L, "purchase"))
      query.processAllAvailable()
      assert(spark.sql("SELECT * FROM fsm_out WHERE kind = 'c'").count() == 1)
    } finally query.stop()
  }

  test("window-file run: streaming micro-batches match LocalRunner on the same DBs") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.trck._
    import graft.trck.LocalRunner.{Db, RawEvent, WindowEntry, WindowSet}

    // count "conv" events; window entries bound which events each ctx sees
    val program = Ir.Program(Vector(
      Ir.Rule(None, None, None, entrypoint = false, List(
        Ir.Clause(Map("event_type" -> List("conv")), negated = false, Some("repeat"),
          List(Ir.Yield("$conv", Nil))),
        Ir.Clause(Map.empty, negated = false, Some("repeat"), Nil)), None)), None)
    val prog = Compiled.compile(program)

    // u1: two disjoint window entries; u2: one entry; u9 unlisted (dropped)
    val ws = WindowSet(Seq(
      WindowEntry("e1", "u1", 100L, 1000L),
      WindowEntry("e2", "u1", 2000L, 3000L),
      WindowEntry("e3", "u2", 0L, 0L),
    ))
    // batch 1 / DB 1 events, then batch 2 / DB 2 events
    val b1 = Seq(("u1", 150L, "conv"), ("u1", 500L, "conv"), ("u1", 1500L, "conv"),
      ("u2", 200L, "conv"), ("u9", 100L, "conv"))
    val b2 = Seq(("u1", 2500L, "conv"), ("u2", 2600L, "other"), ("u9", 2700L, "conv"))
    def db(evs: Seq[(String, Long, String)]) = Db(
      evs.groupBy(_._1).toSeq.sortBy(_._1).map { case (u, es) =>
        u -> es.sortBy(_._2).map(e => RawEvent(e._2, Map("event_type" -> e._3)))
      })
    // reference result: two sequential DBs, min_ts cut in between
    val local = LocalRunner.run(prog, Seq(db(b1), db(b2)), windows = Some(ws))
    val expected = local.results.head.counters.toMap

    val input = MemoryStream[(String, Long, String)]
    val events = input.toDF().toDF("uuid", "ts", "event_type")
    val out = TrailStream.emits(prog, events, "uuid", "ts", windows = Some(ws.entries))
    val query = out.writeStream
      .format("memory").queryName("fsm_win_out").outputMode("append").start()
    try {
      input.addData(b1: _*)
      query.processAllAvailable()
      input.addData(b2: _*)
      query.processAllAvailable()
      val streamed = spark.sql("SELECT dst, sum(n) FROM fsm_win_out WHERE kind = 'c' GROUP BY dst")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(streamed == expected, s"streamed $streamed != local $expected")
      // unlisted u9 must never reach the stateful operator
      assert(spark.sql("SELECT * FROM fsm_win_out WHERE uuid = 'u9'").count() == 0)
      // batch-engine parity: emit rows are keyed by the window ENTRY id,
      // so u1's two entries stay distinguishable downstream
      val keys = spark.sql("SELECT DISTINCT uuid FROM fsm_win_out")
        .collect().map(_.getString(0)).toSet
      assert(keys.subsetOf(Set("e1", "e2", "e3")), s"expected entry-id keys, got $keys")
      assert(keys.contains("e1") && keys.contains("e2"), keys.toString)
    } finally query.stop()
  }

  test("consecutive-dup elision compares the FULL event, not just program fields") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    // count every "click"; the two ts=100 events differ ONLY in a column
    // the program never references — the reference compares the whole item
    // array (src/ctx.c:112-131), so BOTH count; a third truly identical
    // event IS elided, and so is one differing only by null vs "" (both
    // read as the empty value, as in the batch engine and LocalRunner)
    val prog = Compiled.compile(TrckQueries.countProgram)
    val input = MemoryStream[(String, Long, String, String)]
    val events = input.toDF().toDF("uuid", "ts", "event_type", "session_id")
    val query = TrailStream.emits(prog, events, "uuid", "ts")
      .writeStream.format("memory").queryName("fsm_dedup_out").outputMode("append").start()
    try {
      input.addData(
        ("u1", 100L, "click", "s1"),
        ("u1", 100L, "click", "s2"), // differs only in session_id → kept
        ("u1", 100L, "click", "s2"), // true consecutive duplicate → elided
        ("u1", 200L, "click", "s2"),
        ("u1", 300L, "click", null),
        ("u1", 300L, "click", "")) // null vs "" only → elided
      query.processAllAvailable()
      val n = spark.sql("SELECT sum(n) FROM fsm_dedup_out WHERE kind = 'c'").head.getLong(0)
      assert(n == 4L, s"expected 4 clicks (dups elided, session-diff kept), got $n")
    } finally query.stop()
  }

  test("a foreach program needs tuples that bind every foreach var") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.trck.LocalRunner.ForeachTuple
    // with the default tuple %aeid is unbound, every `= %aeid` reads
    // false, and a stream has no lexicon to sweep: refuse it, naming the var
    val prog = Compiled.compile(graft.parser.TrParser.parse(
      """foreach %aeid
        |    start ->
        |        receive
        |            advertisable_eid = %aeid -> yield $r, repeat
        |            * -> repeat
        |""".stripMargin))
    val events = MemoryStream[(String, Long, String)].toDF().toDF("uuid", "ts", "advertisable_eid")
    val e = intercept[IllegalArgumentException](TrailStream.emits(prog, events, "uuid", "ts"))
    assert(e.getMessage.contains("%aeid"), e.getMessage)
    // a binding tuple is accepted, and the rows are in the batch format
    val bound = TrailStream.emits(prog, events, "uuid", "ts",
      foreachTuples = Vector(ForeachTuple(Vector(Left("a1")))))
    assert(bound.columns.toSeq == Seq("uuid", "tuple_idx", "kind", "dst", "item", "n"))
  }

  test("event-time timeout finalizes trails once the watermark passes") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    // windowed program whose only yield is in the `after` clause — it fires
    // solely at window expiry / finalization, the part that needs the
    // event-time timeout
    import graft.trck.Ir
    val program = Ir.Program(
      Vector(
        Ir.Rule(None, None, None, entrypoint = false,
          List(
            Ir.Clause(Map("event_type" -> List("signup")), negated = false, Some("break"), Nil),
            Ir.Clause(Map.empty, negated = false, Some("repeat"), Nil),
          ), None),
        Ir.Rule(None, Some(1800L), None, entrypoint = false,
          List(Ir.Clause(Map.empty, negated = false, Some("repeat"), Nil)),
          Some(Ir.Clause(Map.empty, negated = false, Some("quit"),
            List(Ir.Yield("$expired", Nil))))),
      ),
      None,
    )
    val prog = Compiled.compile(program)
    val input = MemoryStream[(String, Long, String)]
    val events = input.toDF().toDF("uuid", "ts", "event_type")

    val out = TrailStream.emits(
      prog, events, "uuid", "ts", eventTimeGapSec = 60L)
    val query = out.writeStream
      .format("memory")
      .queryName("fsm_evt_out")
      .outputMode("append")
      .start()

    try {
      // u1 enters the window (signup), nothing converts
      input.addData(("u1", 1000L, "signup"))
      query.processAllAvailable()
      assert(spark.sql("SELECT * FROM fsm_evt_out WHERE kind = 'c'").count() == 0)

      // advance event time far past u1's last event + gap via another uuid;
      // the next batch's watermark triggers u1's event-time timeout
      input.addData(("u2", 20000L, "view"))
      query.processAllAvailable()
      input.addData(("u2", 30000L, "view"))
      query.processAllAvailable()

      val rows = spark.sql("SELECT uuid, dst FROM fsm_evt_out WHERE kind = 'c'").collect()
      assert(rows.exists(r => r.getString(0) == "u1"),
        s"expected u1 finalization yield, got ${rows.mkString(",")}")
    } finally query.stop()
  }

  test("streaming gap sessions: cross-batch merge, watermark close, batch equality") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import java.sql.Timestamp
    def ts(sec: Long) = new Timestamp(sec * 1000L)

    // user 1: three events within the gap SPLIT ACROSS micro-batches (the
    // session must merge), then a second session 20h later; user 99 is
    // the watermark pusher whose own session stays open (not emitted).
    val t0 = 1700000000L
    val b1 = Seq((1L, ts(t0), "click"), (1L, ts(t0 + 3600), "purchase"))
    val b2 = Seq((1L, ts(t0 + 7200), "view"), (1L, ts(t0 + 72000), "purchase"))
    val flush = Seq((99L, ts(t0 + 360000), "click"))

    val input = MemoryStream[(Long, Timestamp, String)]
    val events = input.toDF().toDF("user_id", "ts", "event_type")
    val query = TrailStream.sessionsByGap(events)
      .writeStream.format("memory").queryName("sess_out").outputMode("append").start()
    try {
      input.addData(b1: _*); query.processAllAvailable()
      input.addData(b2: _*); query.processAllAvailable()
      input.addData(flush: _*); query.processAllAvailable()
      val streamed = spark.sql(
        "SELECT user_id, n_events, n_purchases FROM sess_out ORDER BY session_start")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      // session 1: the three cross-batch events merged; session 2: the
      // lone purchase 20h later; user 99's open session absent
      assert(streamed == Seq((1L, 3L, 1L), (1L, 1L, 1L)), streamed.toString)
      // batch ≡ stream: the same expression one-shot over all closed rows
      val oneShot = TrailStream.sessionsByGap((b1 ++ b2).toDF("user_id", "ts", "event_type"))
        .orderBy("session_start")
        .collect().map(r => (r.getAs[Long]("user_id"),
          r.getAs[Long]("n_events"), r.getAs[Long]("n_purchases"))).toSeq
      assert(oneShot == streamed, s"stream $streamed != batch $oneShot")
    } finally query.stop()
  }

  test("session boundary agreement: native session_window merges at the equality instant, like the batch rule") {
    val s = spark
    import s.implicits._
    import java.sql.Timestamp
    // two events exactly gap apart: session_window merges at the equality
    // instant (an event at prev+gap still lands in [prev, prev+gap]) and
    // splits beyond it — the SAME boundary rule as
    // TrailAnalytics.sessions (split iff the gap is strictly exceeded),
    // so the streaming twin needs no bridging.
    val rows = Seq((1L, new Timestamp(1000000L * 1000), "click"),
      (1L, new Timestamp((1000000L + 10) * 1000), "click"))
    val atGap = TrailStream.sessionsByGap(
      rows.toDF("user_id", "ts", "event_type"), gap = "10 seconds")
    assert(atGap.count() == 1, "session_window: equality instant merges")
    val beyondGap = TrailStream.sessionsByGap(
      rows.toDF("user_id", "ts", "event_type"), gap = "9 seconds")
    assert(beyondGap.count() == 2, "session_window: strictly-exceeded gap splits")
    val batchRule = graft.queries.TrailAnalytics.sessions(
      rows.toDF("user_id", "ts", "event_type")
        .withColumn("ts_sec", org.apache.spark.sql.functions.col("ts").cast("long"))
        .withColumn("event_id", org.apache.spark.sql.functions.monotonically_increasing_id()),
      gapSec = 10L)
    assert(batchRule.count() == 1, "batch rule: equal gap stays in one session")
  }

  test("asOfJoin fails loudly on payload/left column collisions") {
    val s = spark
    import s.implicits._
    val left = Seq((1L, 10L, "x")).toDF("user_id", "ts_sec", "tag")
    val right = Seq((1L, 5L, "y")).toDF("user_id", "o_sec", "tag")
    val e = intercept[IllegalArgumentException] {
      graft.queries.TrailAnalytics.asOfJoin(
        left, right, "user_id", "ts_sec", "o_sec", Seq("tag"))
    }
    assert(e.getMessage.contains("payload columns"), e.getMessage)
  }

  test("asOfEnrichStatic == batch asOfJoin (at-or-before, tie-break, lookback, no-match)") {
    val s = spark
    import s.implicits._
    // events: at-or-before hit (ts 100), exact-equality hit (ts 50),
    // before-everything miss (ts 5), lookback-expired miss (user 3),
    // key-absent miss (user 9)
    val left = Seq(
      (1L, 100L, 10L), (1L, 50L, 11L), (1L, 5L, 12L),
      (2L, 100L, 13L), (3L, 500L, 14L), (9L, 100L, 15L),
    ).toDF("user_id", "ts_sec", "event_id")
    // dimension with a same-second TIE on user 2 (ids 22 < 23: the unique
    // id first in payload must make 23 win) and an old version for user 3
    val dim = Seq(
      (1L, 50L, 21L, "lo"), (1L, 90L, 20L, "hi"),
      (2L, 40L, 22L, "tie_lo"), (2L, 40L, 23L, "tie_hi"),
      (3L, 100L, 24L, "old"),
    ).toDF("user_id", "o_sec", "o_id", "o_tag")
    val lookback = Some(300L)
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select("user_id", "ts_sec", "event_id", "o_id", "o_tag")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)), Option(r.get(4)))).toSet
    val batch = norm(graft.queries.TrailAnalytics.asOfJoin(
      left, dim, "user_id", "ts_sec", "o_sec", Seq("o_id", "o_tag"), lookback))
    val enrich = norm(TrailStream.asOfEnrichStatic(
      left, dim, "user_id", "ts_sec", "o_sec", Seq("o_id", "o_tag"), lookback))
    assert(enrich == batch, s"enrich $enrich != batch $batch")
    // the fixture exercises every leg: hit, tie, and the three miss modes
    assert(batch.exists { case (u, _, _, oid, _) => u == 2L && oid.contains(23L) },
      "tie must break to the larger unique id")
    assert(batch.count(_._4.isEmpty) == 3, s"expected 3 null matches in $batch")

    // batch ≡ stream: the same expression over a MemoryStream, microbatched
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Long)]
    val out = TrailStream.asOfEnrichStatic(
      input.toDF().toDF("user_id", "ts_sec", "event_id"),
      dim, "user_id", "ts_sec", "o_sec", Seq("o_id", "o_tag"), lookback)
    val query = out.writeStream.format("memory").queryName("asof_out")
      .outputMode("append").start()
    try {
      input.addData((1L, 100L, 10L), (1L, 50L, 11L), (1L, 5L, 12L))
      query.processAllAvailable()
      input.addData((2L, 100L, 13L), (3L, 500L, 14L), (9L, 100L, 15L))
      query.processAllAvailable()
      val streamed = norm(spark.sql("SELECT * FROM asof_out"))
      assert(streamed == batch, s"streamed $streamed != batch $batch")
    } finally query.stop()
  }

  test("asOfEnrichStatic fails loudly on a hot dimension key") {
    val s = spark
    import s.implicits._
    val left = Seq((1L, 10L, 1L)).toDF("user_id", "ts_sec", "event_id")
    val dim = (0 until 50).map(i => (1L, i.toLong, i.toLong))
      .toDF("user_id", "o_sec", "o_id")
    val e = intercept[IllegalArgumentException] {
      TrailStream.asOfEnrichStatic(left, dim, "user_id", "ts_sec", "o_sec",
        Seq("o_id"), maxVersionsPerKey = 10L)
    }
    assert(e.getMessage.contains("maxVersionsPerKey"), e.getMessage)
  }
}
