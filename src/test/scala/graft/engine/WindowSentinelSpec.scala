package graft.engine

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession
import graft.parser.TrParser
import graft.trck._
import graft.trck.LocalRunner.{Db, RawEvent}

/** A listed cookie whose events are ALL outside its window bounds (or all
  * CNF-removed) must still run the per-entry loop and finalization: the
  * reference iterates the window list against DB trails, not surviving
  * events (src/match_traildb.c:513-560), and an empty run mutates state
  * whenever the entrypoint chain enters outer window-block rules — the
  * outer expiry is pushed at ts 0, so finalization at MAX_TIMESTAMP fires
  * the block's `after` yields. The Spark path keeps such a trail present
  * through its own rows: runRaw marks each row its cut, CNF or window
  * bounds drop as a `__ghost` row, which the reader never treats as an
  * event, so presence is judged before the min_ts cut of a multi-source
  * run, and any uuid-clustered layout holding only events serves.
  */
class WindowSentinelSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession =
    GraftSession.builder("4").appName("window-sentinel").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // entrypoint is a nested window block: an empty run falls through the
  // outer marker and PUSHES mid's window at ts 0 → finalization fires
  // mid's after-yield ($midexp)
  private val nestedWindowProgram = TrParser.parse(
    """start ->
      |    window
      |        mid ->
      |            window
      |                inner ->
      |                    receive
      |                        type = "conv" -> yield $conv, quit
      |                        * -> repeat
      |            after 100s -> yield $midexp, quit
      |    after 300s -> yield $outerexp, quit
      |""".stripMargin)

  private def dbToDf(db: Db) = {
    val s = spark
    import s.implicits._
    db.trails.flatMap { case (uuid, evs) =>
      evs.zipWithIndex.map { case (e, i) => (uuid, e.ts, i.toLong, e.fields("type")) }
    }.toDF("uuid", "ts", "seq", "type")
  }

  private def render(out: LocalRunner.RunOutput): String =
    OutputJson.render(out.toOutputs, grouped = false)

  test("emptyRunMutates probe: true for window-block entry, false for plain rules") {
    assert(TrailMatcher.emptyRunMutates(Compiled.compile(nestedWindowProgram)))
    val plain = Ir.Program(Vector(
      Ir.Rule(None, None, None, entrypoint = false, List(
        Ir.Clause(Map("type" -> List("conv")), negated = false, Some("repeat"),
          List(Ir.Yield("$conv", Nil))),
        Ir.Clause(Map.empty, negated = false, Some("repeat"), Nil)), None)), None)
    assert(!TrailMatcher.emptyRunMutates(Compiled.compile(plain)))
  }

  test("window run: listed cookie with zero in-bounds events still finalizes") {
    val prog = Compiled.compile(nestedWindowProgram)
    val db = Db(Seq(
      "u1" -> Seq(RawEvent(500L, Map("type" -> "x")), RawEvent(600L, Map("type" -> "conv"))),
      "u2" -> Seq(RawEvent(5000L, Map("type" -> "x")), RawEvent(6000L, Map("type" -> "conv"))),
    ))
    val ws = LocalRunner.WindowSet(Seq(
      LocalRunner.WindowEntry("u1", "u1", 100L, 1000L),
      LocalRunner.WindowEntry("u2", "u2", 100L, 1000L), // u2: everything out of bounds
    ))
    val local = LocalRunner.run(prog, Seq(db), windows = Some(ws))
    // u2's empty per-entry run must be visible in the output
    assert(local.results.head.counters("midexp") >= 1L)
    val engine = TrckSparkRunner.runRaw(
      prog, dbToDf(db), "uuid", "ts", Seq("seq"),
      filters = TrckSparkRunner.EngineFilters(windows = Some(ws)))
    assert(render(engine) == render(local))
  }

  test("CNF filtering away every event of a trail still finalizes (no windows)") {
    val prog = Compiled.compile(nestedWindowProgram)
    val db = Db(Seq(
      "u1" -> Seq(RawEvent(500L, Map("type" -> "conv"))),
      "u2" -> Seq(RawEvent(500L, Map("type" -> "x")), RawEvent(900L, Map("type" -> "y"))),
    ))
    val cnf = LocalRunner.CnfFilter(Seq(Seq(("type", "conv", true))))
    val local = LocalRunner.run(prog, Seq(db), cnf = Some(cnf))
    assert(local.results.head.counters("midexp") >= 1L) // u2 empty-run contribution
    val df = dbToDf(db)
    val engine = TrckSparkRunner.runRaw(
      prog, df, "uuid", "ts", Seq("seq"),
      filters = TrckSparkRunner.EngineFilters(cnf = TrckSparkRunner.cnfColumn(cnf.clauses, df)))
    assert(render(engine) == render(local))
  }

  test("pre-cut presence covers a source fully below its min_ts cut") {
    // u2 exists ONLY in source 2, and all its source-2 events fall below
    // source 1's max timestamp (the min_ts cut) — the reference still runs
    // db2's empty per-entry loop for u2 (state mutates, finalization
    // emits). runRaw judges presence before it applies the cut, so plain
    // unionSources output is enough.
    val prog = Compiled.compile(nestedWindowProgram)
    val db1 = Db(Seq("u1" -> Seq(RawEvent(5000L, Map("type" -> "x")))))
    val db2 = Db(Seq(
      "u1" -> Seq(RawEvent(6000L, Map("type" -> "x"))),
      "u2" -> Seq(RawEvent(1000L, Map("type" -> "x"))), // all below the 5000 cut
    ))
    val ws = LocalRunner.WindowSet(Seq(
      LocalRunner.WindowEntry("u1", "u1", 0L, 0L),
      LocalRunner.WindowEntry("u2", "u2", 0L, 0L),
    ))
    val local = LocalRunner.run(prog, Seq(db1, db2), windows = Some(ws))
    assert(local.results.head.counters("midexp") >= 2L, "u2's empty run must contribute")
    val (unioned, cuts) = TrckSparkRunner.unionSources(Seq(dbToDf(db1), dbToDf(db2)), "ts")
    val engine = TrckSparkRunner.runRaw(
      prog, unioned, "uuid", "ts", Seq("seq"),
      filters = TrckSparkRunner.EngineFilters(windows = Some(ws)), srcCuts = cuts)
    assert(render(engine) == render(local))
  }

  test("pre-cut presence also covers NON-window multi-source runs (empty-run programs)") {
    // same fully-cut-source shape, no window file: the reference still
    // iterates db2's trail list and runs u2's empty trail, whose state
    // mutation is observable because the entrypoint enters window blocks
    val prog = Compiled.compile(nestedWindowProgram)
    val db1 = Db(Seq("u1" -> Seq(RawEvent(5000L, Map("type" -> "x")))))
    val db2 = Db(Seq(
      "u1" -> Seq(RawEvent(6000L, Map("type" -> "x"))),
      "u2" -> Seq(RawEvent(1000L, Map("type" -> "x"))),
    ))
    val local = LocalRunner.run(prog, Seq(db1, db2))
    assert(local.results.head.counters("midexp") >= 2L)
    val (unioned, cuts) = TrckSparkRunner.unionSources(Seq(dbToDf(db1), dbToDf(db2)), "ts")
    val engine = TrckSparkRunner.runRaw(
      prog, unioned, "uuid", "ts", Seq("seq"), srcCuts = cuts)
    assert(render(engine) == render(local))
  }

  test("prepared layout: window run with zero in-bounds events matches LocalRunner") {
    // same shape as the unprepared window test, but through a
    // TrailEngine.prepare layout — u2's rows, all out of bounds, must keep
    // its empty per-entry loop + finalization running (byte-identical
    // output), with no per-query shuffle
    val prog = Compiled.compile(nestedWindowProgram)
    val db = Db(Seq(
      "u1" -> Seq(RawEvent(500L, Map("type" -> "x")), RawEvent(600L, Map("type" -> "conv"))),
      "u2" -> Seq(RawEvent(5000L, Map("type" -> "x")), RawEvent(6000L, Map("type" -> "conv"))),
    ))
    val ws = LocalRunner.WindowSet(Seq(
      LocalRunner.WindowEntry("u1", "u1", 100L, 1000L),
      LocalRunner.WindowEntry("u2", "u2", 100L, 1000L), // u2: everything out of bounds
    ))
    val local = LocalRunner.run(prog, Seq(db), windows = Some(ws))
    assert(local.results.head.counters("midexp") >= 1L)
    val preparedDf = TrailEngine.prepare(dbToDf(db), "uuid", "ts", Seq("seq")).persist()
    preparedDf.count()
    val engine = TrckSparkRunner.runRaw(
      prog, preparedDf, "uuid", "ts", Seq("seq"),
      filters = TrckSparkRunner.EngineFilters(windows = Some(ws)))
    assert(render(engine) == render(local))
    preparedDf.unpersist()
  }

  test("prepared layout: CNF filtering away every event still finalizes") {
    val prog = Compiled.compile(nestedWindowProgram)
    val db = Db(Seq(
      "u1" -> Seq(RawEvent(500L, Map("type" -> "conv"))),
      "u2" -> Seq(RawEvent(500L, Map("type" -> "x")), RawEvent(900L, Map("type" -> "y"))),
    ))
    val cnf = LocalRunner.CnfFilter(Seq(Seq(("type", "conv", true))))
    val local = LocalRunner.run(prog, Seq(db), cnf = Some(cnf))
    assert(local.results.head.counters("midexp") >= 1L)
    val preparedDf = TrailEngine.prepare(dbToDf(db), "uuid", "ts", Seq("seq")).persist()
    preparedDf.count()
    val engine = TrckSparkRunner.runRaw(
      prog, preparedDf, "uuid", "ts", Seq("seq"),
      filters = TrckSparkRunner.EngineFilters(
        cnf = TrckSparkRunner.cnfColumn(cnf.clauses, preparedDf)))
    assert(render(engine) == render(local))
    preparedDf.unpersist()
  }

  test("prepared multi-source layout with pre-cut presence matches LocalRunner") {
    // the fully-cut-source case through a prepared layout: the uncut union
    // is its own presence, and runRaw applies the cut over the layout
    val prog = Compiled.compile(nestedWindowProgram)
    val db1 = Db(Seq("u1" -> Seq(RawEvent(5000L, Map("type" -> "x")))))
    val db2 = Db(Seq(
      "u1" -> Seq(RawEvent(6000L, Map("type" -> "x"))),
      "u2" -> Seq(RawEvent(1000L, Map("type" -> "x"))), // all below the 5000 cut
    ))
    val ws = LocalRunner.WindowSet(Seq(
      LocalRunner.WindowEntry("u1", "u1", 0L, 0L),
      LocalRunner.WindowEntry("u2", "u2", 0L, 0L),
    ))
    val local = LocalRunner.run(prog, Seq(db1, db2), windows = Some(ws))
    val (unioned, cuts) = TrckSparkRunner.unionSources(Seq(dbToDf(db1), dbToDf(db2)), "ts")
    val preparedDf = TrailEngine.prepare(unioned, "uuid", "ts", Seq("seq")).persist()
    preparedDf.count()
    val engine = TrckSparkRunner.runRaw(
      prog, preparedDf, "uuid", "ts", Seq("seq"),
      filters = TrckSparkRunner.EngineFilters(windows = Some(ws)),
      srcCuts = cuts)
    assert(render(engine) == render(local))
    preparedDf.unpersist()
  }

  test("durable bucketed layout: window run matches LocalRunner") {
    // prepare → bucketed table → runRaw window run at the default
    // autoBucketedScan, empty-trail cookie included
    val prog = Compiled.compile(nestedWindowProgram)
    val db = Db(Seq(
      "u1" -> Seq(RawEvent(500L, Map("type" -> "x")), RawEvent(600L, Map("type" -> "conv"))),
      "u2" -> Seq(RawEvent(5000L, Map("type" -> "conv"))), // out of bounds below
    ))
    val ws = LocalRunner.WindowSet(Seq(
      LocalRunner.WindowEntry("u1", "u1", 100L, 1000L),
      LocalRunner.WindowEntry("u2", "u2", 100L, 1000L),
    ))
    val local = LocalRunner.run(prog, Seq(db), windows = Some(ws))
    val nBuckets = 2
    spark.sql("DROP TABLE IF EXISTS trails_ghost_bucketed")
    TrailEngine.prepare(dbToDf(db), "uuid", "ts", Seq("seq"))
      .repartition(nBuckets, org.apache.spark.sql.functions.col("uuid"))
      .write.bucketBy(nBuckets, "uuid").sortBy("uuid", "ts", "seq")
      .mode("overwrite").saveAsTable("trails_ghost_bucketed")
    try {
      val engine = TrckSparkRunner.runRaw(
        prog, spark.table("trails_ghost_bucketed"), "uuid", "ts", Seq("seq"),
        filters = TrckSparkRunner.EngineFilters(windows = Some(ws)))
      assert(render(engine) == render(local))
    } finally spark.sql("DROP TABLE IF EXISTS trails_ghost_bucketed")
  }

  test("hand-rolled uuid-clustered layout without __ghost: window and CNF runs match LocalRunner") {
    val prog = Compiled.compile(nestedWindowProgram)
    val db = Db(Seq(
      "u1" -> Seq(RawEvent(500L, Map("type" -> "x")), RawEvent(600L, Map("type" -> "conv"))),
      "u2" -> Seq(RawEvent(5000L, Map("type" -> "x")), RawEvent(6000L, Map("type" -> "conv"))),
      "u3" -> Seq(RawEvent(700L, Map("type" -> "y"))),
    ))
    // a plain clustered layout: no prepare, no __ghost column
    val bare = dbToDf(db).repartition(org.apache.spark.sql.functions.col("uuid"))
      .sortWithinPartitions("uuid", "ts", "seq").persist()
    try {
      assert(!bare.columns.contains("__ghost"))
      // u2: every event out of bounds
      val ws = LocalRunner.WindowSet(Seq(
        LocalRunner.WindowEntry("u1", "u1", 100L, 1000L),
        LocalRunner.WindowEntry("u2", "u2", 100L, 1000L),
      ))
      val localWs = LocalRunner.run(prog, Seq(db), windows = Some(ws))
      assert(localWs.results.head.counters("midexp") >= 1L)
      val engineWs = TrckSparkRunner.runRaw(
        prog, bare, "uuid", "ts", Seq("seq"),
        filters = TrckSparkRunner.EngineFilters(windows = Some(ws)))
      assert(render(engineWs) == render(localWs))
      // u3: every event CNF-removed
      val cnf = LocalRunner.CnfFilter(Seq(Seq(("type", "y", false))))
      val localCnf = LocalRunner.run(prog, Seq(db), cnf = Some(cnf))
      assert(localCnf.results.head.counters("midexp") >= 1L)
      val engineCnf = TrckSparkRunner.runRaw(
        prog, bare, "uuid", "ts", Seq("seq"),
        filters = TrckSparkRunner.EngineFilters(cnf = TrckSparkRunner.cnfColumn(cnf.clauses, bare)))
      assert(render(engineCnf) == render(localCnf))
    } finally bare.unpersist()
  }

  test("multi-source window run keeps per-source presence for empty segments") {
    val prog = Compiled.compile(nestedWindowProgram)
    val db1 = Db(Seq(
      "u1" -> Seq(RawEvent(500L, Map("type" -> "conv"))),
      "u2" -> Seq(RawEvent(5000L, Map("type" -> "x"))),
    ))
    val db2 = Db(Seq(
      "u1" -> Seq(RawEvent(6000L, Map("type" -> "x"))),
      "u2" -> Seq(RawEvent(7000L, Map("type" -> "x"))),
    ))
    val ws = LocalRunner.WindowSet(Seq(
      LocalRunner.WindowEntry("u1", "u1", 100L, 1000L),
      LocalRunner.WindowEntry("u2", "u2", 100L, 1000L),
    ))
    val local = LocalRunner.run(prog, Seq(db1, db2), windows = Some(ws))
    val (unioned, cuts) = TrckSparkRunner.unionSources(Seq(dbToDf(db1), dbToDf(db2)), "ts")
    val engine = TrckSparkRunner.runRaw(
      prog, unioned, "uuid", "ts", Seq("seq"),
      filters = TrckSparkRunner.EngineFilters(windows = Some(ws)), srcCuts = cuts)
    assert(render(engine) == render(local))
  }
}
