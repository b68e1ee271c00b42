package graft.engine

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession
import graft.trck._
import graft.trck.LocalRunner.{Db, ForeachTuple, RawEvent}

/** Distributed ↔ local equivalence: randomized trails run through the
  * Spark TrailEngine must produce exactly the results of the golden-tested
  * LocalRunner (the FSM purity contract — reference:
  * src/match_traildb.c:578-608 — makes this partitioning-independent).
  * Deterministic seeds; programs chosen to exercise windows, transitions,
  * foreach and set/multiset yields.
  */
class EngineEquivalenceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession =
    GraftSession.builder("4").appName("engine-equivalence").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val types = Vector("cli", "imp", "pxl", "ct2")
  private val eids = Vector("a1", "a2", "a3")

  private def randomDb(seed: Long, nTrails: Int, nEvents: Int): Db = {
    val rnd = new scala.util.Random(seed)
    Db((0 until nTrails).map { u =>
      var ts = 0L
      val evs = (0 until nEvents).map { _ =>
        ts += rnd.nextInt(500).toLong // may repeat (equal timestamps)
        RawEvent(ts, Map(
          "type" -> types(rnd.nextInt(types.length)),
          "advertisable_eid" -> eids(rnd.nextInt(eids.length)),
        ))
      }
      s"user$u" -> evs
    })
  }

  private def dbToDf(db: Db) = {
    val s = spark
    import s.implicits._
    db.trails.zipWithIndex.flatMap { case ((uuid, evs), _) =>
      evs.zipWithIndex.map { case (e, i) =>
        (uuid, e.ts, i.toLong, e.fields("type"), e.fields("advertisable_eid"))
      }
    }.toDF("uuid", "ts", "seq", "type", "advertisable_eid")
  }

  /** funnel with a window + set yields + foreach — exercises most machinery */
  private val program = Ir.Program(
    Vector(
      Ir.Rule(Some("start"), None, None, entrypoint = false,
        List(
          Ir.Clause(Map("type" -> List("cli"), "advertisable_eid" -> List("%a")), negated = false,
            Some("break"), List(Ir.Yield("$seen", Nil))),
          Ir.Clause(Map.empty, negated = false, Some("repeat"), Nil),
        ), None),
      Ir.Rule(Some("conv"), Some(1000L), None, entrypoint = false,
        List(
          Ir.Clause(Map("type" -> List("ct2")), negated = false, Some("restart-from-next(0)"),
            List(Ir.Yield("$conv", Nil), Ir.Yield("&convtypes", List(Ir.FieldTerm("type"))))),
          Ir.Clause(Map.empty, negated = false, Some("repeat"), Nil),
        ),
        Some(Ir.Clause(Map.empty, negated = false, Some("restart-from-here(0)"),
          List(Ir.Yield("$expired", Nil))))),
    ),
    Some(Ir.GroupBy(List("%a"), Some("@arr"), mergeResults = false)),
  )

  test("prepared trail layout: emits skips the shuffle, results identical") {
    val prog = Compiled.compile(program)
    val db = randomDb(77L, nTrails = 25, nEvents = 30)
    val tuples = eids.map(e => ForeachTuple(Vector(Left(e)))).toVector
    val df = dbToDf(db)

    def countersOf(em: org.apache.spark.sql.DataFrame) = em
      .filter(col("kind") === "c")
      .groupBy("tuple_idx", "dst").agg(sum("n").as("v"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap

    val normal = TrailEngine.emits(prog, df, "uuid", "ts", Seq("seq"), foreachTuples = Some(tuples))

    val preparedDf = TrailEngine.prepare(df, "uuid", "ts", Seq("seq")).persist()
    preparedDf.count() // materialize the one-time shuffle
    val fast = TrailEngine.emits(
      prog, preparedDf, "uuid", "ts", Seq("seq"), foreachTuples = Some(tuples), prepared = true)

    assert(countersOf(fast) == countersOf(normal))

    // the prepared run's plan must introduce no shuffle of its own — AQE
    // hides exchanges from executedPlan.collect (vacuously empty), so
    // re-plan with it off for the assertion
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val planned = TrailEngine.emits(
        prog, preparedDf, "uuid", "ts", Seq("seq"), foreachTuples = Some(tuples), prepared = true)
      val shuffles = planned.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.isEmpty, s"unexpected shuffles: $shuffles")
      val normalPlanned = TrailEngine.emits(prog, df, "uuid", "ts", Seq("seq"), foreachTuples = Some(tuples))
      val normalShuffles = normalPlanned.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }
      assert(normalShuffles.nonEmpty, "sanity: the unprepared run must show its trail shuffle")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    preparedDf.unpersist()
  }

  test("bucketed-table layout: prepared emits over a saved bucketed table, no shuffle") {
    val prog = Compiled.compile(program)
    val db = randomDb(88L, nTrails = 30, nEvents = 25)
    val tuples = eids.map(e => ForeachTuple(Vector(Left(e)))).toVector
    val df = dbToDf(db)

    def countersOf(em: org.apache.spark.sql.DataFrame) = em
      .filter(col("kind") === "c")
      .groupBy("tuple_idx", "dst").agg(sum("n").as("v"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap

    val normal = TrailEngine.emits(prog, df, "uuid", "ts", Seq("seq"), foreachTuples = Some(tuples))

    // durable layout: align write partitioning with the bucket hash so each
    // bucket is ONE sorted file (multi-file buckets concatenate per-file
    // sorted runs and would break the prepared contract), then force the
    // bucketed scan on read
    val nBuckets = 4
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    spark.sql("DROP TABLE IF EXISTS trails_bucketed")
    df.repartition(nBuckets, col("uuid"))
      .write.bucketBy(nBuckets, "uuid").sortBy("uuid", "ts", "seq")
      .mode("overwrite").saveAsTable("trails_bucketed")
    val table = spark.table("trails_bucketed")
    val fast = TrailEngine.emits(
      prog, table, "uuid", "ts", Seq("seq"), foreachTuples = Some(tuples), prepared = true)

    assert(countersOf(fast) == countersOf(normal))
    // AQE hides exchanges from executedPlan.collect — assert with it off
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val planned = TrailEngine.emits(
        prog, table, "uuid", "ts", Seq("seq"), foreachTuples = Some(tuples), prepared = true)
      val shuffles = planned.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.isEmpty, s"unexpected shuffles: $shuffles")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.sql("DROP TABLE IF EXISTS trails_bucketed")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
  }

  test("multi-source runs: min_ts cut + cross-DB state carry, Spark = local") {
    val prog = Compiled.compile(program)
    val db1 = randomDb(11L, nTrails = 20, nEvents = 25)
    // db2 reuses the same uuids with later (and some boundary/older)
    // timestamps — LocalRunner applies the min_ts cut and carries FSM state
    val rnd = new scala.util.Random(12L)
    val db1Max = db1.trails.flatMap(_._2.map(_.ts)).max
    val db2 = Db(db1.trails.map { case (uuid, _) =>
      var ts = db1Max - 300 // some events fall below the cut
      val evs = (0 until 25).map { _ =>
        ts += rnd.nextInt(500).toLong
        RawEvent(ts, Map(
          "type" -> types(rnd.nextInt(types.length)),
          "advertisable_eid" -> eids(rnd.nextInt(eids.length)),
        ))
      }
      uuid -> evs
    })
    val tuples = eids.map(e => ForeachTuple(Vector(Left(e)))).toVector

    val local = LocalRunner.run(prog, Seq(db1, db2), foreachTuples = Some(tuples))

    val (unioned, cuts) = TrckSparkRunner.unionSources(Seq(dbToDf(db1), dbToDf(db2)), "ts")
    val sparkOut = TrckSparkRunner.runRaw(
      prog, unioned, "uuid", "ts", Seq("seq"), foreachTuples = Some(tuples), srcCuts = cuts)

    val localOut = local.toOutputs
    val gotOut = sparkOut.toOutputs
    assert(gotOut.length == localOut.length)
    for ((l, g) <- localOut.zip(gotOut)) assert(g == l)
  }

  test("merged results register-max HLL sketches across foreach tuples, Spark = local") {
    // merge_results + HLL + tuples yielding DIFFERENT item sets: the merged
    // slot must hold the register-max UNION of the per-tuple sketches (the
    // reference's match_add_results hll_union), not whichever tuple's rows
    // happened to be collected last
    val program = Ir.Program(
      Vector(Ir.Rule(None, None, None, entrypoint = false, List(
        Ir.Clause(Map("advertisable_eid" -> List("%g")), negated = false, Some("repeat"),
          List(Ir.Yield("^h0", List(Ir.FieldTerm("type"))))),
        Ir.Clause(Map.empty, negated = false, Some("repeat"), Nil)), None)),
      Some(Ir.GroupBy(List("%g"), Some("@arr"), mergeResults = true)))
    val prog = Compiled.compile(program)
    // tuple a1 sees types {cli, pxl}, tuple a2 sees {imp, vis} — disjoint
    val db = Db((0 until 10).map { u =>
      s"user$u" -> (0 until 20).map { i =>
        RawEvent(i * 100L + u, Map(
          "type" -> (if (i % 2 == 0) (if (i % 4 == 0) "cli" else "pxl")
                     else (if (i % 4 == 1) "imp" else "vis")),
          "advertisable_eid" -> (if (i % 2 == 0) "a1" else "a2")))
      }
    })
    val tuples = Vector("a1", "a2").map(v => ForeachTuple(Vector(Left(v))))

    val local = LocalRunner.run(prog, Seq(db), foreachTuples = Some(tuples))
    val sparkOut = TrckSparkRunner.runRaw(
      prog, dbToDf(db), "uuid", "ts", Seq("seq"), foreachTuples = Some(tuples))

    // both tuples produced non-empty, different sketches (the merge is real)
    assert(local.results.head.hlls.nonEmpty)
    for ((l, g) <- local.toOutputs.zip(sparkOut.toOutputs)) assert(g == l)
  }

  test("3 sources with non-monotonic maxes: min_ts is an overwrite, not a running max") {
    // reference: min_ts = tdb_max_timestamp(previous db) — db2's max (LOW)
    // replaces db1's (HIGH), so db3 events between them survive; a
    // running-max cut would wrongly drop them
    val prog = Compiled.compile(program)
    def fixedDb(seed: Long, base: Long, span: Int): Db = {
      val rnd = new scala.util.Random(seed)
      Db((0 until 10).map { u =>
        var ts = base
        val evs = (0 until 12).map { _ =>
          ts += 1 + rnd.nextInt(span)
          RawEvent(ts, Map(
            "type" -> types(rnd.nextInt(types.length)),
            "advertisable_eid" -> eids(rnd.nextInt(eids.length)),
          ))
        }
        s"user$u" -> evs
      })
    }
    val db1 = fixedDb(1L, 0L, 800)      // max ≈ several thousand (HIGH)
    val db2 = fixedDb(2L, 0L, 50)       // max ≈ few hundred (LOW) — mostly cut
    val db3 = fixedDb(3L, 400L, 300)    // straddles db2's max, below db1's
    val tuples = eids.map(e => ForeachTuple(Vector(Left(e)))).toVector

    val local = LocalRunner.run(prog, Seq(db1, db2, db3), foreachTuples = Some(tuples))

    val (unioned, cuts) = TrckSparkRunner.unionSources(
      Seq(dbToDf(db1), dbToDf(db2), dbToDf(db3)), "ts")
    val sparkOut = TrckSparkRunner.runRaw(
      prog, unioned, "uuid", "ts", Seq("seq"), foreachTuples = Some(tuples), srcCuts = cuts)

    val localOut = local.toOutputs
    val gotOut = sparkOut.toOutputs
    assert(gotOut.length == localOut.length)
    for ((l, g) <- localOut.zip(gotOut)) assert(g == l)
  }

  test("window-file runs: per-entry ctx, cookie-keyed state, single finalization, Spark = local") {
    // window rule + `after` yield: finalization fires per COOKIE, not per
    // window entry; Y5 bound yields + ctx-cookie echoes pin the per-entry
    // ctx values; the multiset counts per-entry replication exactly
    val program = Ir.Program(
      Vector(
        Ir.Rule(None, None, None, entrypoint = false,
          List(
            Ir.Clause(Map("type" -> List("cli")), negated = false, Some("break"),
              List(
                Ir.Yield("$n", Nil),
                Ir.Yield("#cookies", List(Ir.FieldTerm("cookie"), Ir.FieldTerm("type"))),
                Ir.Yield("#bounds", List(
                  Ir.FieldTerm("cookie"),
                  Ir.FieldTerm("cookie_timestamp_filter_start"),
                  Ir.FieldTerm("cookie_timestamp_filter_end"))),
                Ir.Yield("&seen", List(Ir.FieldTerm("type"))),
              )),
            Ir.Clause(Map.empty, negated = false, Some("repeat"), Nil),
          ), None),
        Ir.Rule(None, Some(700L), None, entrypoint = false,
          List(Ir.Clause(Map.empty, negated = false, Some("repeat"), Nil)),
          Some(Ir.Clause(Map.empty, negated = false, Some("restart-from-here(0)"),
            List(Ir.Yield("$expired", Nil), Ir.Yield("#excookie", List(Ir.FieldTerm("cookie"))))))),
      ),
      None,
    )
    val prog = Compiled.compile(program)
    val db = randomDb(99L, nTrails = 10, nEvents = 20)
    val maxTs = db.trails.flatMap(_._2.map(_.ts)).max
    // user0 gets TWO windows (separate ctxs with their own ids), user1 one
    // window without id (cookie echoes as itself), user2 an empty window;
    // everyone else is unlisted and must drop; one entry has no trail
    val ws = LocalRunner.WindowSet(Seq(
      LocalRunner.WindowEntry("w-a", "user0", 0L, maxTs / 2),
      LocalRunner.WindowEntry("w-b", "user0", maxTs / 3, maxTs),
      LocalRunner.WindowEntry("user1", "user1", 100L, maxTs),
      LocalRunner.WindowEntry("w-c", "user2", maxTs + 10, maxTs + 20),
      LocalRunner.WindowEntry("w-d", "ghost", 0L, maxTs),
    ))

    val local = LocalRunner.run(prog, Seq(db), windows = Some(ws))
    val sparkOut = TrckSparkRunner.run(
      prog, dbToDf(db), "uuid", "ts", Seq("seq"),
      filters = TrckSparkRunner.EngineFilters(windows = Some(ws)))

    val localOut = local.toOutputs
    assert(sparkOut.length == localOut.length)
    for (k <- localOut.head.keys) assert(sparkOut.head(k) == localOut.head(k), s"key $k")
  }

  test("window-file + multi-source: min_ts clamps the per-entry ctx, Spark = local") {
    val program = Ir.Program(
      Vector(
        Ir.Rule(None, None, None, entrypoint = false,
          List(
            Ir.Clause(Map.empty, negated = false, Some("repeat"),
              List(
                Ir.Yield("$n", Nil),
                Ir.Yield("#bounds", List(
                  Ir.FieldTerm("cookie"),
                  Ir.FieldTerm("cookie_timestamp_filter_start"),
                  Ir.FieldTerm("cookie_timestamp_filter_end"))),
              )),
          ), None),
      ),
      None,
    )
    val prog = Compiled.compile(program)
    val db1 = randomDb(55L, nTrails = 8, nEvents = 15)
    val db1Max = db1.trails.flatMap(_._2.map(_.ts)).max
    val rnd = new scala.util.Random(56L)
    val db2 = Db(db1.trails.map { case (uuid, _) =>
      var ts = db1Max - 200
      uuid -> (0 until 12).map { _ =>
        ts += rnd.nextInt(300).toLong
        RawEvent(ts, Map(
          "type" -> types(rnd.nextInt(types.length)),
          "advertisable_eid" -> eids(rnd.nextInt(eids.length)),
        ))
      }
    })
    val db2Max = db2.trails.flatMap(_._2.map(_.ts)).max
    val ws = LocalRunner.WindowSet(Seq(
      LocalRunner.WindowEntry("w-a", "user0", 0L, db2Max),
      LocalRunner.WindowEntry("w-b", "user1", 50L, db2Max - 100),
      LocalRunner.WindowEntry("user2", "user2", 0L, 0L),
    ))

    val local = LocalRunner.run(prog, Seq(db1, db2), windows = Some(ws))
    val (unioned, cuts) = TrckSparkRunner.unionSources(Seq(dbToDf(db1), dbToDf(db2)), "ts")
    val sparkOut = TrckSparkRunner.run(
      prog, unioned, "uuid", "ts", Seq("seq"),
      filters = TrckSparkRunner.EngineFilters(windows = Some(ws)), srcCuts = cuts)

    val localOut = local.toOutputs
    for (k <- localOut.head.keys) assert(sparkOut.head(k) == localOut.head(k), s"key $k")
  }

  test("dedup once per source segment: bounds, source boundary, negative ts, ghost rows, Spark = local") {
    // Spark drops consecutive duplicates once per source segment and then
    // slices each window entry by ts; LocalRunner filters per entry first.
    // Duplicates share a ts, so the two agree at every bound.
    val program = Ir.Program(
      Vector(Ir.Rule(None, None, None, entrypoint = false, List(
        Ir.Clause(Map.empty, negated = false, Some("repeat"), List(
          Ir.Yield("$n", Nil),
          Ir.Yield("&seen", List(Ir.FieldTerm("type"))),
          Ir.Yield("#bounds", List(
            Ir.FieldTerm("cookie"),
            Ir.FieldTerm("cookie_timestamp_filter_start"),
            Ir.FieldTerm("cookie_timestamp_filter_end"))))),
      ), None)),
      None,
    )
    val prog = Compiled.compile(program)
    def ev(ts: Long, t: String, e: String) = RawEvent(ts, Map("type" -> t, "advertisable_eid" -> e))
    // equal-ts groups hold only identical events, so the order the sort
    // picks among them cannot matter
    val db1 = Db(Seq(
      // a duplicate pair at an entry's start (kept once) and one at its
      // end (both excluded)
      "edge" -> Seq(ev(100, "cli", "a1"), ev(100, "cli", "a1"), ev(150, "imp", "a2"),
        ev(200, "pxl", "a1"), ev(200, "pxl", "a1")),
      // its last event is duplicated as the first event of source 2, at
      // exactly the min_ts cut: one per source, both kept
      "span" -> Seq(ev(400, "imp", "a1"), ev(500, "cli", "a2")),
      // negative timestamps under an unbounded entry
      "neg" -> Seq(ev(-100, "cli", "a3"), ev(-100, "cli", "a3"), ev(-50, "imp", "a3")),
    ))
    val db2 = Db(Seq("span" -> Seq(ev(500, "cli", "a2"), ev(600, "ct2", "a1"))))
    val ws = LocalRunner.WindowSet(Seq(
      LocalRunner.WindowEntry("w-edge", "edge", 100L, 200L),
      LocalRunner.WindowEntry("w-edge2", "edge", 150L, 0L),
      LocalRunner.WindowEntry("span", "span", 0L, 0L),
      LocalRunner.WindowEntry("neg", "neg", 0L, 0L),
    ))
    def toDf(db: Db) = {
      val s = spark
      import s.implicits._
      db.trails.flatMap { case (uuid, evs) =>
        evs.map(e => (uuid, e.ts, e.fields("type"), e.fields("advertisable_eid")))
      }.toDF("uuid", "ts", "type", "advertisable_eid")
    }

    val local = LocalRunner.run(prog, Seq(db1, db2), windows = Some(ws))
    // edge 2 + 2, span 2 + 2, neg 2 (hand count; 13 without elision)
    assert(local.results.head.counters("n") == 10L)
    val (unioned, cuts) = TrckSparkRunner.unionSources(Seq(toDf(db1), toDf(db2)), "ts")
    val sparkOut = TrckSparkRunner.runRaw(prog, unioned, "uuid", "ts",
      filters = TrckSparkRunner.EngineFilters(windows = Some(ws)), srcCuts = cuts)
    assert(sparkOut.toOutputs == local.toOutputs)

    // a presence sentinel sitting between two duplicates: a hand-ordered
    // prepared layout (one partition, order kept) pins that position
    val ghostDb = Db(Seq("g" -> Seq(ev(0, "cli", "a1"), ev(0, "cli", "a1"), ev(10, "imp", "a2"))))
    val s = spark
    import s.implicits._
    val layout = Seq[(String, Long, String, String, Int)](
      ("g", 0L, "cli", "a1", 0), ("g", 0L, null, null, 1), ("g", 0L, "cli", "a1", 0),
      ("g", 10L, "imp", "a2", 0),
    ).toDF("uuid", "ts", "type", "advertisable_eid", "__ghost").coalesce(1)
    val ghostLocal = LocalRunner.run(prog, Seq(ghostDb))
    assert(ghostLocal.results.head.counters("n") == 2L)
    val ghostSpark = TrckSparkRunner.runRaw(prog, layout, "uuid", "ts", prepared = true)
    assert(ghostSpark.toOutputs == ghostLocal.toOutputs)
  }

  for (seed <- Seq(1L, 7L, 42L)) {
    test(s"engine matches local runner (seed=$seed)") {
      val prog = Compiled.compile(program)
      val db = randomDb(seed, nTrails = 30, nEvents = 40)
      val tuples = eids.map(e => ForeachTuple(Vector(Left(e))))

      val local = LocalRunner.run(prog, Seq(db), foreachTuples = Some(tuples.toVector))

      val em = TrailEngine.emits(
        prog, dbToDf(db), "uuid", "ts", Seq("seq"), foreachTuples = Some(tuples.toVector))

      // counters per tuple
      val engineCounters = em
        .filter(col("kind") === "c")
        .groupBy("tuple_idx", "dst").agg(sum("n").as("v"))
        .collect()
        .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
      for ((t, j) <- tuples.zipWithIndex; (name, v) <- local.results(j).counters)
        assert(engineCounters.getOrElse((j, name), 0L) == v,
          s"counter $name tuple $j: engine=${engineCounters.get((j, name))} local=$v")

      // multisets per tuple
      val engineMsets = em
        .filter(col("kind") === "m")
        .groupBy("tuple_idx", "dst", "item").agg(sum("n").as("v"))
        .collect()
        .map(r => (r.getInt(0), r.getString(1), r.getAs[Array[Byte]]("item").toSeq) -> r.getLong(3))
        .toMap
      for ((t, j) <- tuples.zipWithIndex; (name, m) <- local.results(j).msets; (k, c) <- m)
        assert(engineMsets.getOrElse((j, name, k.toSeq), 0L) == c,
          s"mset $name tuple $j key ${k.toSeq}")
      assert(engineMsets.size == tuples.indices.flatMap(j => local.results(j).msets.toSeq.flatMap(_._2)).size)
    }
  }
}
