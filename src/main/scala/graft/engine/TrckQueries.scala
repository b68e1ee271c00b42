package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.trck._
import graft.trck.Ir._
import graft.trck.LocalRunner.ForeachTuple

/** FSM-backed queries over the events table — the trck programs from the
  * reference's README/tests re-run through the distributed TrailEngine,
  * each with a DuckDB oracle derived from the FSM's semantics (for these
  * program shapes FSM ≡ a relational query, which is exactly what makes
  * them verifiable).
  */
object TrckQueries {

  /** events prepped for trail matching: uuid, epoch-second ts, event_type;
    * event_id kept as order tiebreak and dedup uniqueness.
    */
  private[graft] def trailEvents(s: SparkSession, dir: String): DataFrame =
    Tables
      .events(s, dir)
      .select(
        col("user_id").cast("string").as("uuid"),
        col("ts_sec"),
        col("event_type"),
        col("event_id"),
      )

  private val SEC = "CAST(floor(epoch(ts)) AS BIGINT)"

  /** Shared prepared trail layout per sf dir — [[TrailEngine.prepare]] run
    * once and persisted, the amortize-the-shuffle step repeated trail
    * queries are built around. Bench warms it before timing, so the
    * m1_fsm_count vs m1_fsm_count_prepared delta exposes exactly the
    * per-query shuffle+sort the layout's visible partitioning and order
    * eliminate.
    */
  private val preparedCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  def preparedTrailEvents(s: SparkSession, dir: String): DataFrame =
    // keyed per session instance, not just dir: in a shared test JVM a
    // later session reusing the dir must not receive a DataFrame bound to
    // an earlier (possibly stopped) session
    preparedCache.computeIfAbsent(s"${System.identityHashCode(s)}:$dir", _ => {
      val df = TrailEngine
        .prepare(trailEvents(s, dir), "uuid", "ts_sec", Seq("event_id"))
        .persist()
      df.count() // materialize the one-time shuffle
      df
    })

  /** Conf key for the durable layout's storage root (default
    * `/tmp/graft_durable`); on a cluster point it at a lake path.
    */
  val DurableRootKey = "graft.durable.root"

  private val durableCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** Durable bucketed trail layout per sf dir: a `bucketBy(uuid)
    * .sortBy(uuid, ts, seq)` table on storage, written once per (session,
    * dir) and re-read by later sessions with no executor memory pinned.
    * Its bucketed scan reports the uuid partitioning, so a trail query over
    * it plans no exchange (the write aligns task partitioning with the
    * bucket hash, one file per bucket).
    *
    * Staleness contract: the layout is rebuilt only when the SESSION
    * catalog lacks the table — that is the point of a durable layout
    * (cross-session amortization; a fresh session's in-memory catalog is
    * empty, so it overwrites from the current source files). If the
    * source parquet changes UNDER a live session, the cached table keeps
    * serving the old rows until the caller drops it
    * (`spark.sql("DROP TABLE …")`) or starts a new session — the same
    * semantics as any saved table over mutable files.
    */
  def durableTrailEvents(s: SparkSession, dir: String): DataFrame = {
    val root = s.conf.getOption(DurableRootKey).getOrElse("/tmp/graft_durable")
    // root participates in BOTH the cache key and the table name: a live
    // session re-pointing graft.durable.root must build (and read) a new
    // table at the new root, not silently keep serving the old files
    durableCache.computeIfAbsent(s"${System.identityHashCode(s)}:$root:$dir", _ => {
      // table name from the SANITIZED FULL PATHS, not a hash: one session
      // may build durable layouts for several dirs, and a hash collision
      // would silently serve the wrong corpus
      def sanitize(p: String) = p.stripSuffix("/")
        .map(c => if (c.isLetterOrDigit) c else '_').dropWhile(_ == '_')
      val tbl = "trails_durable_" + (
        if (root == "/tmp/graft_durable") sanitize(dir) // r10-r12 layout name kept
        else sanitize(root) + "__" + sanitize(dir))
      val nBuckets = 32
      if (!s.catalog.tableExists(tbl))
        trailEvents(s, dir)
          .repartition(nBuckets, col("uuid"))
          .write.bucketBy(nBuckets, "uuid").sortBy("uuid", "ts_sec", "event_id")
          .option("path", s"$root/$tbl")
          .mode("overwrite").saveAsTable(tbl)
      s.table(tbl)
    })
  }

  private def clause(attrs: Map[String, List[String]], action: String, yields: List[Yield] = Nil) =
    Clause(attrs, negated = false, Some(action), yields)

  private def rule(clauses: List[Clause], window: Option[Long] = None, after: Option[Clause] = None) =
    Rule(None, window, None, entrypoint = false, clauses, after)

  /** Flagship single-block counter (reference: README.md:133-138 shape). */
  val countProgram: Program = Program(
    Vector(
      rule(List(
        clause(Map("event_type" -> List("click")), "repeat", List(Yield("$clicks", Nil))),
        clause(Map.empty, "repeat"),
      ))
    ),
    None,
  )

  /** signup → later purchase funnel (M1 multi-rule transition). */
  val funnelProgram: Program = Program(
    Vector(
      rule(List(
        clause(Map("event_type" -> List("signup")), "break"),
        clause(Map.empty, "repeat"),
      )),
      rule(List(
        clause(Map("event_type" -> List("purchase")), "quit", List(Yield("$conv", Nil))),
        clause(Map.empty, "repeat"),
      )),
    ),
    None,
  )

  /** count events inside the 30-minute window opened by the first event
    * (M2 `after` timeout semantics).
    */
  val windowProgram: Program = Program(
    Vector(
      rule(List(clause(Map.empty, "break", List(Yield("$in", Nil))))),
      rule(
        List(clause(Map.empty, "repeat", List(Yield("$in", Nil)))),
        window = Some(1800L),
        after = Some(clause(Map.empty, "quit")),
      ),
    ),
    None,
  )

  /** merge_results + HLL through the FULL runner result fold — the exact
    * combination whose register-max merge was silently an overwrite until
    * round 8 (no golden or oracle case reached it; EngineEquivalenceSpec
    * pins the unit-level fix, this query keeps it oracle-gated). Yields the
    * TIMESTAMPS of matching events so the two foreach tuples produce
    * materially different sketches: an overwrite regression estimates ~one
    * type's count and lands far outside the ±4% envelope.
    */
  val mergedHllProgram: Program = Program(
    Vector(
      rule(List(
        clause(Map("event_type" -> List("%t")), "repeat",
          List(Yield("^hts", List(FieldTerm("timestamp"))))),
        clause(Map.empty, "repeat"),
      ))
    ),
    Some(GroupBy(List("%t"), Some("@arr"), mergeResults = true)),
  )

  /** F4 dedicated: clause predicate `field = "literal"` (reference:
    * src/fsm2c.py:120-123 compile_attr_equality, literal arm).
    */
  val eqLitProgram: Program = Program(
    Vector(
      rule(List(
        clause(Map("event_type" -> List("view")), "repeat", List(Yield("$views", Nil))),
        clause(Map.empty, "repeat"),
      ))
    ),
    None,
  )

  /** F5 dedicated: clause predicate `field = %param` with a bound scalar
    * (reference: src/fsm2c.py:124-127, param arm — no foreach involved).
    */
  val eqParamProgram: Program = Program(
    Vector(
      rule(List(
        clause(Map("event_type" -> List("%t")), "repeat", List(Yield("$matched", Nil))),
        clause(Map.empty, "repeat"),
      ))
    ),
    None,
  )

  /** foreach %t over an explicit param array (G1). */
  val foreachProgram: Program = Program(
    Vector(
      rule(List(
        clause(Map("event_type" -> List("%t")), "repeat", List(Yield("$n", Nil))),
        clause(Map.empty, "repeat"),
      ))
    ),
    Some(GroupBy(List("%t"), Some("@arr"), mergeResults = false)),
  )

  /** implicit foreach lexicon sweep (G2). */
  val implicitForeachProgram: Program = foreachProgram.copy(
    groupby = Some(GroupBy(List("%t"), None, mergeResults = false))
  )

  val queries: Seq[Q] = Seq(
    // A4: trck-format HLL sketch of distinct users per event type. No SQL
    // oracle (DuckDB cannot produce the trck sketch format) → rows-only
    // check; byte-level parity is pinned by HllParitySpec.
    Q(
      "a4_hll_distinct_users",
      (s, dir) => {
        import graft.functions.HllAggregator
        val ev = Tables.events(s, dir)
          .select(col("event_type"), col("user_id").cast("string").as("uuid"))
        val item = ev.withColumn(
          "item",
          encode(col("uuid"), "UTF-8"),
        )
        item
          .groupBy("event_type")
          .agg(HllAggregator.trckHllHex(col("item")).as("hll_hex"))
          .withColumn("est", round(graft.functions.HllAggregator.estimateUdf(col("hll_hex"))))
          .orderBy("event_type")
      },
      None,
    ),
    // A4 estimate twin: the sketch HEX itself is structurally un-oracle-able
    // (DuckDB can't produce the trck format), but the ESTIMATE is checkable
    // against the exact COUNT(DISTINCT …): per event type, assert the HLL
    // estimate lands within ±4% ≈ 5σ of the p=14 standard error
    // (1.04/√2¹⁴ ≈ 0.81%) — wide enough that a regenerated fixture or new
    // scale factor can't trip it by estimator luck (at 2.5σ, ~15 groups
    // would carry a ~19% chance of one spurious failure), tight enough to
    // catch any real estimator break (register/bias-table bugs show up as
    // tens of percent; exact parity is pinned register-level by
    // HllParitySpec). Tolerance runs in Spark so the oracle row is a
    // deterministic (event_type, n_exact, TRUE) — an end-to-end
    // hash-compared guard on the estimator (reference behavior:
    // test/tr/test_hll_result.tr).
    Q(
      "a4_hll_estimate_check",
      (s, dir) => {
        import graft.functions.HllAggregator
        val ev = Tables.events(s, dir)
          .select(col("event_type"), col("user_id").cast("string").as("uuid"))
        // two-level exact count: dedup the (type, uuid) pairs first (one
        // hash aggregate with map-side partials), then a plain count —
        // mixing countDistinct with the sketch aggregate made Catalyst
        // route the whole scan through an Expand (2× rows into the first
        // aggregate). Feeding the HLL the deduped pairs is byte-identical
        // to feeding it every event: register-max insertion is idempotent
        // on duplicates. The null filter preserves countDistinct semantics
        // (and the oracle's COUNT(DISTINCT …)): distinct() would keep a
        // (type, NULL) row that count(1) then counts. The aggregated rows
        // then left-join back to the UNFILTERED event_type set — an
        // event_type whose uuids are all NULL must still emit (n_exact=0,
        // estimate 0 ≙ the empty sketch), exactly like the oracle's GROUP
        // BY over all events; filtering before groupBy dropped the group.
        val agged = ev.filter(col("uuid").isNotNull).distinct()
          .groupBy("event_type")
          .agg(
            HllAggregator.trckHllHex(encode(col("uuid"), "UTF-8")).as("hll_hex"),
            count(lit(1)).cast("long").as("n_exact"))
        // null-safe (<=>) join: a NULL event_type group (kept by the
        // oracle's GROUP BY) must re-join its aggregate row — Spark's
        // equi-join would drop the NULL key and misreport n_exact=0
        ev.select("event_type").distinct()
          .join(agged.withColumnRenamed("event_type", "__et"),
            col("event_type") <=> col("__et"), "left")
          .drop("__et")
          .withColumn("n_exact", coalesce(col("n_exact"), lit(0L)))
          .withColumn("within_tol",
            abs(coalesce(HllAggregator.estimateUdf(col("hll_hex")), lit(0.0)) - col("n_exact")) <=
              lit(0.04) * greatest(col("n_exact"), lit(1L)))
          .select(col("event_type"), col("n_exact"), col("within_tol"))
          .orderBy("event_type")
      },
      Some("""
        SELECT event_type,
               CAST(COUNT(DISTINCT CAST(user_id AS VARCHAR)) AS BIGINT) AS n_exact,
               TRUE AS within_tol
        FROM events GROUP BY event_type ORDER BY event_type"""),
    ),
    // A4/A6/G3 combined: merged-results HLL union through the runner's
    // driver-side fold (see mergedHllProgram). Tolerance evaluated in
    // Spark; the oracle hash-compares a deterministic (n_exact, TRUE) row.
    Q(
      "a4_hll_merged_check",
      (s, dir) => {
        import s.implicits._
        val prog = Compiled.compile(mergedHllProgram)
        val tuples = Vector("click", "purchase").map(v => ForeachTuple(Vector(Left(v))))
        val out = TrckSparkRunner.runRaw(
          prog, trailEvents(s, dir), "uuid", "ts_sec", Seq("event_id"),
          foreachTuples = Some(tuples))
        val est = out.results.head.hlls.get("hts").map(_.estimate).getOrElse(0.0)
        val nExact = Tables.events(s, dir)
          .filter(col("event_type").isin("click", "purchase"))
          .select(countDistinct(col("ts_sec")).as("n")).head.getLong(0)
        Seq((nExact, math.abs(est - nExact) <= 0.04 * math.max(nExact, 1L).toDouble))
          .toDF("n_exact", "within_tol")
      },
      Some(s"""
        SELECT CAST(COUNT(DISTINCT $SEC) AS BIGINT) AS n_exact, TRUE AS within_tol
        FROM events WHERE event_type IN ('click', 'purchase')"""),
    ),
    Q(
      "m1_fsm_count",
      (s, dir) => {
        val prog = Compiled.compile(countProgram)
        val em = TrailEngine.emits(prog, trailEvents(s, dir), "uuid", "ts_sec", Seq("event_id"))
        em.filter(col("kind") === "c")
          .agg(sum("n").cast("long").as("n_clicks"))
      },
      Some("SELECT COUNT(*) AS n_clicks FROM events WHERE event_type = 'click'"),
    ),
    // m1 over the shared prepared layout: identical results (same oracle),
    // zero per-query shuffle before the final aggregation — the registered,
    // bench-visible form of the prepared layout (the plan-level no-shuffle,
    // no-sort shape is pinned in EngineEquivalenceSpec and PlanAuditSpec).
    Q(
      "m1_fsm_count_prepared",
      (s, dir) => {
        val prog = Compiled.compile(countProgram)
        val em = TrailEngine.emits(
          prog, preparedTrailEvents(s, dir), "uuid", "ts_sec", Seq("event_id"))
        em.filter(col("kind") === "c")
          .agg(sum("n").cast("long").as("n_clicks"))
      },
      Some("SELECT COUNT(*) AS n_clicks FROM events WHERE event_type = 'click'"),
    ),
    // m1 over the DURABLE bucketed layout: same results and oracle as
    // m1_fsm_count, but the shuffle-free trail partitioning comes from a
    // saved bucketBy(uuid).sortBy(uuid, ts, seq) table read cold from
    // storage — the cross-session amortization shape a 100 TB deployment
    // runs (no executor memory pinned, nothing rebuilt per session). The
    // bench-visible delta vs m1_fsm_count measures what the durable
    // layout buys; vs m1_fsm_count_prepared, what memory-resident persist
    // adds on top.
    Q(
      "m1_fsm_count_durable",
      (s, dir) => {
        val prog = Compiled.compile(countProgram)
        val em = TrailEngine.emits(
          prog, durableTrailEvents(s, dir), "uuid", "ts_sec", Seq("event_id"))
        em.filter(col("kind") === "c")
          .agg(sum("n").cast("long").as("n_clicks"))
      },
      Some("SELECT COUNT(*) AS n_clicks FROM events WHERE event_type = 'click'"),
    ),
    // F4 by the letter: the literal-equality predicate alone drives the count.
    Q(
      "f4_eq_lit",
      (s, dir) => {
        val prog = Compiled.compile(eqLitProgram)
        val em = TrailEngine.emits(prog, trailEvents(s, dir), "uuid", "ts_sec", Seq("event_id"))
        em.filter(col("kind") === "c")
          .agg(sum("n").cast("long").as("n_views"))
      },
      Some("SELECT COUNT(*) AS n_views FROM events WHERE event_type = 'view'"),
    ),
    // F5 by the letter: the same predicate through a BOUND scalar param.
    Q(
      "f5_eq_param",
      (s, dir) => {
        val prog = Compiled.compile(eqParamProgram)
        val em = TrailEngine.emits(
          prog, trailEvents(s, dir), "uuid", "ts_sec", Seq("event_id"),
          params = Fsm.Bindings(scalars = Map("t" -> "purchase")))
        em.filter(col("kind") === "c")
          .agg(sum("n").cast("long").as("n_matched"))
      },
      Some("SELECT COUNT(*) AS n_matched FROM events WHERE event_type = 'purchase'"),
    ),
    Q(
      "m1_fsm_funnel",
      (s, dir) => {
        val prog = Compiled.compile(funnelProgram)
        val em = TrailEngine.emits(prog, trailEvents(s, dir), "uuid", "ts_sec", Seq("event_id"))
        // count CONVERTED uuids directly: counters only increment and the
        // emit stream skips zeros, so "summed conv counter > 0" ≡ "any conv
        // emission" ≡ distinct uuid over the filtered rows. This keeps the
        // shuffle to the converted minority (map-side partial distinct)
        // instead of countersByUuid's (uuid, dst) aggregation over every
        // trail's counter rows — the fold that matters at 1000× trails.
        em.filter(col("kind") === "c" && col("dst") === "conv")
          .agg(countDistinct(col("uuid")).as("n_converted"))
      },
      Some(s"""
        WITH o AS (
          SELECT user_id, event_type,
                 row_number() OVER (PARTITION BY user_id ORDER BY $SEC, event_id) AS seq
          FROM events
        ),
        s AS (
          SELECT user_id, MIN(seq) AS first_signup FROM o
          WHERE event_type = 'signup' GROUP BY user_id
        )
        SELECT COUNT(*) AS n_converted FROM s
        WHERE EXISTS (SELECT 1 FROM o
                      WHERE o.user_id = s.user_id AND o.event_type = 'purchase'
                        AND o.seq > s.first_signup)"""),
    ),
    // funnel over the SAME shared prepared layout as m1_fsm_count_prepared:
    // one prepare amortizes across the whole workload — each extra consumer
    // skips its per-query shuffle+sort entirely (identical oracle).
    Q(
      "m1_fsm_funnel_prepared",
      (s, dir) => {
        val prog = Compiled.compile(funnelProgram)
        val em = TrailEngine.emits(
          prog, preparedTrailEvents(s, dir), "uuid", "ts_sec", Seq("event_id"))
        // same converted-minority fold as m1_fsm_funnel (see its comment)
        em.filter(col("kind") === "c" && col("dst") === "conv")
          .agg(countDistinct(col("uuid")).as("n_converted"))
      },
      Some(s"""
        WITH o AS (
          SELECT user_id, event_type,
                 row_number() OVER (PARTITION BY user_id ORDER BY $SEC, event_id) AS seq
          FROM events
        ),
        s AS (
          SELECT user_id, MIN(seq) AS first_signup FROM o
          WHERE event_type = 'signup' GROUP BY user_id
        )
        SELECT COUNT(*) AS n_converted FROM s
        WHERE EXISTS (SELECT 1 FROM o
                      WHERE o.user_id = s.user_id AND o.event_type = 'purchase'
                        AND o.seq > s.first_signup)"""),
    ),
    Q(
      "m2_fsm_window",
      (s, dir) => {
        val prog = Compiled.compile(windowProgram)
        val em = TrailEngine.emits(prog, trailEvents(s, dir), "uuid", "ts_sec", Seq("event_id"))
        TrailEngine
          .countersByUuid(em)
          .select(col("uuid").cast("long").as("uuid"), col("value").as("n_in_window30"))
          .orderBy("uuid")
      },
      Some(s"""
        WITH m AS (SELECT user_id, MIN($SEC) AS t0 FROM events GROUP BY user_id)
        SELECT e.user_id AS uuid, COUNT(*) AS n_in_window30
        FROM events e JOIN m ON e.user_id = m.user_id
        WHERE $SEC < m.t0 + 1800
        GROUP BY e.user_id ORDER BY uuid"""),
    ),
    // third consumer of the shared layout: the M2 window program (its
    // `after` finalization path runs over a layout that holds only
    // events).
    Q(
      "m2_fsm_window_prepared",
      (s, dir) => {
        val prog = Compiled.compile(windowProgram)
        val em = TrailEngine.emits(
          prog, preparedTrailEvents(s, dir), "uuid", "ts_sec", Seq("event_id"))
        TrailEngine
          .countersByUuid(em)
          .select(col("uuid").cast("long").as("uuid"), col("value").as("n_in_window30"))
          .orderBy("uuid")
      },
      Some(s"""
        WITH m AS (SELECT user_id, MIN($SEC) AS t0 FROM events GROUP BY user_id)
        SELECT e.user_id AS uuid, COUNT(*) AS n_in_window30
        FROM events e JOIN m ON e.user_id = m.user_id
        WHERE $SEC < m.t0 + 1800
        GROUP BY e.user_id ORDER BY uuid"""),
    ),
    Q(
      "g1_fsm_foreach",
      (s, dir) => {
        val prog = Compiled.compile(foreachProgram)
        val tuples = Vector("click", "purchase", "signup").map(v => ForeachTuple(Vector(Left(v))))
        val em = TrailEngine.emits(
          prog, trailEvents(s, dir), "uuid", "ts_sec", Seq("event_id"),
          foreachTuples = Some(tuples))
        TrailEngine
          .counters(em, prog, tuples)
          .select(col("t").as("param_t"), col("value"))
          .orderBy("param_t")
      },
      Some("""
        SELECT param_t, COUNT(*) AS value
        FROM events
        JOIN (VALUES ('click'), ('purchase'), ('signup')) p(param_t)
          ON event_type = param_t
        GROUP BY param_t ORDER BY param_t"""),
    ),
    Q(
      "g2_fsm_implicit_foreach",
      (s, dir) => {
        val prog = Compiled.compile(implicitForeachProgram)
        val ev = trailEvents(s, dir)
        val tuples = TrailEngine.runTuples(prog, None, ev)
        val em = TrailEngine.emits(
          prog, ev, "uuid", "ts_sec", Seq("event_id"), foreachTuples = Some(tuples))
        TrailEngine
          .counters(em, prog, tuples)
          .select(col("t"), col("value"))
          .orderBy("t")
      },
      Some("""
        SELECT event_type AS t, COUNT(*) AS value
        FROM events GROUP BY event_type ORDER BY t"""),
    ),
  )
}
