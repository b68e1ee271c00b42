package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{Q, Tables}

/** Trail analytics — the relational companions to the FSM matcher over the
  * same event trails the reference processes (trails = per-cookie
  * time-ordered event lists, reference: src/match_traildb.c:384-390 trail
  * iteration order). Where trck answers "did this trail match a program?",
  * these answer the session/cohort/attribution questions every trail store
  * is ultimately asked, each as ONE declarative Catalyst plan:
  *
  *  - gap sessionization (lag + running-sum window — the standard
  *    session-id assignment, e.g. Kimball's sessionization pattern),
  *  - weekly cohort retention (first-touch cohort ⋈ activity weeks),
  *  - last-touch attribution and a general AS-OF JOIN — the operator the
  *    builder brief names as one Spark lacks. Implemented with the
  *    union-tag + running-max trick rather than a range join: tag right
  *    rows 0 and left rows 1, sort each key's rows by (ts, tag), and the
  *    running MAX of the right-side payload struct at a left row IS its
  *    as-of match. One shuffle per side on the join key, no per-row range
  *    probing, no interval explosion — the shape survives 100 TB because
  *    it degenerates to a single sort-merge pass per key.
  *  - a bucketed INTERVAL JOIN (sessions × events-in-interval) — the
  *    explode-to-time-buckets + equi-join + exact-range refilter plan that
  *    replaces the cartesian a naive `BETWEEN` join would produce.
  *
  * Determinism contract (driver hash-compares values): all times are epoch
  * seconds (`ts_sec` vs DuckDB `floor(epoch(ts))`), all durations/weeks are
  * integer arithmetic (`div` vs `//` on non-negative longs), as-of ties
  * break by the payload struct order whose second field is a unique id,
  * money goes through DECIMAL(18,2), and every result is totally ordered.
  */
object TrailAnalytics {
  private val dec = DecimalType(18, 2)

  /** Session gap: a trail splits where consecutive events are more than 6h
    * apart (chosen so the 30-day test trails form multi-event sessions;
    * the p25 inter-event gap is ~3h, the median ~7h).
    */
  val GapSec = 21600L

  /** Attribution lookback: a purchase credits its most recent touch only
    * within 7 days.
    */
  val LookbackSec = 604800L

  private val WeekSec = 604800L

  /** Salt factor for the interval join's bucket equi-join: a hot time
    * bucket (many sessions overlapping it × many purchases inside it) is
    * ONE join key, so all its pair work lands on one reducer — the
    * r19 hot-session probe measured max/mean slot load 2.31 at the
    * 30-day/121-bucket regime. Replicating each session-bucket row across
    * `OverlapSaltK` salts and routing each purchase to exactly one salt by
    * its unique event id (the deterministic-salt discipline of
    * [[graft.operators.Skew.saltedJoin]]) spreads every bucket over
    * `OverlapSaltK` reducers for a ×K session-bucket-row cost (bucket rows
    * are session-scale, not event-scale). A purchase matches exactly one
    * replica, so the pair multiset is unchanged, and the LEFT-join count
    * ignores the unmatched replicas' nulls — row-identical results. The
    * hot-session probe asserts ≤2× max/mean at BOTH spans, un-gated.
    */
  val OverlapSaltK = 4L

  /** DuckDB-side epoch seconds for the ns-precision events.ts. */
  private val SEC = "CAST(floor(epoch(ts)) AS BIGINT)"

  /** Shared oracle CTEs: events at second granularity, then gap
    * sessionization (lag + running sum — byte-identical semantics to the
    * Spark windows below; ties within a second break by the unique
    * event_id in BOTH engines).
    */
  private val sessionCtes: String =
    s"""WITH e AS (SELECT event_id, user_id, event_type, value, $SEC AS s
       |           FROM events),
       |nb AS (SELECT *, CASE WHEN lag(s) OVER w IS NULL
       |                        OR s - lag(s) OVER w > $GapSec
       |                      THEN 1 ELSE 0 END AS newsess
       |       FROM e WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id)),
       |sid AS (SELECT *, SUM(newsess) OVER (PARTITION BY user_id
       |                                     ORDER BY s, event_id
       |                                     ROWS UNBOUNDED PRECEDING) AS session_id
       |        FROM nb),
       |sess AS (SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       |                CAST(COUNT(*) AS BIGINT) AS n_events,
       |                MIN(s) AS start_sec, MAX(s) AS end_sec,
       |                MAX(s) - MIN(s) AS duration_sec,
       |                CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases
       |         FROM sid GROUP BY user_id, session_id)""".stripMargin

  /** Per-user gap sessions over an events frame carrying `ts_sec`.
    *
    * Plan shape: ONE shuffle on user_id feeds both windows (lag and the
    * running sum share the same partitioning+ordering; Catalyst plans two
    * Window passes over the one exchange+sort — frames differ, exchanges
    * don't), then the per-session aggregate — (user_id,
    * session_id) extends the window's partition key, and partial
    * aggregation makes the second exchange carry one row per session, not
    * per event. At 100 TB the only data-sized move is the first shuffle,
    * which any per-trail computation needs (it IS the trail layout the
    * engine's FSM path builds once and reuses).
    */
  def sessions(events: DataFrame, gapSec: Long = GapSec): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_sec"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = lag(col("ts_sec"), 1).over(w)
    // r21: user-intent exchange with an EXPLICIT count (the session's
    // shuffle-partition conf) feeding the windows — the planner's own
    // window exchange is AQE-coalescible and folded to ONE partition at
    // bench scale, single-threading the per-trail sort + both window
    // passes. Same key and count as the windows' required distribution,
    // so no second exchange appears (guide §2.4); at lake scale the conf
    // is the cluster's own sizing.
    events
      .repartition(
        events.sparkSession.sessionState.conf.numShufflePartitions, col("user_id"))
      .withColumn("__nb", when(prev.isNull || col("ts_sec") - prev > gapSec, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("__nb")).over(run))
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_sec")).as("start_sec"),
        max(col("ts_sec")).as("end_sec"),
        (max(col("ts_sec")) - min(col("ts_sec"))).as("duration_sec"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"),
      )
  }

  /** AS-OF JOIN: each left row picks the greatest right row with
    * rightTs ≤ leftTs under the same key; ties at equal rightTs break by
    * the struct order of (rightTs, payload...), so callers put a unique id
    * first in `payload`. With `lookbackSec`, matches older than
    * leftTs − lookback yield nulls instead.
    *
    * Union-tag kernel (see object doc): right rows sort strictly before
    * same-second left rows (tag 0 < 1), a same-key running max of the
    * payload struct is order-insensitive within ties (left rows carry
    * NULL, which MAX ignores in both engines), and the result needs no
    * join at all — one union, one window. Payload column names must not
    * collide with left's columns.
    */
  def asOfJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      payload: Seq[String],
      lookbackSec: Option[Long] = None,
  ): DataFrame = {
    // Fail loud on the silent-overwrite hazard: a payload name already on
    // the left frame would be clobbered by the match-extraction
    // withColumn, and the kernel's own working columns must be free on
    // the left (the union would silently misalign them otherwise).
    val reservedHit = left.columns.toSet
      .intersect(Set("__ts", "__tag", "__p", "__last", "__m"))
    require(reservedHit.isEmpty,
      s"asOfJoin: left columns ${reservedHit.mkString(", ")} collide with kernel names")
    val payloadHit = payload.toSet.intersect(left.columns.toSet)
    require(payloadHit.isEmpty,
      s"asOfJoin: payload columns ${payloadHit.mkString(", ")} already exist on the left " +
        "frame - alias them on the right side before joining")
    // a payload named like a kernel working column would be extracted via
    // withColumn and then silently dropped by the final .drop — fail loud
    val payloadReserved = payload.toSet
      .intersect(Set("__ts", "__tag", "__p", "__last", "__m"))
    require(payloadReserved.isEmpty,
      s"asOfJoin: payload columns ${payloadReserved.mkString(", ")} collide with kernel " +
        "names - alias them on the right side before joining")
    require(payload.nonEmpty, "asOfJoin: payload must name at least one right column")
    val rTagged = right.select(
      col(key),
      col(rightTs).cast("long").as("__ts"),
      lit(0).as("__tag"),
      struct(col(rightTs).cast("long").as("__rts") +: payload.map(col): _*).as("__p"),
    )
    val lTagged = left
      .withColumn("__ts", col(leftTs).cast("long"))
      .withColumn("__tag", lit(1))
    // r21: explicit-count user-intent exchange feeding the kernel window
    // (the sessions() rationale — AQE folded the window exchange to one
    // partition at bench scale, single-threading the union's sort + scan)
    val u = lTagged.unionByName(rTagged, allowMissingColumns = true)
      .repartition(
        left.sparkSession.sessionState.conf.numShufflePartitions, col(key))
    val w = Window
      .partitionBy(key)
      .orderBy(col("__ts"), col("__tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = u.withColumn("__last", max(col("__p")).over(w)).filter(col("__tag") === 1)
    val kept = lookbackSec match {
      case Some(lb) => when(col("__last.__rts") >= col("__ts") - lb, col("__last"))
      case None     => col("__last")
    }
    val withMatch = matched.withColumn("__m", kept)
    payload
      .foldLeft(withMatch)((d, c) => d.withColumn(c, col(s"__m.$c")))
      .drop("__ts", "__tag", "__p", "__last", "__m")
  }

  /** Scale-safe EXACT global 0-based rank under `sortKeys` (the caller
    * appends a unique tiebreak as the last key): range-partition on the
    * keys — every partition a contiguous slice of the global order —
    * count rows per partition (nParts rows to the driver), prefix-sum
    * the offsets, and add each partition's offset to its partition-LOCAL
    * row_number. The `Curation.shardAssign` two-level machinery,
    * declarative end to end: the naive `row_number() OVER (ORDER BY …)`
    * — which moves EVERY row to one task — is exactly what the oracle
    * replays and this plan must never do. The ranged frame is eagerly
    * checkpointed so the count pass and the rank pass observe the same
    * sampled range bounds.
    *
    * Skew: a low-cardinality FIRST key (rfm's `frequency` is mostly 0)
    * leans entirely on the unique trailing tiebreak — RangePartitioner
    * samples the FULL key tuple, so ties on the leading key still split
    * across partitions on the tiebreak (spec-pinned: 99%-identical
    * leading keys stay within 2× the mean partition size,
    * TrailAnalyticsSpec "rankGlobal under pathological leading-key skew").
    * Callers MUST pass a unique last key or ranks stay correct but one
    * partition can absorb every tie.
    *
    * The usual localCheckpoint caveat applies on a real cluster (the
    * BpeTrain discipline): executor loss fails the job instead of
    * recomputing — a long-running deployment would swap in reliable
    * `checkpoint()` against a checkpoint dir.
    */
  def rankGlobal(df: DataFrame, rankCol: String, sortKeys: Column*): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val nParts = spark.sessionState.conf.numShufflePartitions
    val ranged = df
      .repartitionByRange(nParts, sortKeys: _*)
      .sortWithinPartitions(sortKeys: _*)
      .localCheckpoint(true)
    val counts = ranged
      .groupBy(spark_partition_id().as("__pid")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    var acc = 0L
    val offsets = counts.map { case (pid, c) => val o = (pid, acc); acc += c; o }
    val offDf = offsets.toSeq.toDF("__pid", "__off")
    val w = Window.partitionBy("__pid").orderBy(sortKeys: _*)
    ranged
      .withColumn("__pid", spark_partition_id())
      .join(broadcast(offDf), "__pid")
      .withColumn(rankCol, row_number().over(w).cast("long") - 1L + col("__off"))
      .drop("__pid", "__off")
  }

  /** The reference's sequential-DB overlap rule applied to a relational
    * event store: processing snapshot i+1, events with
    * ts < max_timestamp(snapshot i) are SKIPPED and events AT the mark are
    * kept (reference: src/match_traildb.c:804 `min_ts =
    * tdb_max_timestamp(db)`, :559 `window_start = max(window_start,
    * min_ts)`, src/ctx.c:60 skips `ts < window_start` — the same
    * inclusivity the FSM engine's multi-source path and the streaming
    * high-water cut carry). Each snapshot's max timestamp is one 1-row
    * aggregate read at "open" time — the reference reads it from the DB
    * header; here it is a bounded driver scalar per snapshot, never
    * data-sized. An empty snapshot contributes no cut (min_ts 0 — no
    * event is skipped by it), mirroring the reference's zero-initialized
    * min_ts.
    *
    * Boundary semantics are the reference's, by design: an event AT the
    * previous snapshot's max second is kept because it may be a genuinely
    * NEW same-second arrival — which means a re-ingested DUPLICATE at
    * exactly that second would be double-processed. Snapshot producers
    * whose overlap ends strictly below the previous dump's final second
    * (the common dump contract, and the fixture ta_sessionize_multidb
    * builds) avoid the edge entirely; TrailAnalyticsSpec pins both halves
    * of the rule.
    */
  def unionWithMinTsCut(snapshots: Seq[DataFrame], tsCol: String): DataFrame = {
    require(snapshots.nonEmpty, "unionWithMinTsCut: need at least one snapshot")
    // r21: ONE job computes every snapshot's max (tagged union + groupBy)
    // instead of one scalar aggregate job per snapshot — same per-snapshot
    // values (an empty snapshot contributes no row and reads 0 below), a
    // third of the driver actions for the 3-snapshot face (guide §1.2).
    // Only the first n-1 maxes are ever used as cuts, but computing all n
    // in the single pass costs nothing extra.
    val maxes: Map[Int, Long] = snapshots.zipWithIndex
      .map { case (df, i) =>
        df.select(lit(i).as("__i"), col(tsCol).cast("long").as("__t"))
      }
      .reduce(_.unionByName(_))
      .groupBy("__i").agg(max(col("__t")).as("__m"))
      .collect()
      .map(r => r.getInt(0) -> (if (r.isNullAt(1)) 0L else r.getLong(1)))
      .toMap
    def maxTs(i: Int): Long = maxes.getOrElse(i, 0L)
    snapshots.tail.zipWithIndex
      .foldLeft((snapshots.head, maxTs(0))) { case ((acc, cut), (next, i)) =>
        val kept = if (cut == 0L) next else next.filter(col(tsCol) >= cut)
        (acc.unionByName(kept), maxTs(i + 1))
      }
      ._1
  }

  /** The ta_session_overlap join frame, pre-aggregation: gap sessions
    * exploded to 6h time buckets × salt replicas, LEFT-joined to purchases
    * on (bucket, salt) with the exact-range refilter. Shared with
    * [[graft.TaScaleProbe]] so the skew probe measures the production
    * shape, not a reconstruction. Matched rows have non-null `p_sec`;
    * unmatched replicas keep zero-overlap sessions alive for the count.
    * `saltK` defaults to the production factor — results are
    * salt-invariant by construction (fuzz-pinned across k in
    * TrailAnalyticsFuzzSpec; k=1 IS the un-salted join).
    */
  def overlapJoined(e: DataFrame, saltK: Long = OverlapSaltK): DataFrame = {
    require(saltK >= 1, s"overlapJoined: saltK must be >= 1, got $saltK")
    val sess = sessions(e).select("user_id", "session_id", "start_sec", "end_sec")
    val buckets = sess
      .withColumn(
        "bucket",
        explode(sequence(expr(s"start_sec div $GapSec"), expr(s"end_sec div $GapSec"))),
      )
      .withColumn("__salt", explode(sequence(lit(0L), lit(saltK - 1L))))
    val purchases = e
      .filter(col("event_type") === "purchase")
      .select(
        col("user_id").as("p_user"),
        col("ts_sec").as("p_sec"),
        expr(s"ts_sec div $GapSec").as("p_bucket"),
        pmod(xxhash64(col("event_id")), lit(saltK)).as("p_salt"),
      )
    buckets.join(
      purchases,
      col("bucket") === col("p_bucket") && col("__salt") === col("p_salt") &&
        col("p_sec").between(col("start_sec"), col("end_sec")) &&
        col("p_user") =!= col("user_id"),
      "left",
    )
  }

  /** Per-user RFM metrics off the trail store (recency in whole days
    * from the corpus's latest event, purchase frequency, DECIMAL-exact
    * monetary) — the segmentation input every retention team derives
    * first from an event log.
    */
  def rfm(events: DataFrame): DataFrame = {
    val anchor = events.agg(max(col("ts_sec")).as("__anchor"))
    events
      .groupBy("user_id")
      .agg(
        max(col("ts_sec")).as("__last"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("frequency"),
        sum(when(col("event_type") === "purchase", col("value").cast(dec))).as("__m"),
      )
      .crossJoin(broadcast(anchor))
      .select(
        col("user_id"),
        expr("(__anchor - __last) div 86400").as("recency_days"),
        col("frequency"),
        coalesce(col("__m"), lit(0).cast(dec)).cast("double").as("monetary"),
      )
  }

  /** Funnel conversion by daily first-touch cohort, the FSM engine and the
    * cohort aggregation composed: the converted-user set comes from the
    * REAL engine running the signup→purchase [[graft.engine.TrckQueries
    * .funnelProgram]] (quit at the first purchase after the first signup),
    * cohorts from the same first-touch aggregation ta_cohort_retention
    * uses. `events` must carry user_id, ts_sec, event_id, event_type.
    */
  def funnelCohort(events: DataFrame): DataFrame = {
    val prog = graft.trck.Compiled.compile(graft.engine.TrckQueries.funnelProgram)
    val trails = events.select(
      col("user_id").cast("string").as("uuid"),
      col("ts_sec"), col("event_type"), col("event_id"))
    val em = graft.engine.TrailEngine.emits(prog, trails, "uuid", "ts_sec", Seq("event_id"))
    val converted = em
      .filter(col("kind") === "c" && col("dst") === "conv")
      .select(col("uuid").cast("long").as("user_id"))
      .distinct()
      .withColumn("__conv", lit(1L))
    events
      .groupBy("user_id")
      .agg(min(col("ts_sec")).as("first_sec"))
      .withColumn("cohort_day", expr("first_sec div 86400"))
      .join(converted, Seq("user_id"), "left")
      .groupBy("cohort_day")
      .agg(
        count(lit(1)).as("n_users"),
        count(col("__conv")).as("n_converted"),
      )
      .orderBy("cohort_day")
  }

  /** Shared oracle for ta_asof_orders and ta_asof_enrich_static: both
    * kernels must pick the same as-of winner, so one SQL replay gates
    * both. %019d: string-max ≡ struct-max for any non-negative int64 —
    * replicated corpora that offset keys past 1e10 stay exact.
    */
  private val asofOrdersOracle: String = s"""
        WITH o AS (SELECT o_custkey AS user_id,
                          CAST(floor(epoch(o_orderdate)) AS BIGINT) AS s,
                          o_orderkey, o_orderpriority
                   FROM orders),
        e AS (SELECT user_id, $SEC AS s, event_id FROM events),
        u AS (SELECT user_id, s, 0 AS tag, o_orderkey AS rid,
                     printf('%019d|%019d|%s', s, o_orderkey, o_orderpriority) AS pk
              FROM o
              UNION ALL
              SELECT user_id, s, 1 AS tag, event_id AS rid, NULL AS pk FROM e),
        m AS (SELECT *, MAX(pk) OVER (PARTITION BY user_id ORDER BY s, tag, rid
                                      ROWS UNBOUNDED PRECEDING) AS lastpk
              FROM u)
        SELECT COALESCE(substr(lastpk, 41), '(none)') AS o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM m WHERE tag = 1
        GROUP BY 1 ORDER BY 1"""

  /** Shared oracle for ta_sessionize, its prepared face, and the
    * multi-snapshot face (whose cut union must reconstruct the single
    * store exactly).
    */
  private val sessionizeOracle: String = s"""
        $sessionCtes
        SELECT user_id, session_id, n_events, start_sec, end_sec,
               duration_sec, n_purchases
        FROM sess ORDER BY user_id, session_id"""

  /** Shared oracle for ta_attribution and ta_attribution_streamed: the
    * batch union-tag kernel and the streaming sorted-version-array kernel
    * must pick the same last-touch winner under the same 7-day lookback.
    */
  private val attributionOracle: String = s"""
        WITH e AS (SELECT event_id, user_id, event_type, value, $SEC AS s
                   FROM events),
        u AS (SELECT user_id, s, 1 AS tag, event_id AS rid, value, NULL AS pk
              FROM e WHERE event_type = 'purchase'
              UNION ALL
              -- %019d: string-max agrees with Spark's (long, long, string)
              -- struct max for any NON-NEGATIVE int64 (19 digits cover
              -- Long.MaxValue; negative ts/id would still diverge)
              SELECT user_id, s, 0 AS tag, event_id AS rid, NULL AS value,
                     printf('%019d|%019d|%s', s, event_id, event_type) AS pk
              FROM e WHERE event_type IN ('click', 'view', 'signup')),
        m AS (SELECT *, MAX(pk) OVER (PARTITION BY user_id ORDER BY s, tag, rid
                                      ROWS UNBOUNDED PRECEDING) AS lastpk
              FROM u),
        att AS (SELECT value,
                       CASE WHEN lastpk IS NOT NULL
                             AND CAST(substr(lastpk, 1, 19) AS BIGINT) >= s - $LookbackSec
                            THEN substr(lastpk, 41) ELSE '(none)' END AS channel
                FROM m WHERE tag = 1)
        SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_purchases,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM att GROUP BY channel ORDER BY channel"""

  /** Shared oracle for ta_funnel_cohort and its prepared face. */
  private val funnelCohortOracle: String = s"""
        WITH o AS (SELECT user_id, event_type, $SEC AS s,
                          row_number() OVER (PARTITION BY user_id
                                             ORDER BY $SEC, event_id) AS seq
                   FROM events),
        first AS (SELECT user_id, MIN(s) // 86400 AS cohort_day
                  FROM o GROUP BY user_id),
        sg AS (SELECT user_id, MIN(seq) AS first_signup FROM o
               WHERE event_type = 'signup' GROUP BY user_id),
        conv AS (SELECT user_id FROM sg
                 WHERE EXISTS (SELECT 1 FROM o
                               WHERE o.user_id = sg.user_id
                                 AND o.event_type = 'purchase'
                                 AND o.seq > sg.first_signup))
        SELECT cohort_day,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(COUNT(conv.user_id) AS BIGINT) AS n_converted
        FROM first LEFT JOIN conv ON first.user_id = conv.user_id
        GROUP BY 1 ORDER BY 1"""

  /** Shared oracle for ta_time_to_convert and its prepared face. */
  private val timeToConvertOracle: String = s"""
        WITH e AS (SELECT user_id, event_type, $SEC AS s FROM events),
        sg AS (SELECT user_id, MIN(s) AS s0 FROM e
               WHERE event_type = 'signup' GROUP BY user_id),
        conv AS (SELECT e.user_id, MIN(e.s - sg.s0) AS lat_sec
                 FROM e JOIN sg ON e.user_id = sg.user_id
                 WHERE e.event_type = 'purchase' AND e.s > sg.s0
                 GROUP BY e.user_id)
        SELECT LEAST(lat_sec // 86400, 7) AS days_to_convert,
               CAST(COUNT(*) AS BIGINT) AS n_users
        FROM conv GROUP BY 1 ORDER BY 1"""

  /** Shared oracle for ta_purchase_paths and its prepared face. */
  private val purchasePathsOracle: String = s"""
        $sessionCtes,
        p AS (SELECT *,
                     lag(event_type, 1) OVER sw AS prev1,
                     lag(event_type, 2) OVER sw AS prev2
              FROM sid
              WINDOW sw AS (PARTITION BY user_id, session_id
                            ORDER BY s, event_id))
        SELECT COALESCE(prev2, '(start)') AS prev2,
               COALESCE(prev1, '(start)') AS prev1,
               CAST(COUNT(*) AS BIGINT) AS n_purchases
        FROM p WHERE event_type = 'purchase'
        GROUP BY 1, 2 ORDER BY 1, 2"""

  val queries: Seq[Q] = Seq(
    // -------------------------------------------------------- ta_sessionize
    // The session table itself: one row per (user, gap-session) with
    // bounds, size, and purchase count. This is the frame the other
    // session queries consume.
    Q(
      "ta_sessionize",
      (s, dir) =>
        sessions(Tables.events(s, dir))
          .orderBy("user_id", "session_id"),
      Some(sessionizeOracle),
    ),

    // ----------------------------------------------- ta_sessionize_multidb
    // The reference's sequential-DB ingestion contract on the analytics
    // side: the store arrives as OVERLAPPING snapshots (each dump
    // re-contains a tail of the previous one), [[unionWithMinTsCut]]
    // applies the cross-DB min_ts cut (events below the previous
    // snapshot's max timestamp are skipped — src/match_traildb.c:804,559;
    // ctx.c:60), and sessionization over the cut union must be IDENTICAL
    // to the single-store run — same oracle as ta_sessionize, bit for
    // bit. The snapshots here are built from the one test store (A = the
    // first half of the time span; B = the rest PLUS a re-ingested 7-day
    // tail of A ending strictly below A's final second — the dump
    // contract under which the cut is exact); at 100 TB the snapshots are
    // real per-dump parquet roots and the union is the same plan: one
    // filter per snapshot scan (partition-prunable on a date-partitioned
    // lake layout), one bounded max-read per snapshot at open time.
    Q(
      "ta_sessionize_multidb",
      (s, dir) => {
        val e = Tables.events(s, dir)
          .select("user_id", "ts_sec", "event_id", "event_type")
        val b = e.agg(min(col("ts_sec")), max(col("ts_sec"))).head
        val (lo, hi) = (b.getLong(0), b.getLong(1))
        val cutSec = lo + (hi - lo) / 2
        val snapA = e.filter(col("ts_sec") <= cutSec)
        // the previous dump's header max (what the producer knew when it
        // cut the next dump's overlap)
        val mA = snapA.agg(max(col("ts_sec"))).head.getLong(0)
        val overlapLo = math.max(lo, cutSec - 7L * 86400L)
        val snapB = e
          .filter(col("ts_sec") > cutSec)
          .unionByName(
            e.filter(col("ts_sec") >= overlapLo && col("ts_sec") < mA))
        sessions(unionWithMinTsCut(Seq(snapA, snapB), "ts_sec"))
          .orderBy("user_id", "session_id")
      },
      Some(sessionizeOracle),
    ),

    // ----------------------------------------------- ta_sessionize_prepared
    // Sessionization over the SHARED prepared trail layout (the
    // m1_fsm_count_prepared precedent applied to the analytics family):
    // one `TrailEngine.prepare` amortizes across the FSM matcher AND the
    // relational faces — the windows key on the layout's uuid clustering
    // AND its within-partition sort, so the per-query events exchange and
    // the window sort BOTH disappear (plan-pinned: 1 sort + 1 shuffle,
    // both belonging to the final orderBy, vs the cold face's 2 + 2 —
    // PlanAuditSpec). Identical rows and oracle to ta_sessionize.
    // Measurement history, honestly: the r19 min-of-7 read the prepared
    // face ~0.2 s SLOWER at sf0.1 (persisted-scan overhead vs a ~6 MB
    // saved exchange); the r20 three-run floors flipped it (0.594 vs
    // 0.736, shuffle bytes 1.4 vs 3.1 MB) — at toy scale the two faces
    // sit within run-to-run warmth of each other, and the structural
    // claim is the one that holds at scale: the eliminated exchange+sort
    // are the DATA-sized stages.
    Q(
      "ta_sessionize_prepared",
      (s, dir) => {
        val prep = graft.engine.TrckQueries.preparedTrailEvents(s, dir)
        val w = Window.partitionBy("uuid").orderBy(col("ts_sec"), col("event_id"))
        val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val prev = lag(col("ts_sec"), 1).over(w)
        prep
          .withColumn("__nb",
            when(prev.isNull || col("ts_sec") - prev > GapSec, 1L).otherwise(0L))
          .withColumn("session_id", sum(col("__nb")).over(run))
          .groupBy("uuid", "session_id")
          .agg(
            count(lit(1)).as("n_events"),
            min(col("ts_sec")).as("start_sec"),
            max(col("ts_sec")).as("end_sec"),
            (max(col("ts_sec")) - min(col("ts_sec"))).as("duration_sec"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"),
          )
          .select(
            col("uuid").cast("long").as("user_id"),
            col("session_id"), col("n_events"), col("start_sec"),
            col("end_sec"), col("duration_sec"), col("n_purchases"),
          )
          .orderBy("user_id", "session_id")
      },
      Some(sessionizeOracle),
    ),

    // ----------------------------------------------------- ta_session_stats
    // Corpus-level session-length profile: sessions bucketed by event
    // count (5+ capped), with total duration and purchase conversion per
    // bucket. Bounded output (≤5 rows) at any scale.
    Q(
      "ta_session_stats",
      (s, dir) =>
        sessions(Tables.events(s, dir))
          .groupBy(least(col("n_events"), lit(5L)).as("len_bucket"))
          .agg(
            count(lit(1)).as("n_sessions"),
            sum(col("n_events")).as("n_events"),
            sum(col("duration_sec")).as("sum_duration_sec"),
            sum(col("n_purchases")).as("n_purchases"),
          )
          .orderBy("len_bucket"),
      Some(s"""
        $sessionCtes
        SELECT LEAST(n_events, 5) AS len_bucket,
               CAST(COUNT(*) AS BIGINT) AS n_sessions,
               CAST(SUM(n_events) AS BIGINT) AS n_events,
               CAST(SUM(duration_sec) AS BIGINT) AS sum_duration_sec,
               CAST(SUM(n_purchases) AS BIGINT) AS n_purchases
        FROM sess GROUP BY 1 ORDER BY 1"""),
    ),

    // -------------------------------------------------- ta_cohort_retention
    // Weekly cohort retention matrix: users cohorted by the epoch week of
    // their first event; a cell (cohort_week, week_offset) counts the
    // cohort's users active that many weeks later. Two aggregations on
    // user_id + one join that shuffles one row per (user, active-week) —
    // nothing data-sized after the first pass.
    Q(
      "ta_cohort_retention",
      (s, dir) => {
        val e = Tables.events(s, dir)
        val first = e
          .groupBy("user_id")
          .agg(min(col("ts_sec")).as("first_sec"))
          .withColumn("cohort_week", expr(s"first_sec div $WeekSec"))
        val active = e.select(col("user_id"), expr(s"ts_sec div $WeekSec").as("week")).distinct()
        first
          .join(active, "user_id")
          .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy("cohort_week", "week_offset")
      },
      Some(s"""
        WITH e AS (SELECT user_id, $SEC AS s FROM events),
        first AS (SELECT user_id, MIN(s) // $WeekSec AS cohort_week FROM e GROUP BY user_id),
        active AS (SELECT DISTINCT user_id, s // $WeekSec AS week FROM e)
        SELECT cohort_week, week - cohort_week AS week_offset,
               CAST(COUNT(*) AS BIGINT) AS n_users
        FROM first JOIN active USING (user_id)
        GROUP BY 1, 2 ORDER BY 1, 2"""),
    ),

    // ------------------------------------------------------ ta_attribution
    // Last-touch attribution: each purchase credits the user's most recent
    // click/view/signup within 7 days ('(none)' otherwise); revenue is the
    // DECIMAL(18,2) sum of the purchase values per channel. Runs on the
    // asOfJoin kernel — the oracle replays the identical union-tag
    // running-max with a fixed-width zero-padded string as the max key
    // (same winner: the struct's first two fields are (ts, unique id)).
    Q(
      "ta_attribution",
      (s, dir) => {
        val e = Tables.events(s, dir)
        val touches = e
          .filter(col("event_type").isin("click", "view", "signup"))
          .select(
            col("user_id"),
            col("ts_sec"),
            col("event_id").as("touch_id"),
            col("event_type").as("channel"),
          )
        val purchases = e
          .filter(col("event_type") === "purchase")
          .select("user_id", "ts_sec", "event_id", "value")
        asOfJoin(purchases, touches, "user_id", "ts_sec", "ts_sec",
          Seq("touch_id", "channel"), Some(LookbackSec))
          .groupBy(coalesce(col("channel"), lit("(none)")).as("channel"))
          .agg(
            count(lit(1)).as("n_purchases"),
            sum(col("value").cast(dec)).cast("double").as("revenue"),
          )
          .orderBy("channel")
      },
      Some(attributionOracle),
    ),

    // --------------------------------------------- ta_attribution_streamed
    // The LIVE-attribution twin: the identical last-touch attribution
    // (7-day lookback, '(none)' fill) computed through
    // [[graft.streaming.TrailStream.asOfEnrichStatic]] — the streaming
    // as-of kernel (frozen touch dimension collapsed to one sorted version
    // array per user; each purchase resolves its credit with a stateless
    // filter + last-element, so restart recovery is pure source-offset
    // replay) — run in batch mode, where the mode-independent expression
    // is DuckDB-gated. Same oracle as ta_attribution: the union-tag
    // running-max and the sorted-array kernels must pick the SAME winner
    // AND apply the same lookback cutoff (>= leftTs − lookback inclusive,
    // tie-break by unique touch id). The kill/restart arm for this exact
    // shape (purchases streamed against the frozen dimension WITH
    // lookback) runs in RestartProbe.
    Q(
      "ta_attribution_streamed",
      (s, dir) => {
        val e = Tables.events(s, dir)
        val touches = e
          .filter(col("event_type").isin("click", "view", "signup"))
          .select(
            col("user_id"),
            col("ts_sec").as("t_sec"),
            col("event_id").as("touch_id"),
            col("event_type").as("channel"),
          )
        val purchases = e
          .filter(col("event_type") === "purchase")
          .select("user_id", "ts_sec", "event_id", "value")
        graft.streaming.TrailStream
          .asOfEnrichStatic(purchases, touches, "user_id", "ts_sec", "t_sec",
            Seq("touch_id", "channel"), Some(LookbackSec))
          .groupBy(coalesce(col("channel"), lit("(none)")).as("channel"))
          .agg(
            count(lit(1)).as("n_purchases"),
            sum(col("value").cast(dec)).cast("double").as("revenue"),
          )
          .orderBy("channel")
      },
      Some(attributionOracle),
    ),

    // ------------------------------------------------ ta_attribution_linear
    // LINEAR multi-touch attribution: each purchase splits its value
    // EQUALLY across all touches in its 7-day window ('(none)' takes the
    // full credit when the window is empty) — the third canonical
    // attribution model, and the one that forces a WINDOW JOIN (every
    // in-window touch matters, not just one winner, so no as-of kernel
    // applies). Two scale decisions:
    //  - the window join reuses the bucketed-interval-join shape on the
    //    time axis: touches carry ONE lookback-sized bucket, purchases
    //    explode to the ≤2 buckets their window spans, equi-join on
    //    (user_id, bucket) + exact BETWEEN refilter — cartesian-free,
    //    per-key work bounded by a user's per-window event rate;
    //  - credits are EXACT INTEGER micro-cents: value → DECIMAL(18,2) →
    //    cents (lossless) → ×10000 div n (floor division — `div` ≡
    //    DuckDB `//` on non-negative longs, the pageRank ppm
    //    discipline), so the driver's hash compare never meets a float
    //    sum whose order could differ across engines.
    Q(
      "ta_attribution_linear",
      (s, dir) => {
        val lb = LookbackSec
        val e = Tables.events(s, dir)
        val touches = e
          .filter(col("event_type").isin("click", "view", "signup"))
          .select(
            col("user_id"),
            col("ts_sec").as("t_sec"),
            expr(s"ts_sec div $lb").as("t_bucket"),
            col("event_type").as("channel"),
          )
        val purchases = e
          .filter(col("event_type") === "purchase")
          .select(
            col("user_id"),
            col("ts_sec"),
            col("event_id").as("p_id"),
            (col("value").cast(dec) * 100).cast("long").as("cents"),
          )
        val pBuckets = purchases.withColumn(
          "t_bucket",
          explode(sequence(expr(s"(ts_sec - $lb) div $lb"), expr(s"ts_sec div $lb"))),
        )
        // r21: the bucketed (user_id, t_bucket) join — the corpus-scale
        // stage — executes ONCE. The first cut aggregated pairs to nPer and
        // joined back, then anti-joined purchases against nPer: THREE
        // evaluations of the bucket-join lineage in the physical plan
        // (plans/r21/ta_attribution_linear_before.txt: 7 events scans, 3
        // join subtrees). Now the duplicate-scale pairs frame is
        // materialized once (localCheckpoint — the hammingPairs
        // discipline) and the per-purchase touch count is the oracle's own
        // `COUNT(*) OVER (PARTITION BY p_id)` window: one p_id exchange
        // instead of agg + join-back (guide §2.4 — two operations keyed
        // the same way share one exchange).
        val pairs = pBuckets
          .join(touches, Seq("user_id", "t_bucket"))
          .filter(col("t_sec").between(col("ts_sec") - lb, col("ts_sec")))
          .select("p_id", "cents", "channel")
          .localCheckpoint(true)
        val credited = pairs
          .withColumn("__n", count(lit(1)).over(Window.partitionBy("p_id")))
          .groupBy("channel")
          .agg(
            count(lit(1)).as("n_credits"),
            sum(expr("cents * 10000 div __n")).as("credit_microcents"),
          )
        val untouched = purchases
          .join(pairs, purchases("p_id") === pairs("p_id"), "left_anti")
          .agg(
            count(lit(1)).as("n_credits"),
            coalesce(sum(expr("cents * 10000")), lit(0L)).as("credit_microcents"),
          )
          .select(lit("(none)").as("channel"), col("n_credits"), col("credit_microcents"))
        credited
          .unionByName(untouched)
          .filter(col("n_credits") > 0)
          .orderBy("channel")
      },
      Some(s"""
        WITH e AS (SELECT event_id, user_id, event_type, value, $SEC AS s
                   FROM events),
        p AS (SELECT event_id AS p_id, user_id, s,
                     CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
              FROM e WHERE event_type = 'purchase'),
        t AS (SELECT user_id, s AS t_sec, event_type AS channel FROM e
              WHERE event_type IN ('click', 'view', 'signup')),
        pairs AS (SELECT p.p_id, p.cents, t.channel,
                         CAST(COUNT(*) OVER (PARTITION BY p.p_id) AS BIGINT) AS n
                  FROM p JOIN t
                    ON t.user_id = p.user_id
                   AND t.t_sec BETWEEN p.s - $LookbackSec AND p.s),
        credited AS (SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_credits,
                            CAST(SUM(cents * 10000 // n) AS BIGINT) AS credit_microcents
                     FROM pairs GROUP BY channel),
        untouched AS (SELECT '(none)' AS channel, CAST(COUNT(*) AS BIGINT) AS n_credits,
                             CAST(COALESCE(SUM(cents * 10000), 0) AS BIGINT) AS credit_microcents
                      FROM p WHERE p_id NOT IN (SELECT p_id FROM pairs))
        SELECT * FROM (SELECT * FROM credited UNION ALL SELECT * FROM untouched)
        WHERE n_credits > 0 ORDER BY channel"""),
    ),

    // ------------------------------------------------- ta_attribution_first
    // FIRST-touch attribution: each purchase credits the EARLIEST touch
    // within its 7-day window ('(none)' otherwise) — the other canonical
    // single-touch model. No new kernel: first-touch IS last-touch on the
    // REVERSED time axis. Map ts → R − ts (R a constant above every
    // corpus second): the as-of "greatest rightTs ≤ leftTs" becomes
    // "smallest touch time ≥ ts − lookback", and the reversed lookback
    // bound enforces touch ≤ ts — so one asOfJoin call with transformed
    // columns answers the question, inheriting the kernel's one-shuffle
    // plan, fuzz pins, and tie discipline (at the tied earliest second
    // the LARGEST touch_id wins — the struct-max rule, replayed by the
    // oracle's ORDER BY s ASC, tid DESC).
    Q(
      "ta_attribution_first",
      (s, dir) => {
        // R > any corpus ts_sec keeps the reversed axis positive for
        // readability only — kernel and oracle are both sign-agnostic
        // (struct-max and BETWEEN compare signed longs), so a far-future
        // corpus with ts_sec > R stays correct
        val R = 4000000000L
        val e = Tables.events(s, dir)
        val touches = e
          .filter(col("event_type").isin("click", "view", "signup"))
          .select(
            col("user_id"),
            (lit(R) - col("ts_sec")).as("rts2"),
            col("event_id").as("touch_id"),
            col("event_type").as("channel"),
          )
        val purchases = e
          .filter(col("event_type") === "purchase")
          .select(
            col("user_id"),
            (lit(R) - col("ts_sec") + LookbackSec).as("lts2"),
            col("event_id"),
            col("value"),
          )
        asOfJoin(purchases, touches, "user_id", "lts2", "rts2",
          Seq("touch_id", "channel"), Some(LookbackSec))
          .groupBy(coalesce(col("channel"), lit("(none)")).as("channel"))
          .agg(
            count(lit(1)).as("n_purchases"),
            sum(col("value").cast(dec)).cast("double").as("revenue"),
          )
          .orderBy("channel")
      },
      Some(s"""
        WITH e AS (SELECT event_id, user_id, event_type, value, $SEC AS s
                   FROM events),
        p AS (SELECT event_id, user_id, value, s FROM e
              WHERE event_type = 'purchase'),
        t AS (SELECT user_id, s, event_id AS tid, event_type AS ch FROM e
              WHERE event_type IN ('click', 'view', 'signup')),
        w AS (SELECT p.event_id, p.value, t.tid, t.ch,
                     row_number() OVER (PARTITION BY p.event_id
                                        ORDER BY t.s ASC, t.tid DESC) AS rn
              FROM p LEFT JOIN t
                ON t.user_id = p.user_id AND t.s BETWEEN p.s - $LookbackSec AND p.s),
        att AS (SELECT value,
                       CASE WHEN tid IS NULL THEN '(none)' ELSE ch END AS channel
                FROM w WHERE rn = 1)
        SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_purchases,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM att GROUP BY channel ORDER BY channel"""),
    ),

    // ------------------------------------------------------ ta_asof_orders
    // Cross-table as-of: every event joined to its user's most recent
    // at-or-before order (orders keyed o_custkey = events.user_id; ties on
    // o_orderdate break by the unique o_orderkey), then profiled by the
    // matched order's priority. The canonical enrich-events-with-dimension-
    // state-as-of-event-time shape; same union-tag kernel, so the plan is
    // one shuffle per side on user_id regardless of how many orders
    // precede each event.
    Q(
      "ta_asof_orders",
      (s, dir) => {
        val e = Tables.events(s, dir).select("user_id", "ts_sec", "event_id")
        val ordersRaw = Tables(s, dir, "orders")
        val o = ordersRaw.select(
          col("o_custkey").as("user_id"),
          Tables.tsLong(ordersRaw, "o_orderdate").as("o_sec"),
          col("o_orderkey"),
          col("o_orderpriority"),
        )
        asOfJoin(e, o, "user_id", "ts_sec", "o_sec", Seq("o_orderkey", "o_orderpriority"))
          .groupBy(coalesce(col("o_orderpriority"), lit("(none)")).as("o_orderpriority"))
          .agg(
            count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("n_users"),
          )
          .orderBy("o_orderpriority")
      },
      Some(asofOrdersOracle),
    ),

    // ------------------------------------------------ ta_asof_enrich_static
    // The STREAMING as-of kernel's oracled face: the identical
    // events-to-most-recent-order enrichment computed through
    // `TrailStream.asOfEnrichStatic` (sorted-version-array + last
    // qualifying element) run in batch mode — the expression is
    // mode-independent, so this row is the DuckDB gate for the kernel
    // the restart probe and TrailStreamSpec exercise live. Same oracle
    // as ta_asof_orders: the two kernels must pick the SAME winner
    // (running struct-max ≡ last element of the sorted version array,
    // tie-break included).
    Q(
      "ta_asof_enrich_static",
      (s, dir) => {
        val e = Tables.events(s, dir).select("user_id", "ts_sec", "event_id")
        val ordersRaw = Tables(s, dir, "orders")
        val o = ordersRaw.select(
          col("o_custkey").as("user_id"),
          Tables.tsLong(ordersRaw, "o_orderdate").as("o_sec"),
          col("o_orderkey"),
          col("o_orderpriority"),
        )
        graft.streaming.TrailStream
          .asOfEnrichStatic(e, o, "user_id", "ts_sec", "o_sec",
            Seq("o_orderkey", "o_orderpriority"))
          .groupBy(coalesce(col("o_orderpriority"), lit("(none)")).as("o_orderpriority"))
          .agg(
            count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("n_users"),
          )
          .orderBy("o_orderpriority")
      },
      Some(asofOrdersOracle),
    ),

    // ------------------------------------------------- ta_session_overlap
    // Bucketed interval join: for each session, how many OTHER users'
    // purchases fall inside its [start, end] interval (a concurrency /
    // cross-trail overlap probe), reported as a histogram (10+ capped).
    // Sessions explode to ≤ (duration div GapSec)+1 time buckets (session
    // duration is gap-bounded: ≤ (n_events−1)·gap), purchases carry their
    // single bucket, and the SALTED equi-join on (bucket, salt) + exact-
    // range refilter (see [[overlapJoined]]/[[OverlapSaltK]]) replaces the
    // cartesian a naive BETWEEN join would be AND spreads each hot bucket
    // over OverlapSaltK reducers. The oracle IS the naive BETWEEN join
    // (DuckDB's IEJoin) — same rows, different algorithm, which is the
    // point. LEFT join keeps zero-overlap sessions without recomputing the
    // session table for a join-back (a purchase lands in exactly one
    // (bucket, salt), so matches are never double-counted; unmatched
    // replica rows count 0 via count(p_sec)).
    Q(
      "ta_session_overlap",
      (s, dir) => {
        val counts = overlapJoined(Tables.events(s, dir))
          .groupBy("user_id", "session_id")
          .agg(count(col("p_sec")).as("c"))
        counts
          .groupBy(least(col("c"), lit(10L)).as("overlap"))
          .agg(count(lit(1)).as("n_sessions"))
          .orderBy("overlap")
      },
      Some(s"""
        $sessionCtes,
        p AS (SELECT user_id AS p_user, s AS p_sec FROM e WHERE event_type = 'purchase'),
        c AS (SELECT sess.user_id, sess.session_id, CAST(COUNT(p.p_sec) AS BIGINT) AS c
              FROM sess LEFT JOIN p
                ON p.p_sec BETWEEN sess.start_sec AND sess.end_sec
               AND p.p_user <> sess.user_id
              GROUP BY sess.user_id, sess.session_id)
        SELECT LEAST(c, 10) AS overlap, CAST(COUNT(*) AS BIGINT) AS n_sessions
        FROM c GROUP BY 1 ORDER BY 1"""),
    ),

    // ------------------------------------------------------ ta_active_users
    // Daily active-user panel: DAU, sliding 7-day WAU, sliding 30-day MAU
    // and the classic DAU/MAU stickiness (integer ppm) per active day —
    // the first dashboard every trail store serves. EXACT sliding distinct
    // counts without a window-function distinct (Spark has none): the
    // per-(user, day) presence table explodes each presence row to the 7
    // (resp. 30) window-end days it makes the user active for, and a
    // per-day exact distinct does the rest. Scale shape: presence is one
    // distinct over (user, day) — corpus-sized but map-side-partial; the
    // exploded frames are presence×7/×30 (presence-scale, NOT
    // event-scale), and the per-day distinct goes through
    // [[graft.operators.Skew.saltedDistinctCount]] (its first registered
    // consumer): value-hash salting keeps a hot day's distinct set off a
    // single reducer — disjoint per-salt counts sum exactly.
    Q(
      "ta_active_users",
      (s, dir) => {
        val presence = Tables.events(s, dir)
          .select(col("user_id"), expr("ts_sec div 86400").as("day"))
          .distinct()
        def sliding(spanDays: Int, name: String): DataFrame =
          graft.operators.Skew
            .saltedDistinctCount(
              presence.withColumn(
                "day",
                explode(sequence(col("day"), col("day") + (spanDays - 1)))),
              "day", "user_id")
            .withColumnRenamed("n_distinct", name)
        val dau = presence.groupBy("day").agg(count(lit(1)).as("dau"))
        dau
          .join(sliding(7, "wau"), "day")
          .join(sliding(30, "mau"), "day")
          .select(
            col("day"), col("dau"), col("wau"), col("mau"),
            expr("dau * 1000000 div mau").as("stickiness_ppm"),
          )
          .orderBy("day")
      },
      Some(s"""
        WITH e AS (SELECT user_id, $SEC AS s FROM events),
        pres AS (SELECT DISTINCT user_id, s // 86400 AS day FROM e),
        dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM pres GROUP BY day),
        wau AS (SELECT d.day, CAST(COUNT(DISTINCT p.user_id) AS BIGINT) AS wau
                FROM (SELECT DISTINCT day FROM pres) d
                JOIN pres p ON p.day BETWEEN d.day - 6 AND d.day
                GROUP BY d.day),
        mau AS (SELECT d.day, CAST(COUNT(DISTINCT p.user_id) AS BIGINT) AS mau
                FROM (SELECT DISTINCT day FROM pres) d
                JOIN pres p ON p.day BETWEEN d.day - 29 AND d.day
                GROUP BY d.day)
        SELECT day, dau, wau, mau,
               CAST(dau * 1000000 // mau AS BIGINT) AS stickiness_ppm
        FROM dau JOIN wau USING (day) JOIN mau USING (day)
        ORDER BY day"""),
    ),

    // -------------------------------------------------------------- ta_rfm
    // Per-user recency/frequency/monetary: one aggregation over the trail
    // store plus a broadcast one-row anchor (the corpus-constant pattern).
    Q(
      "ta_rfm",
      (s, dir) => rfm(Tables.events(s, dir)).orderBy("user_id"),
      Some(s"""
        WITH e AS (SELECT user_id, event_type, value, $SEC AS s FROM events),
        a AS (SELECT MAX(s) AS anchor FROM e)
        SELECT user_id,
               (a.anchor - MAX(s)) // 86400 AS recency_days,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
                 AS frequency,
               CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                                      THEN CAST(value AS DECIMAL(18,2)) END),
                             0) AS DOUBLE) AS monetary
        FROM e, a GROUP BY user_id, a.anchor ORDER BY user_id"""),
    ),

    // ------------------------------------------------------ ta_rfm_segments
    // Quintile RFM segmentation: each metric ranked globally (ties broken
    // by user_id), quintile = (rank·5) div n — EXACT quantile buckets
    // computed via rankGlobal's two-level rank, never a single-partition
    // window; the oracle IS the naive row_number() window, the semantics
    // the distributed shape must reproduce. Output: segment cell counts.
    Q(
      "ta_rfm_segments",
      (s, dir) => {
        // r21: pin the user-scale RFM frame once — it feeds the global
        // count AND the first rankGlobal's range pass, and unpinned the
        // whole events aggregation ran twice (guide §2.4)
        val base = rfm(Tables.events(s, dir)).localCheckpoint(true)
        val n = base.agg(count(lit(1)).as("__n"))
        val ranked = Seq(
          ("__rr", Seq(col("recency_days"), col("user_id"))),
          ("__rf", Seq(col("frequency").desc, col("user_id"))),
          ("__rm", Seq(col("monetary").desc, col("user_id"))),
        ).foldLeft(base) { case (d, (c, keys)) => rankGlobal(d, c, keys: _*) }
        ranked
          .crossJoin(broadcast(n))
          .select(
            expr("(__rr * 5) div __n").as("r_q"),
            expr("(__rf * 5) div __n").as("f_q"),
            expr("(__rm * 5) div __n").as("m_q"),
          )
          .groupBy("r_q", "f_q", "m_q")
          .agg(count(lit(1)).as("n_users"))
          .orderBy("r_q", "f_q", "m_q")
      },
      Some(s"""
        WITH e AS (SELECT user_id, event_type, value, $SEC AS s FROM events),
        a AS (SELECT MAX(s) AS anchor FROM e),
        rfm AS (SELECT user_id,
                       (a.anchor - MAX(s)) // 86400 AS recency_days,
                       SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS frequency,
                       COALESCE(SUM(CASE WHEN event_type = 'purchase'
                                         THEN CAST(value AS DECIMAL(18,2)) END), 0) AS monetary
                FROM e, a GROUP BY user_id, a.anchor),
        n AS (SELECT COUNT(*) AS n FROM rfm),
        q AS (SELECT ((row_number() OVER (ORDER BY recency_days, user_id) - 1) * 5) // n.n AS r_q,
                     ((row_number() OVER (ORDER BY frequency DESC, user_id) - 1) * 5) // n.n AS f_q,
                     ((row_number() OVER (ORDER BY monetary DESC, user_id) - 1) * 5) // n.n AS m_q
              FROM rfm, n)
        SELECT r_q, f_q, m_q, CAST(COUNT(*) AS BIGINT) AS n_users
        FROM q GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""),
    ),

    // ------------------------------------------------------ ta_funnel_cohort
    // The two halves COMPOSED: funnel conversion by DAILY first-touch
    // cohort — "did cohort X convert more?", the first question a trck
    // user asks once both the FSM matcher and the cohort table exist.
    // (Day granularity, not ta_cohort_retention's weeks: the 30-day test
    // corpus concentrates first touches into 1-2 epoch weeks, which would
    // collapse the hash gate to a single row.)
    // The converted-user set comes from the REAL FSM engine (the same
    // signup→purchase funnelProgram m1_fsm_funnel runs; reference
    // semantics anchor: foreach/groupby in src/match_traildb.c:281-335
    // meeting the per-trail match loop), cohorts from the first-touch
    // aggregation ta_cohort_retention uses. Plan shape: the FSM side
    // rides the trail layout's one user-keyed exchange and collapses to
    // one row per CONVERTED user (map-side partial distinct — the
    // converted-minority fold m1_fsm_funnel pins); the cohort side is one
    // user-keyed aggregation; the join carries one row per user. The
    // oracle replays the FSM by the filter+count equivalence proved for
    // m1_fsm_funnel (first signup, any later purchase).
    Q(
      "ta_funnel_cohort",
      (s, dir) => funnelCohort(Tables.events(s, dir)),
      Some(funnelCohortOracle),
    ),

    // ---------------------------------------------- ta_funnel_cohort_prepared
    // Both halves over the SHARED prepared trail layout: the FSM side plans
    // no per-query trail shuffle (the m1_fsm_funnel_prepared precedent) AND
    // the cohort side's first-touch aggregation keys on the layout's uuid
    // clustering, so ITS per-query events exchange disappears
    // too. One `TrailEngine.prepare` now feeds the matcher, sessionization,
    // paths, conversion timing and cohorts — the layout-amortization story
    // ta_sessionize_prepared started, completed across the composed query.
    // Identical rows and oracle to ta_funnel_cohort; the same honest sf0.1
    // caveat applies (the saved exchange is data-sized — the win is at
    // scale, not on a 6 MB corpus).
    Q(
      "ta_funnel_cohort_prepared",
      (s, dir) => {
        val prog = graft.trck.Compiled.compile(graft.engine.TrckQueries.funnelProgram)
        val prep = graft.engine.TrckQueries.preparedTrailEvents(s, dir)
        val em = graft.engine.TrailEngine
          .emits(prog, prep, "uuid", "ts_sec", Seq("event_id"))
        val converted = em
          .filter(col("kind") === "c" && col("dst") === "conv")
          .select(col("uuid"))
          .distinct()
          .withColumn("__conv", lit(1L))
        prep
          .groupBy("uuid")
          .agg(min(col("ts_sec")).as("first_sec"))
          .withColumn("cohort_day", expr("first_sec div 86400"))
          .join(converted, Seq("uuid"), "left")
          .groupBy("cohort_day")
          .agg(
            count(lit(1)).as("n_users"),
            count(col("__conv")).as("n_converted"),
          )
          .orderBy("cohort_day")
      },
      Some(funnelCohortOracle),
    ),

    // ----------------------------------------------------- ta_time_to_convert
    // Conversion-latency histogram: per converted user, whole days from
    // the FIRST signup to the FIRST subsequent purchase (the funnel's
    // timing face — "how long does conversion take?"), day-bucketed with
    // a 7+ tail cap. Two user-keyed aggregations: the first-signup table
    // collapses to one row per SIGNING user before the join, so the join
    // carries the purchase stream against a user-scale side — at 100 TB
    // the only data-sized moves are the per-user shuffles any trail
    // computation needs.
    Q(
      "ta_time_to_convert",
      (s, dir) => {
        val e = Tables.events(s, dir)
        val firstSignup = e
          .filter(col("event_type") === "signup")
          .groupBy("user_id")
          .agg(min(col("ts_sec")).as("s0"))
        val conv = e
          .filter(col("event_type") === "purchase")
          .join(firstSignup, "user_id")
          .filter(col("ts_sec") > col("s0"))
          .groupBy("user_id")
          .agg(min(col("ts_sec") - col("s0")).as("lat_sec"))
        conv
          .groupBy(least(expr("lat_sec div 86400"), lit(7L)).as("days_to_convert"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy("days_to_convert")
      },
      Some(timeToConvertOracle),
    ),

    // ------------------------------------------- ta_time_to_convert_prepared
    // Conversion latency over the shared prepared layout: the first-signup
    // aggregation, the purchase-side aggregation AND their join all key on
    // uuid — the layout's clustering satisfies every one, so the plan is
    // CO-PARTITIONED end to end (zero data-sized exchanges; only the
    // histogram fold and orderBy move rows — plan-pinned in PlanAuditSpec).
    // Identical rows and oracle to ta_time_to_convert.
    Q(
      "ta_time_to_convert_prepared",
      (s, dir) => {
        val prep = graft.engine.TrckQueries.preparedTrailEvents(s, dir)
        val firstSignup = prep
          .filter(col("event_type") === "signup")
          .groupBy("uuid")
          .agg(min(col("ts_sec")).as("s0"))
        val conv = prep
          .filter(col("event_type") === "purchase")
          .join(firstSignup, "uuid")
          .filter(col("ts_sec") > col("s0"))
          .groupBy("uuid")
          .agg(min(col("ts_sec") - col("s0")).as("lat_sec"))
        conv
          .groupBy(least(expr("lat_sec div 86400"), lit(7L)).as("days_to_convert"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy("days_to_convert")
      },
      Some(timeToConvertOracle),
    ),

    // -------------------------------------------------------- ta_purchase_paths
    // Path analysis: the two event types PRECEDING each purchase within
    // the SAME gap-session ("what do users do right before buying?") —
    // the top-paths report every trail store serves. One lag window over
    // the per-user trail order (the FSM layout exchange), '(start)' when
    // the purchase opens its session or trail; counts per (prev2, prev1)
    // path. Session boundaries cut paths: a predecessor from a previous
    // session is NOT a path step — same rule the sessionization faces pin.
    Q(
      "ta_purchase_paths",
      (s, dir) => {
        val e = Tables.events(s, dir)
        val w = Window.partitionBy("user_id").orderBy(col("ts_sec"), col("event_id"))
        val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val prevTs = lag(col("ts_sec"), 1).over(w)
        val withSess = e
          .withColumn("__nb",
            when(prevTs.isNull || col("ts_sec") - prevTs > GapSec, 1L).otherwise(0L))
          .withColumn("__sid", sum(col("__nb")).over(run))
        val sw = Window.partitionBy("user_id", "__sid").orderBy(col("ts_sec"), col("event_id"))
        withSess
          .withColumn("prev1", lag(col("event_type"), 1).over(sw))
          .withColumn("prev2", lag(col("event_type"), 2).over(sw))
          .filter(col("event_type") === "purchase")
          .groupBy(
            coalesce(col("prev2"), lit("(start)")).as("prev2"),
            coalesce(col("prev1"), lit("(start)")).as("prev1"),
          )
          .agg(count(lit(1)).as("n_purchases"))
          .orderBy("prev2", "prev1")
      },
      Some(purchasePathsOracle),
    ),

    // --------------------------------------------- ta_purchase_paths_prepared
    // Path analysis over the shared prepared layout: both windows (the
    // session boundary lag and the within-session path lags) key on the
    // layout's uuid clustering AND within-partition (uuid, ts, id) sort —
    // the per-query events exchange and the window sort both disappear
    // (the ta_sessionize_prepared plan shape; pinned in PlanAuditSpec).
    // Identical rows and oracle to ta_purchase_paths.
    Q(
      "ta_purchase_paths_prepared",
      (s, dir) => {
        val prep = graft.engine.TrckQueries.preparedTrailEvents(s, dir)
        val w = Window.partitionBy("uuid").orderBy(col("ts_sec"), col("event_id"))
        val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val prevTs = lag(col("ts_sec"), 1).over(w)
        val withSess = prep
          .withColumn("__nb",
            when(prevTs.isNull || col("ts_sec") - prevTs > GapSec, 1L).otherwise(0L))
          .withColumn("__sid", sum(col("__nb")).over(run))
        val sw = Window.partitionBy("uuid", "__sid").orderBy(col("ts_sec"), col("event_id"))
        withSess
          .withColumn("prev1", lag(col("event_type"), 1).over(sw))
          .withColumn("prev2", lag(col("event_type"), 2).over(sw))
          .filter(col("event_type") === "purchase")
          .groupBy(
            coalesce(col("prev2"), lit("(start)")).as("prev2"),
            coalesce(col("prev1"), lit("(start)")).as("prev1"),
          )
          .agg(count(lit(1)).as("n_purchases"))
          .orderBy("prev2", "prev1")
      },
      Some(purchasePathsOracle),
    ),
  )
}
