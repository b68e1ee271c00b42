package graft

/** Span-scaled probe for the trail-analytics interval join: the shared
  * ScaleProbe replicates the corpus INTO the same 30-day window, so
  * `ta_session_overlap`'s matched pairs grow ×mult² there (per-interval
  * purchase density ×mult — the replica construction, not the operator)
  * and its 100× arm is excluded by the ≤10× policy. Production growth is
  * longitudinal: a trail store gets bigger mostly because time passes, at
  * a roughly constant event RATE — under which per-interval density is
  * constant and matched pairs grow LINEARLY. This probe synthesizes that
  * posture directly: id-derived deterministic events at a fixed per-user
  * cadence (8h ± jittered, so the 6h session gap splits trails
  * constantly), span ×mult between arms, and reports wall + the exact
  * matched-pair count so the linearity claim is measured, not argued.
  *
  * Usage: runMain graft.TaScaleProbe [mult] [workDir]
  * Prints one JSON line {"metric":"ta_span_probe",...}.
  *
  * Second mode — `runMain graft.TaScaleProbe hot [workDir]` — the
  * ADVERSARIAL arm: one user holds a month-long CONTINUOUS session
  * (hourly events, never a 6h gap → ~121 six-hour buckets) against a
  * purchase-heavy rest-of-corpus. The claims under test: (1) the
  * bucketed join's exact-range refilter keeps the hot session's matched
  * pairs EXACTLY equal to the other-user purchases inside its interval
  * (bucket explosion and salt replication must not double-count a
  * purchase that lands in one bucket and one salt), and (2) the SALTED
  * bucket equi-join ([[graft.queries.TrailAnalytics.OverlapSaltK]] — the
  * r20 fix for the 2.31 max/mean this probe measured un-salted at the
  * 30-day regime) spreads the hot session's work across the
  * (bucket, salt)-key hash slots — no task absorbs the whole session at
  * scale. Measured on the key hash (not spark_partition_id: AQE
  * correctly coalesces the toy-scale join to one task). max/mean ≤ 2 is
  * asserted UN-GATED at both spans (30 days: 121 buckets × salt = 484
  * keys over 32 slots; 360 days: 1452 × salt), plus hot-session slot
  * coverage ≥ 3/4.
  * Prints {"metric":"ta_hot_session_probe",...}.
  */
object TaScaleProbe {

  private def gen(spark: org.apache.spark.sql.SparkSession, dir: String,
                  spanDays: Long, nUsers: Long = 1500L): Long = {
    val step = 28800L // 8h cadence; jitter ±4h -> gaps in [0, 16h], 6h gap splits live
    val n = nUsers * spanDays * 86400L / step
    spark.range(n).selectExpr(
      s"id % $nUsers AS user_id",
      "id AS event_id",
      s"timestamp_seconds(CAST(1700000000 AS BIGINT) + (id div $nUsers) * $step" +
        s" + pmod(id * 2654435761, 28801) - 14400) AS ts",
      "CASE WHEN id % 5 = 0 THEN 'purchase' ELSE 'click' END AS event_type",
      "CAST(1.0 AS DOUBLE) AS value",
    ).write.mode("overwrite").parquet(s"$dir/events.parquet")
    n
  }

  /** Orders dimension matching the synthetic users: ~3 orders per user
    * with distinct per-user order seconds (the unique o_orderkey breaks
    * any residual tie, the as-of contract).
    */
  private def genOrders(spark: org.apache.spark.sql.SparkSession, dir: String,
                        nUsers: Long): Long = {
    val n = nUsers * 3
    spark.range(n).selectExpr(
      s"id % $nUsers AS o_custkey",
      "id AS o_orderkey",
      s"timestamp_seconds(CAST(1700000000 AS BIGINT) + (id div $nUsers) * 864000" +
        s" + pmod(id * 1103515245, 86400)) AS o_orderdate",
      "CASE pmod(id, 5) WHEN 0 THEN '1-URGENT' WHEN 1 THEN '2-HIGH' " +
        "WHEN 2 THEN '3-MEDIUM' WHEN 3 THEN '4-NOT SPECIFIED' ELSE '5-LOW' END" +
        " AS o_orderpriority",
    ).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    n
  }

  /** Third mode — `runMain graft.TaScaleProbe deca [workDir]` — the ta
    * family's 1000× witness (the graph family proved 1000× in r18; the
    * ta family topped out at 100×): the 30-day/1500-user base corpus
    * scaled ×1000 on the USER axis (1.5M users, 135M events — trails keep
    * their per-user shape, which is how a trail store actually grows
    * wide), running ta_sessionize / ta_asof_orders / ta_rfm_segments at
    * both arms. Claims witnessed: (1) each query's wall grows strongly
    * sublinearly in corpus size (the only data-sized stage is the per-key
    * shuffle); (2) rankGlobal's tie-splitting holds at 1.5M ranked rows —
    * `frequency` concentrates on a handful of values at this cadence, so
    * the leading key is pathologically tied and the unique user_id
    * tiebreak must spread partitions (max ≤ 2× mean, the
    * TrailAnalyticsSpec assertion re-run at 1000×).
    * Prints {"metric":"ta_deca_probe",...}.
    */
  private def decaMain(work: String): Unit = {
    val spark = GraftSession.builder().appName("ta-deca-probe").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions._
    val probeQs = Seq("ta_sessionize", "ta_asof_orders", "ta_rfm_segments")

    def arm(tag: String, nUsers: Long): (Long, Seq[(String, Double)]) = {
      val dir = s"$work/$tag"
      val n = gen(spark, dir, 30L, nUsers)
      genOrders(spark, dir, nUsers)
      Tables(spark, dir, "events").count() // warm the scan
      val times = probeQs.map { q =>
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
        q -> (System.nanoTime() - t0) / 1e9
      }
      (n, times)
    }

    val (nB, tB) = arm("base", 1500L)
    val (nS, tS) = arm("deca", 1500000L)

    // rankGlobal tie-splitting balance at the 1000× arm, measured on the
    // most-tied key (frequency): no partition may exceed 2× the mean
    val rfm = graft.queries.TrailAnalytics.rfm(Tables.events(spark, s"$work/deca"))
    val ranked = graft.queries.TrailAnalytics
      .rankGlobal(rfm, "__rf", col("frequency").desc, col("user_id"))
    val sizes = ranked.groupBy(spark_partition_id()).count()
      .collect().map(_.getLong(1)).filter(_ > 0)
    val meanSz = sizes.sum.toDouble / sizes.length
    val maxOverMean = sizes.max / meanSz
    require(maxOverMean <= 2.0,
      f"rankGlobal tie skew at 1000x: max partition ${sizes.max} = " +
        f"$maxOverMean%.2f x mean $meanSz%.0f over ${sizes.length} partitions")

    def r2(v: Double) = math.round(v * 100) / 100.0
    val commit =
      try scala.sys.process.Process(Seq("git", "describe", "--always", "--dirty")).!!.trim
      catch { case scala.util.control.NonFatal(_) => "unknown" }
    def tjs(ts: Seq[(String, Double)]) =
      ts.map { case (q, s) => s""""$q":${r2(s)}""" }.mkString("{", ",", "}")
    val ratios = probeQs.map { q =>
      val b = tB.find(_._1 == q).get._2
      val sgot = tS.find(_._1 == q).get._2
      s""""$q":${r2(sgot / math.max(b, 0.001))}"""
    }.mkString("{", ",", "}")
    println(
      s"""{"metric":"ta_deca_probe","commit":"$commit","mult":1000,""" +
        s""""base":{"events":$nB,"sec":${tjs(tB)}},""" +
        s""""deca":{"events":$nS,"sec":${tjs(tS)}},""" +
        s""""wall_ratios":$ratios,""" +
        s""""rank_partitions":${sizes.length},"rank_max_over_mean":${r2(maxOverMean)}}""")
    spark.stop()
  }

  /** The hot-session adversarial arm (see object doc). */
  private def hotMain(work: String): Unit = {
    val spark = GraftSession.builder().appName("ta-hot-probe").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val arms = Seq(30L, 360L).map(d => hotArm(spark, s"$work/hot$d", d))
    val commit =
      try scala.sys.process.Process(Seq("git", "describe", "--always", "--dirty")).!!.trim
      catch { case scala.util.control.NonFatal(_) => "unknown" }
    println(
      s"""{"metric":"ta_hot_session_probe","commit":"$commit","arms":[${arms.mkString(",")}]}""")
    spark.stop()
  }

  private def hotArm(spark: org.apache.spark.sql.SparkSession, dir: String,
                     spanDays: Long): String = {
    import org.apache.spark.sql.functions._
    val spanSec = spanDays * 86400L
    // user 0: one event per HOUR for the whole month — never a 6h gap, so
    // ONE continuous session spanning ~121 six-hour buckets
    val hotN = spanSec / 3600L
    val hot = spark.range(hotN).selectExpr(
      "CAST(0 AS BIGINT) AS user_id",
      "id AS event_id",
      "timestamp_seconds(CAST(1700000000 AS BIGINT) + id * 3600) AS ts",
      "'click' AS event_type",
      "CAST(1.0 AS DOUBLE) AS value")
    // users 1..1500: purchase-heavy (80% purchases) at an 8h±4h cadence —
    // every bucket of the month is purchase-dense
    val nUsers = 1500L
    val step = 28800L
    val restN = nUsers * spanSec / step
    val rest = spark.range(restN).selectExpr(
      s"1 + (id % $nUsers) AS user_id",
      s"$hotN + id AS event_id",
      s"timestamp_seconds(CAST(1700000000 AS BIGINT) + (id div $nUsers) * $step" +
        s" + pmod(id * 2654435761, 28801) - 14400) AS ts",
      "CASE WHEN id % 5 = 0 THEN 'click' ELSE 'purchase' END AS event_type",
      "CAST(1.0 AS DOUBLE) AS value")
    hot.unionByName(rest).write.mode("overwrite").parquet(s"$dir/events.parquet")

    Tables(spark, dir, "events").count()
    val t0 = System.nanoTime()
    SparkEntry.queries("ta_session_overlap")(spark, dir)
      .write.format("noop").mode("overwrite").save()
    val sec = (System.nanoTime() - t0) / 1e9

    val e = Tables.events(spark, dir)
    val sess = graft.queries.TrailAnalytics.sessions(e)
      .select("user_id", "session_id", "start_sec", "end_sec")
    // claim 0: user 0 really is ONE month-long session
    val hotSess = sess.filter(col("user_id") === 0L).collect()
    require(hotSess.length == 1,
      s"hot-session synth broke: user 0 has ${hotSess.length} sessions, wanted 1")
    val (hs, he) = (hotSess(0).getAs[Long]("start_sec"), hotSess(0).getAs[Long]("end_sec"))
    val hotBuckets = he / 21600L - hs / 21600L + 1
    // claim 1: the salted bucketed join + exact refilter matches EXACTLY
    // the other-user purchases inside [start, end] — neither the bucket
    // explosion nor the salt replication may double-count. The PRODUCTION
    // join frame (TrailAnalytics.overlapJoined), matched rows only.
    val joined = graft.queries.TrailAnalytics.overlapJoined(e)
      .filter(col("p_sec").isNotNull)
    val hotPairs = joined.filter(col("user_id") === 0L).count()
    val truth = e.filter(col("event_type") === "purchase" &&
      col("user_id") =!= 0L && col("ts_sec").between(hs, he)).count()
    require(hotPairs == truth,
      s"refilter drift: hot session matched $hotPairs pairs vs $truth purchases in-interval")
    // claim 2: the SALTED bucket equi-join spreads the session — no task
    // absorbs it at scale. Measured on the (bucket, salt)-key HASH
    // distribution (32 slots): at toy scale AQE correctly coalesces the
    // few-MB join inputs into one task, so spark_partition_id() is
    // vacuous — at production scale the hash slots ARE the tasks. The
    // assertion is UN-GATED (both spans): salting multiplies the key
    // count ×OverlapSaltK (121 buckets → 484 keys at 30 days), which
    // kills the small-sample balls-in-bins noise the un-salted join
    // could only regime-gate away (2.31 measured in r19).
    val parts = joined.groupBy(expr("pmod(hash(bucket, __salt), 32)")).count()
      .collect().map(_.getLong(1))
    val meanP = parts.sum.toDouble / parts.length
    val maxOverMean = parts.max / meanP
    val hotSlots = joined.filter(col("user_id") === 0L)
      .select(expr("pmod(hash(bucket, __salt), 32)")).distinct().count()
    require(hotSlots >= 24,
      s"hot session piled into $hotSlots/32 bucket-hash slots - wanted >= 24")
    require(maxOverMean <= 2.0,
      f"hot-session skew at $spanDays days: max bucket-hash slot ${parts.max} = " +
        f"$maxOverMean%.2f x mean $meanP%.0f over ${parts.length} slots")
    def r2(v: Double) = math.round(v * 100) / 100.0
    s"""{"span_days":$spanDays,"hot_session_buckets":$hotBuckets,""" +
      s""""hot_pairs":$hotPairs,"purchases_in_interval":$truth,""" +
      s""""total_pairs":${joined.count()},"hot_slots":$hotSlots,""" +
      s""""max_over_mean":${r2(maxOverMean)},"overlap_query_sec":${r2(sec)}}"""
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("hot")) {
      hotMain(args.lift(1).getOrElse("/tmp/graft_ta_hot")); return
    }
    if (args.headOption.contains("deca")) {
      decaMain(args.lift(1).getOrElse("/tmp/graft_ta_deca")); return
    }
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    val work = args.lift(1).getOrElse("/tmp/graft_ta_span")
    val spark = GraftSession.builder().appName("ta-span-probe").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions._

    def arm(tag: String, spanDays: Long): (Long, Double, Long, Long) = {
      val dir = s"$work/$tag"
      val n = gen(spark, dir, spanDays)
      // warm the scan, then time the registered query (noop protocol)
      Tables(spark, dir, "events").count()
      val t0 = System.nanoTime()
      SparkEntry.queries("ta_session_overlap")(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      // exact matched-pair mass (the quantity whose growth law is at
      // issue), measured on the PRODUCTION join frame
      val e = Tables.events(spark, dir)
      val pairs = graft.queries.TrailAnalytics.overlapJoined(e)
        .filter(col("p_sec").isNotNull).count()
      val nSess = graft.queries.TrailAnalytics.sessions(e).count()
      (n, sec, pairs, nSess)
    }

    val (nB, secB, pairsB, sessB) = arm("base", 30L)
    val (nS, secS, pairsS, sessS) = arm("scaled", 30L * mult)
    def r2(v: Double) = math.round(v * 100) / 100.0
    val commit =
      try scala.sys.process.Process(Seq("git", "describe", "--always", "--dirty")).!!.trim
      catch { case scala.util.control.NonFatal(_) => "unknown" }
    val json =
      s"""{"metric":"ta_span_probe","commit":"$commit","mult":$mult,""" +
        s""""base":{"events":$nB,"sessions":$sessB,"pairs":$pairsB,"sec":${r2(secB)}},""" +
        s""""scaled":{"events":$nS,"sessions":$sessS,"pairs":$pairsS,"sec":${r2(secS)}},""" +
        s""""pairs_ratio":${r2(pairsS.toDouble / math.max(pairsB, 1))},""" +
        s""""wall_ratio":${r2(secS / math.max(secB, 0.001))}}"""
    println(json)
    spark.stop()
  }
}
