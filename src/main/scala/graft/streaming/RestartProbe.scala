package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.{GraftSession, Tables}

/** Streaming checkpoint-recovery probe: STREAM_PROBE demonstrated bounded
  * state within one run; this demonstrates the other durability half —
  * kill a stateful query between (and inside) micro-batches, restart it
  * from its checkpoint, and assert the outputs equal an uninterrupted run
  * of the same input schedule.
  *
  * Mechanics per arm:
  *   - both runs write through `foreachBatch` into a batchId-keyed map —
  *     idempotent under replay, exactly the keyed-sink discipline a real
  *     exactly-once pipeline uses (a replayed batch overwrites its own
  *     slot instead of double-counting);
  *   - the restarted run stops its query at `restartAfter` AFTER injecting
  *     the next batch but WITHOUT processing it, so recovery must both
  *     reload the state store from checkpoint files (watermark included,
  *     from the commit log) AND replay the uncommitted in-flight batch;
  *   - equality is multiset equality over all emitted rows.
  *
  * Usage: runMain graft.streaming.RestartProbe [sfDir] [nBatches]
  * Prints one bare JSON line on stdout and writes no file.
  */
object RestartProbe {

  /** Drive `build` over `nBatches` replays of `corpus` (ids shifted per
    * batch, event clock stepping `stepSec`), optionally killing and
    * restarting the query at `restartAfter`. Returns the emitted rows as
    * a sorted multiset fingerprint (row-string -> count).
    */
  def drive(
      spark: SparkSession,
      corpus: Array[(Long, String)],
      build: DataFrame => DataFrame,
      nBatches: Int,
      restartAfter: Int, // -1 = uninterrupted
      checkpointDir: String,
      stepSec: Long = 1200L,
      t0: Long = 1700000000L,
  ): Map[String, Int] = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val nDocs = corpus.map(_._1).max + 1
    val input = MemoryStream[(Long, Timestamp, String)]
    val docs = input.toDF().toDF("doc_id", "event_time", "text")
    val sink = scala.collection.concurrent.TrieMap[Long, Array[String]]()
    def start() = build(docs).writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (df: Dataset[Row], bid: Long) =>
        sink(bid) = df.collect().map(_.toString); ()
      }
      .start()
    var query = start()
    try {
      for (k <- 0 until nBatches) {
        val ts = new Timestamp((t0 + k * stepSec) * 1000)
        if (k == restartAfter) {
          // kill BEFORE injecting this batch, then inject, then restart:
          // stopping first guarantees the batch is pending (never
          // committed) when the new query comes up, so recovery must
          // BOTH reload state + watermark from the checkpoint AND
          // process data the old query never saw. (Stopping after
          // addData raced the running trigger — on a fast box the batch
          // could commit pre-stop and silently degenerate the probe to
          // a clean between-batch restart.)
          query.stop()
          input.addData(corpus.map { case (id, text) => (id + k * nDocs, ts, text) }.toIndexedSeq)
          query = start()
        } else {
          input.addData(corpus.map { case (id, text) => (id + k * nDocs, ts, text) }.toIndexedSeq)
        }
        query.processAllAvailable()
      }
    } finally query.stop()
    sink.values.flatten.toSeq.groupBy(identity).map { case (r, g) => r -> g.size }
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nBatches = args.lift(1).map(_.toInt).getOrElse(8)
    val spark = GraftSession.builder().appName("restart-probe").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val corpus = Tables(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    val lm = graft.operators.Curation
      .lmTable(Tables(spark, dir, "documents")).localCheckpoint(true)
    val watermark = "10 minutes"
    val restartAfter = nBatches / 2

    val work = java.nio.file.Files.createTempDirectory("graft_restart_probe").toString
    def arm(name: String, build: DataFrame => DataFrame): String = {
      val base = drive(spark, corpus, build, nBatches, -1, s"$work/$name-base")
      val rst = drive(spark, corpus, build, nBatches, restartAfter, s"$work/$name-restart")
      val equal = base == rst
      if (!equal) {
        // walk the UNION of keys — a row present only in the restarted
        // run must count as a difference too
        val differing = (base.keySet ++ rst.keySet)
          .count(k => base.getOrElse(k, 0) != rst.getOrElse(k, 0))
        System.err.println(s"[restart-probe] $name MISMATCH: $differing differing row-strings")
      }
      s"""{"query":"$name","rows_uninterrupted":${base.values.sum},""" +
        s""""rows_restarted":${rst.values.sum},"equal":$equal}"""
    }

    // the substring-decon gate's frozen directory: the corpus's own
    // hash-split test side (the c_substr_decon split rule), built once
    // before any stream starts — the production lifecycle
    val deconDir = graft.operators.Dedup.substrDirectory(
      Tables(spark, dir, "documents")
        .filter(graft.operators.TextAnalysis.splitName(
          org.apache.spark.sql.functions.col("doc_id")) === "test"))

    // the FSM streaming face: a funnel whose signup/purchase legs STRADDLE
    // the kill point for most trails (signup in batch u%6, purchase in
    // batch u%6+2, restart at nBatches/2), so recovery must restore the
    // per-(cookie × tuple) FSM rule state AND the high-water mark from the
    // checkpoint or conversions double/vanish — the incremental analog of
    // the reference's cross-DB state carry (src/match_traildb.c:384-390).
    // Events derive deterministically from doc_id alone (batch index =
    // doc_id div nDocs under drive()'s id shift): 97 cookies, distinct
    // per-cookie timestamps (no same-ts order sensitivity), monotone
    // across batches.
    val nDocs = corpus.map(_._1).max + 1
    val funnelProg = graft.trck.Compiled.compile(graft.engine.TrckQueries.funnelProgram)
    def funnelEvents(docs: DataFrame): DataFrame = docs.selectExpr(
      s"concat('u', (doc_id % $nDocs) % 97) AS uuid",
      s"cast(1700000000 as bigint) + (doc_id div $nDocs) * 1200 + ((doc_id % $nDocs) div 97) AS ts",
      s"CASE WHEN (doc_id div $nDocs) = ((doc_id % $nDocs) % 97) % 6 THEN 'signup' " +
        s"WHEN (doc_id div $nDocs) = (((doc_id % $nDocs) % 97) % 6) + 2 THEN 'purchase' " +
        "ELSE 'view' END AS event_type")

    // window-file variant (F2 under restart): every even cookie is listed
    // with a start that cuts its batch-0 events — recovery must restore
    // BOTH the per-entry ctx state and the high-water mark, and unlisted
    // (odd) cookies must stay dropped before the stateful operator across
    // the kill boundary
    val winEntries = (0 until 97 by 2).map(u =>
      graft.trck.LocalRunner.WindowEntry(s"w$u", s"u$u", 1700000000L + 1200L, 0L))

    // gap-session events: 97 users, each sitting out every 4th batch, so
    // under a 25-min gap (> the 20-min batch step) sessions span runs of
    // three batches and the sit-out closes them — open sessions STRADDLE
    // the kill at nBatches/2 for most users
    def sessEvents(docs: DataFrame): DataFrame = docs.selectExpr(
      s"(doc_id % $nDocs) % 97 AS user_id",
      s"timestamp_seconds(cast(1700000000 as bigint) + (doc_id div $nDocs) * 1200" +
        s" + ((doc_id % $nDocs) div 97)) AS ts",
      s"CASE WHEN (doc_id % $nDocs) % 5 = 0 THEN 'purchase' ELSE 'click' END AS event_type",
      s"(doc_id div $nDocs) AS k")
      .where("(user_id + k) % 4 != 0").drop("k")

    // frozen as-of version dimension: 97 users × 5 rows (4 distinct version
    // seconds stepping every 3000 s across the probe's event-time span —
    // the 5th row ties the 4th at the same o_sec, giving every user a
    // same-second tie pair whose unique-id tie-break must resolve
    // identically on both runs)
    val asofDim = spark.range(97L * 5)
      .selectExpr(
        "id % 97 AS user_id",
        "cast(1700000000 as bigint) + least(id div 97, 3) * 3000 AS o_sec",
        "id AS o_id",
        "concat('v', id div 97) AS o_tag")
      .localCheckpoint(true)

    // frozen touch dimension for the live-attribution arm: 97 users × 6
    // touches (5 distinct touch seconds stepping 2000 s, plus a
    // same-second tie pair per user whose unique touch_id must break the
    // same way on both runs); channels cycle view/click/signup
    val touchDim = spark.range(97L * 6)
      .selectExpr(
        "id % 97 AS user_id",
        "cast(1700000000 as bigint) + least(id div 97, 4) * 2000 AS t_sec",
        "id AS touch_id",
        "CASE WHEN (id div 97) % 3 = 0 THEN 'view' " +
          "WHEN (id div 97) % 3 = 1 THEN 'click' ELSE 'signup' END AS channel")
      .localCheckpoint(true)

    val arms = Seq(
      arm("trailFsmFunnel",
        docs => TrailStream.emits(funnelProg, funnelEvents(docs), "uuid", "ts")
          // binary `item` stringifies as an identity hash — hex it so the
          // multiset fingerprint is value-stable across runs
          .selectExpr("uuid", "tuple_idx", "kind", "dst", "hex(item) AS item_hex", "n")),
      arm("trailFsmWindowed",
        docs => TrailStream.emits(funnelProg, funnelEvents(docs), "uuid", "ts",
            windows = Some(winEntries))
          .selectExpr("uuid", "tuple_idx", "kind", "dst", "hex(item) AS item_hex", "n")),
      arm("dedupNearMinHash",
        docs => DocStream.dedupNearMinHash(docs, watermarkDelay = watermark)),
      // bounded-stateful arm: one counter per source ([[ProbeSynth]]'s
      // shared labeling + ~40%-saturating quota, so the gate saturates
      // around the restart point); the checkpoint must restore the
      // running totals exactly or the admission prefix drifts
      arm("sourceQuotaFilter",
        docs => DocStream.sourceQuotaFilter(
          ProbeSynth.withSource(docs), ProbeSynth.quotas(corpus, nBatches))),
      arm("lmScoreByWindow",
        docs => DocStream.lmScoreByWindow(docs, lm, watermarkDelay = watermark)),
      // stateless arm: recovery here exercises the SOURCE/offset replay
      // half of checkpointing (no state store) — the gate must drop the
      // same docs across the kill/restart boundary
      arm("deconFilter",
        docs => DocStream.deconFilter(docs, deconDir)),
      // stateless stream-static arm: as-of enrichment against the frozen
      // version dimension — recovery must re-resolve the SAME match for
      // every replayed event (the dimension is rebuilt identically on
      // restart; any drift in the sorted-version tie-break or the
      // lookback cut shows up as a multiset diff). Events walk forward
      // through the version history so matches differ per batch.
      arm("asOfEnrichStatic",
        docs => TrailStream.asOfEnrichStatic(
          docs.selectExpr(
            s"(doc_id % $nDocs) % 97 AS user_id",
            s"cast(1700000000 as bigint) + (doc_id div $nDocs) * 1200" +
              s" + ((doc_id % $nDocs) div 97) AS ts_sec",
            s"doc_id AS event_id"),
          asofDim, "user_id", "ts_sec", "o_sec", Seq("o_id", "o_tag"),
          lookbackSec = Some(2400L))),
      // live-attribution arm (ta_attribution_streamed's exact shape under
      // kill/restart): purchases streamed against a frozen TOUCH dimension,
      // last-touch credit under a lookback with '(none)' fill — the 3000 s
      // lookback is sized so early purchases credit a touch and late ones
      // age out to '(none)' ACROSS the kill boundary; recovery must
      // re-credit every replayed purchase to the same channel
      arm("liveAttribution",
        docs => TrailStream.asOfEnrichStatic(
            docs.selectExpr(
              s"(doc_id % $nDocs) % 97 AS user_id",
              s"cast(1700000000 as bigint) + (doc_id div $nDocs) * 1200" +
                s" + ((doc_id % $nDocs) div 97) AS ts_sec",
              s"doc_id AS event_id"),
            touchDim, "user_id", "ts_sec", "t_sec", Seq("touch_id", "channel"),
            lookbackSec = Some(3000L))
          .selectExpr("user_id", "ts_sec", "event_id",
            "COALESCE(channel, '(none)') AS channel")),
      // bounded-stateful arm: the windowed Count-Min matrix — recovery
      // must restore the open window's 2048-counter state exactly or the
      // emitted sketch (and every estimate served from it) drifts; the
      // kill lands with a batch in flight mid-window
      arm("cmsByWindow",
        docs => DocStream.cmsByWindow(docs, watermarkDelay = watermark)),
      // bounded-stateful arm: the windowed quantile sketch — recovery
      // must restore the open window's 960-bucket histogram exactly or
      // the emitted matrix (and every bound served from it) drifts
      arm("qsketchByWindow",
        docs => DocStream.qsketchByWindow(
          docs.withColumn("n_chars",
            org.apache.spark.sql.functions.length(
              org.apache.spark.sql.functions.col("text")).cast("long")),
          watermarkDelay = watermark)),
      // bounded-stateful arm: native session_window — recovery must
      // restore the per-session merge state AND the watermark across the
      // kill or straddling sessions split/double in the emitted table
      arm("sessionsByGap",
        docs => TrailStream.sessionsByGap(sessEvents(docs),
          gap = "25 minutes", watermarkDelay = watermark)),
    )
    val json =
      s"""{"metric":"restart_probe","sf_dir":"$dir","batches":$nBatches,""" +
        s""""restart_after":$restartAfter,"docs_per_batch":${corpus.length},""" +
        s""""arms":[${arms.mkString(",")}]}"""
    println(json)
    spark.stop()
  }
}
