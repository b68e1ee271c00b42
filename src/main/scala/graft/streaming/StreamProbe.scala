package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.{GraftSession, Tables}

/** Shared synthesis for the two streaming probes' quota-gate arms — the
  * synthetic source labeling and the quota sizing live ONCE so StreamProbe
  * and RestartProbe can never silently measure different gates: `doc_id %
  * NSources` sources, quota ≈ 40% of the whole-stream per-source token
  * mass (admission runs the first few batches, then the gate saturates —
  * both arms measured in one run).
  */
private[streaming] object ProbeSynth {
  val NSources = 5

  def withSource(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.withColumn("source",
      org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("s"),
        org.apache.spark.sql.functions.col("doc_id") % NSources))

  def quotas(corpus: Array[(Long, String)], nBatches: Int): Map[String, Long] = {
    val tot = corpus.iterator.map { case (_, t) =>
      if (t == null) 0L else t.trim.split("\\s+", -1).length.toLong
    }.sum
    val q = tot * nBatches * 2 / (NSources * 5)
    (0 until NSources).map(i => s"s$i" -> q).toMap
  }
}

/** Streaming-face scale probe: drives [[DocStream.dedupNearMinHash]] over
  * `nBatches` micro-batches of the full documents corpus (ids shifted per
  * batch, event time advancing one `stepSec` per batch) and records, per
  * batch, the wall seconds and the stateful operator's state-store rows
  * and bytes from the query progress.
  *
  * What it proves: with the event clock advancing past the watermark
  * horizon each batch, bucket state from old batches must EVICT — state
  * rows/bytes should plateau at the per-horizon working set instead of
  * growing with total ingested volume, and per-batch wall time should stay
  * flat (late/early ratio ~1). A state curve tracking cumulative input, or
  * a rising per-batch time, is the unbounded-state regression this probe
  * exists to catch.
  *
  * Usage: runMain graft.streaming.StreamProbe [sfDir] [nBatches]
  * Prints one bare JSON line on stdout and writes no file.
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nBatches = args.lift(1).map(_.toInt).getOrElse(10)
    val spark = GraftSession.builder().appName("stream-probe").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // one driver-side copy of the corpus (probe-only; the stream itself
    // carries nBatches × its size through the real streaming operator)
    val corpus = Tables(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    val nDocs = corpus.map(_._1).max + 1
    // watermark 10 min, clock step 20 min per batch: every batch's buckets
    // are PAST the horizon by the next batch — the eviction-forcing shape
    val watermark = "10 minutes"
    val stepSec = 1200L
    val t0 = 1700000000L

    def r2(v: Double) = math.round(v * 100) / 100.0

    /** Drive one streaming face over nBatches corpus replays; returns its
      * JSON fragment. Each arm gets a fresh MemoryStream and query so the
      * state stores never mix.
      */
    def runArm(name: String,
               build: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): String = {
      val input = MemoryStream[(Long, Timestamp, String)]
      val docs = input.toDF().toDF("doc_id", "event_time", "text")
      val query = build(docs)
        .writeStream.format("noop").outputMode("append").start()
      val batchSecs = Array.ofDim[Double](nBatches)
      val stateRows = Array.ofDim[Long](nBatches)
      val stateBytes = Array.ofDim[Long](nBatches)
      try {
        for (k <- 0 until nBatches) {
          val ts = new Timestamp((t0 + k * stepSec) * 1000)
          val batch = corpus.map { case (id, text) => (id + k * nDocs, ts, text) }
          val w0 = System.nanoTime()
          input.addData(batch.toIndexedSeq)
          query.processAllAvailable()
          batchSecs(k) = (System.nanoTime() - w0) / 1e9
          val so = Option(query.lastProgress).toSeq.flatMap(_.stateOperators.toSeq)
          stateRows(k) = so.map(_.numRowsTotal).sum
          stateBytes(k) = so.map(_.memoryUsedBytes).sum
        }
      } finally query.stop()
      // skip batch 0 (plan + state-store cold start) on both ends of the
      // flatness ratio; -1 when too few batches for a meaningful pair (the
      // raw curves are still in the artifact either way)
      val earlyW = batchSecs.slice(1, 4)
      val lateW = batchSecs.takeRight(3)
      val ratio =
        if (nBatches < 5 || earlyW.isEmpty || earlyW.min <= 0) -1.0
        else lateW.min / earlyW.min
      s"""{"query":"$name",""" +
        s""""batch_secs":[${batchSecs.map(r2).mkString(",")}],""" +
        s""""state_rows":[${stateRows.mkString(",")}],""" +
        s""""state_bytes":[${stateBytes.mkString(",")}],""" +
        s""""late_over_early":${r2(ratio)},""" +
        s""""state_rows_last_over_peak":${r2(
          if (stateRows.max > 0) stateRows.last.toDouble / stateRows.max else -1.0)}}"""
    }

    // frozen LM for the stream-static arm — built once from the same
    // corpus (the production freeze-then-score shape), checkpointed so
    // every micro-batch joins the materialized frame, not the lineage
    val lm = graft.operators.Curation
      .lmTable(Tables(spark, dir, "documents")).localCheckpoint(true)

    // frozen substring directory for the stateless decon-gate arm — built
    // from the corpus's own hash-split test side before any stream starts
    // (the production freeze-then-gate lifecycle)
    val deconDir = graft.operators.Dedup.substrDirectory(
      Tables(spark, dir, "documents").filter(
        graft.operators.TextAnalysis.splitName(
          org.apache.spark.sql.functions.col("doc_id")) === "test"))

    // frozen DSIR weights for the stateless importance-gate arm (trained
    // offline on the corpus vs its quality-pass slice — the production
    // freeze-then-gate lifecycle); the median batch score as the bar so
    // the gate provably bites both ways
    val dsirBase = Tables(spark, dir, "documents")
    val dsirW = graft.operators.Curation.dsirWeights(
      dsirBase, dsirBase.filter(graft.operators.TextAnalysis.qualityPass(
        org.apache.spark.sql.functions.col("text")))).localCheckpoint(true)
    val dsirMin = graft.operators.Curation.dsirScore(dsirBase, dsirW)
      .selectExpr("percentile_approx(score, 0.5) AS m").head.getLong(0)

    // frozen duplicate-line directory for the stateless strip arm, built
    // from the planted-line corpus (the flat synthetic corpus has no
    // newlines; the d_line_* fixture provides them)
    val lineDir = graft.operators.Dedup.lineDirectory(
      graft.operators.Dedup.linedText(Tables(spark, dir, "documents")),
      textCol = "ltext")

    val arms = Seq(
      runArm("dedupNearMinHash",
        docs => DocStream.dedupNearMinHash(docs, watermarkDelay = watermark)),
      // per-(window, doc) aggregation state must evict like the dedup
      // buckets: the clock steps past the watermark every batch
      runArm("lmScoreByWindow",
        docs => DocStream.lmScoreByWindow(docs, lm, watermarkDelay = watermark)),
      // stateless arm: the substring-decon gate must show ZERO state rows
      // across every batch and a flat per-batch cost — the broadcast sorted
      // directory is the only structure, and it never grows with the stream
      runArm("deconFilter",
        docs => DocStream.deconFilter(docs, deconDir)),
      // second stateless arm: the Gopher-rules gate — zero state rows,
      // flat per-batch cost, pure codegen'd row expressions
      runArm("qualityRulesFilter",
        docs => DocStream.qualityRulesFilter(docs)),
      // third stateless arm: the frozen-weights DSIR gate — zero state
      // rows; the d-bounded weight table rides the closure, so per-batch
      // cost must stay flat as the stream grows
      runArm("dsirFilter",
        docs => DocStream.dsirFilter(docs, dsirW, minScore = dsirMin)),
      // fourth stateless arm: the boilerplate line-strip TRANSFORM gate —
      // zero state rows, flat per-batch cost; the sorted md5 directory
      // (built offline from the planted-line corpus, the lineDirectory
      // freeze-then-strip lifecycle) rides a broadcast and never grows
      runArm("lineStrip",
        docs => DocStream.lineStrip(
          graft.operators.Dedup.linedText(docs)
            .drop("text").withColumnRenamed("ltext", "text"),
          lineDir)),
      // fifth stateless arm: the mojibake-repair TRANSFORM gate — zero
      // state rows, flat per-batch cost; the fix table is a compile-time
      // constant replace chain, nothing rides the stream at all
      runArm("mojibakeFix",
        docs => DocStream.mojibakeFix(docs)),
      // BOUNDED-stateful arm: the source-quota gate keeps ONE counter per
      // source — state rows must plateau at the source vocabulary (5
      // synthetic sources here) and stay flat as the stream grows; quotas
      // sized so admission saturates mid-run (both admit and reject arms
      // measured). No watermark: a quota is a whole-stream contract.
      runArm("sourceQuotaFilter",
        docs => DocStream.sourceQuotaFilter(
          ProbeSynth.withSource(docs), ProbeSynth.quotas(corpus, nBatches))),
      // BOUNDED-stateful arm: the windowed Count-Min sketch keeps ONE
      // depth×width matrix per OPEN window — state rows must track the
      // open-window count, never the token volume; the clock steps past
      // the watermark each batch, so closed windows evict and the curve
      // stays flat as the stream grows
      runArm("cmsByWindow",
        docs => DocStream.cmsByWindow(docs, watermarkDelay = watermark)),
      // BOUNDED-stateful arm: the windowed quantile sketch keeps ONE
      // 960-long histogram per OPEN window — same eviction contract as
      // the CMS arm, state never proportional to value cardinality
      runArm("qsketchByWindow",
        docs => DocStream.qsketchByWindow(
          docs.withColumn("n_chars",
            org.apache.spark.sql.functions.length(
              org.apache.spark.sql.functions.col("text")).cast("long")),
          watermarkDelay = watermark)),
      // BOUNDED-stateful arm: native session_window keeps ONE row per
      // OPEN session. Gap 15 min < the 20 min clock step, so every batch
      // opens fresh sessions and the watermark closes the previous
      // batch's shortly after — state plateaus at ~open-batches × the
      // 500-user universe (doc_id % 500), never the event volume
      runArm("sessionsByGap", docs => {
        import org.apache.spark.sql.functions.{col, when}
        TrailStream.sessionsByGap(
          docs.select(
            (col("doc_id") % 500).as("user_id"),
            col("event_time").as("ts"),
            when(col("doc_id") % 5 === 0, "purchase")
              .otherwise("click").as("event_type")),
          gap = "15 minutes", watermarkDelay = watermark)
      }),
    )
    val json =
      s"""{"metric":"stream_probe","sf_dir":"$dir",""" +
        s""""batches":$nBatches,"docs_per_batch":${corpus.length},""" +
        s""""watermark":"$watermark","step_sec":$stepSec,""" +
        s""""arms":[${arms.mkString(",")}]}"""
    println(json)
    spark.stop()
  }
}
