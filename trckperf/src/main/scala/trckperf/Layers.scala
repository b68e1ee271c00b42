package trckperf

/** Per-layer figures for each timed operation, from the tracer's spans and
  * the listener's job/stage records.
  *
  * Stages of the `runRaw` span are attributed by what they read and run:
  *  - scan: reads files (a `FileScanRDD` in the stage). Its size is given
  *    in rows: Spark's bytesRead undercounts parquet scans whose reads run
  *    on Hadoop's vectored-IO threads;
  *  - emits: runs the engine's per-trail `MapPartitions` operator — after
  *    the uuid exchange, or straight off a prepared cached layout;
  *  - exchange: the map side of the uuid exchange, i.e. stages that run
  *    before the first emits stage (their shuffle write is the exchange);
  *  - agg: every later stage — the per-family aggregation passes over the
  *    emit stream and their final merges.
  */
object Layers {
  private val MB = 1048576.0

  val names: Seq[(String, String)] = Seq(
    "parser.parse_s" -> "s",
    "trck.compile_s" -> "s",
    "engine.driver_s" -> "s",
    "engine.lexicon_s" -> "s",
    "spark.jobs" -> "count",
    "spark.tasks" -> "count",
    "spark.task_overhead_s" -> "s",
    "spark.gc_s" -> "s",
    "spark.peak_exec_mem_mb" -> "MB",
    "spark.tasks_failed" -> "count",
    "engine.scan.busy_s" -> "s",
    "engine.scan.rows" -> "count",
    "engine.exchange.write_mb" -> "MB",
    "engine.exchange.rows" -> "count",
    "engine.exchange.fetch_wait_s" -> "s",
    "engine.emits.busy_s" -> "s",
    "engine.emits.cpu_s" -> "s",
    "engine.emits.spill_mb" -> "MB",
    "engine.agg.busy_s" -> "s",
    "engine.agg.rows_in" -> "count",
    "engine.agg.passes" -> "count",
    "engine.cache_mb" -> "MB",
    "trck.sink.render_s" -> "s",
    "trck.sink.bytes" -> "bytes",
  )

  def perOp(tr: Tracer, nOps: Int): Seq[Map[String, Double]] = {
    val l = tr.listener
    (0 until nOps).map { k =>
      val spans = tr.spans.filter(_.op == k)
      def spanS(name: String) = spans.filter(_.name == name).map(_.seconds).sum
      val jobs = l.jobs.values.filter(_.op == k).toSeq
      def stagesOf(js: Seq[JobRec]) = js.flatMap(_.stageIds).distinct.flatMap(l.stages.get).sortBy(_.order)
      val all = stagesOf(jobs)
      val rr = stagesOf(jobs.filter(_.span == "runRaw"))
      val firstEmits = rr.find(_.emits).map(_.order).getOrElse(Long.MaxValue)
      val pre = rr.filter(s => !s.emits && s.order < firstEmits)
      val emits = rr.filter(_.emits)
      val agg = rr.filter(s => !s.emits && s.order > firstEmits)
      val scan = all.filter(_.scan)
      def sum(ss: Seq[StageRec])(f: StageAgg => Long): Double = ss.map(s => f(s.agg)).sum.toDouble

      // driver time inside runRaw: its wall time not covered by its jobs
      val driver = spans.filter(_.name == "runRaw").map { sp =>
        val ivs = jobs.filter(_.span == "runRaw").map(j => (math.max(j.startMs, sp.startMs), math.min(j.endMs, sp.endMs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var end = Long.MinValue
        ivs.foreach { case (a, b) =>
          val from = math.max(a, end)
          if (b > from) covered += b - from
          end = math.max(end, b)
        }
        sp.seconds - covered / 1e3
      }.sum

      val rendered = spans.filter(_.name == "render")
      val cacheBytes = l.cachedBy.collect { case (rdd, op) if op == k => rdd }.toSeq
        .map(rdd => l.rddBlocks.collect { case ((r, _), b) if r == rdd => b }.sum).sum

      Map(
        "parser.parse_s" -> spanS("parse"),
        "trck.compile_s" -> spanS("compile"),
        "engine.driver_s" -> driver,
        "engine.lexicon_s" -> spanS("lexicon"),
        "spark.jobs" -> jobs.size.toDouble,
        "spark.tasks" -> sum(all)(_.tasks),
        "spark.task_overhead_s" -> sum(all)(_.overheadMs) / 1e3,
        "spark.gc_s" -> sum(all)(_.gcMs) / 1e3,
        "spark.peak_exec_mem_mb" -> (all.map(_.agg.peakExecMem).maxOption.getOrElse(0L) / MB),
        "spark.tasks_failed" -> sum(all)(_.failed),
        "engine.scan.busy_s" -> sum(scan)(_.runMs) / 1e3,
        "engine.scan.rows" -> sum(scan)(_.inputRecords),
        "engine.exchange.write_mb" -> sum(pre)(_.shuffleWriteBytes) / MB,
        "engine.exchange.rows" -> sum(pre)(_.shuffleWriteRecords),
        "engine.exchange.fetch_wait_s" -> sum(emits)(_.fetchWaitMs) / 1e3,
        "engine.emits.busy_s" -> sum(emits)(_.runMs) / 1e3,
        "engine.emits.cpu_s" -> sum(emits)(_.cpuNs) / 1e9,
        "engine.emits.spill_mb" -> sum(emits)(_.spillBytes) / MB,
        "engine.agg.busy_s" -> sum(agg)(_.runMs) / 1e3,
        "engine.agg.rows_in" -> sum(agg)(a => a.shuffleReadRecords + a.inputRecords),
        "engine.agg.passes" -> agg.count(_.result).toDouble,
        "engine.cache_mb" -> cacheBytes / MB,
        "trck.sink.render_s" -> rendered.map(_.seconds).sum,
        "trck.sink.bytes" -> tr.renderedBytes.getOrElse(k, 0L).toDouble,
      )
    }
  }
}
