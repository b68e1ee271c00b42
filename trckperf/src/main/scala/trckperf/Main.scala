package trckperf

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.trck.{Results, TrailMatcher}
import graft.trck.Fsm.{Bindings, FsmState}

/** The trck benchmark main: one workload, one seed, closed loop with one
  * client (each query waits for the previous result).
  *
  * {{{
  * trckperf.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *               --work-dir <dir> [--cores <n>] [--scale <f>]
  * }}}
  *
  * With `--trace 0` the last stdout line carries the end-to-end metrics;
  * with `--trace 1` it carries the per-layer metrics from spans around the
  * engine calls and a SparkListener. Inputs live under a fresh directory
  * inside `--work-dir`, deleted at exit.
  */
object Main {

  final case class Opts(
      workload: String = "",
      seed: Long = 0L,
      seconds: Double = 10.0,
      trace: Boolean = false,
      workDir: String = "",
      cores: Int = 4,
      scale: Double = 1.0,
  )

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: rest   => parse(rest, o.copy(workload = v))
    case "--seed" :: v :: rest       => parse(rest, o.copy(seed = v.toLong))
    case "--seconds" :: v :: rest    => parse(rest, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: rest      => parse(rest, o.copy(trace = v == "1"))
    case "--work-dir" :: v :: rest   => parse(rest, o.copy(workDir = v))
    case "--cores" :: v :: rest      => parse(rest, o.copy(cores = v.toInt))
    case "--scale" :: v :: rest      => parse(rest, o.copy(scale = v.toDouble))
    case Nil                         => o
    case other                       => throw new IllegalArgumentException(s"bad arguments: $other")
  }

  final case class Metric(value: Double, unit: String)

  /** Set-ups per process; `setup_s` is their median. */
  val SetupReps = 5

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    require(Workload.names.contains(o.workload), s"--workload must be one of ${Workload.names.mkString(", ")}")
    require(o.workDir.nonEmpty, "--work-dir is required")
    val dir = Files.createTempDirectory(Files.createDirectories(Paths.get(o.workDir)), "run-")
    try run(o, dir)
    finally deleteTree(dir)
  }

  private def session(o: Opts, dir: Path): SparkSession = {
    val spark = GraftSession.builder(o.cores.toString)
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def log(msg: String): Unit = System.err.println(s"[trckperf] $msg")

  def run(o: Opts, dir: Path): Unit = {
    val w = Workload(o.workload, o.seed, o.scale)
    val tr = new Tracer(o.trace)

    // set-up, repeated: session start, input generation, prepare/persist
    val setupS, sessionS, generateS, prepareS = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (rep <- 0 until SetupReps) {
      val t0 = System.nanoTime()
      spark = session(o, dir)
      val t1 = System.nanoTime()
      tr.attach(spark.sparkContext)
      val firstSpan = tr.spans.length
      w.setup(spark, dir.toString, tr)
      val t2 = System.nanoTime()
      setupS += (t2 - t0) / 1e9
      sessionS += (t1 - t0) / 1e9
      val repSpans = tr.spans.drop(firstSpan)
      generateS += repSpans.filter(_.name == "generate").map(_.seconds).sum
      prepareS += repSpans.filter(_.name == "prepare").map(_.seconds).sum
      if (rep < SetupReps - 1) {
        w.release()
        tr.detach()
        spark.stop()
      }
    }
    log(f"setup ${setupS.map(s => f"$s%.3f").mkString(" ")} s (session ${sessionS.map(s => f"$s%.3f").mkString(" ")} s)")

    val te = System.nanoTime()
    w.expect()
    log(f"expected results derived in ${(System.nanoTime() - te) / 1e9}%.2f s")

    // warm-up queries, outside the timing: the first runs in a cold JIT
    // (~4x a warm query), the next two still converge
    val tw = System.nanoTime()
    var warm = 0
    var warmFailed = 0
    while (warm < 3 || (System.nanoTime() - tw) / 1e9 < math.min(2.0, o.seconds * 0.2)) {
      val s0 = System.nanoTime()
      val r = runOp(w, -1 - warm, tr)
      if (!r.ok) { warmFailed += 1; log(s"warm-up op failed: ${r.detail}") }
      log(f"warm-up op ${(System.nanoTime() - s0) / 1e9}%.3f s")
      warm += 1
    }

    val latencies = mutable.ArrayBuffer[Double]()
    val matchCalls = mutable.ArrayBuffer[Long]()
    val results = mutable.ArrayBuffer[OpResult]()
    var attempted = 0
    var failed = 0
    // the window counts query time only; the heap samples between queries
    // (a full collection each, at most one per second of queries) add to it
    var busy = 0.0
    var sampledAt = Double.NegativeInfinity
    val heap = new HeapPeak
    heap.sampleLive() // the window starts without the warm-up's garbage
    while (busy < o.seconds) {
      val k = attempted
      attempted += 1
      tr.beginOp(k)
      val mc0 = TrailMatcher.matchCalls.sum()
      val s0 = System.nanoTime()
      val r = runOp(w, k, tr)
      val lat = (System.nanoTime() - s0) / 1e9
      latencies += lat
      busy += lat
      matchCalls += TrailMatcher.matchCalls.sum() - mc0
      tr.endOp()
      results += r
      if (!r.ok) { failed += 1; log(s"op $k failed: ${r.detail}") }
      if (busy - sampledAt >= 1.0 || busy >= o.seconds) {
        heap.sampleLive()
        sampledAt = busy
      }
    }
    heap.close()
    log(f"heap after GC: peak ${heap.peak / 1048576.0}%.1f MB, live between queries ${heap.livePeak / 1048576.0}%.1f MB, ${heap.collections.get} collections")
    tr.drain()

    val metrics: Seq[(String, Metric)] =
      if (!o.trace) Seq(
        "setup_s" -> Metric(median(setupS.toSeq), "s"),
        "events_per_s_per_core" ->
          Metric(median(results.zip(latencies).map { case (r, t) => r.events / t / o.cores }.toSeq), "1/s"),
        "query_s_p50" -> Metric(median(latencies.toSeq), "s"),
        "heap_peak_mb" -> Metric(heap.peak / 1048576.0, "MB"),
      )
      else {
        val perOp = Layers.perOp(tr, results.length)
        val ceilingInput = w.ceiling()
        fsmPasses(ceilingInput, 0.5) // JIT warm-up
        val ceiling = median(fsmPasses(ceilingInput, 1.5))
        val extra = Seq(
          "trck.match_calls" -> Metric(median(matchCalls.map(_.toDouble).toSeq), "count"),
          "trck.match_calls_per_trail" -> Metric(median(matchCalls.zip(results).collect {
            case (m, r) if r.trails > 0 => m.toDouble / r.trails
          }.toSeq), "count"),
          "trck.fsm_ceiling_events_per_s" -> Metric(ceiling, "1/s"),
          "setup.session_s" -> Metric(median(sessionS.toSeq), "s"),
          "setup.generate_s" -> Metric(median(generateS.toSeq), "s"),
          "setup.prepare_s" -> Metric(median(prepareS.toSeq), "s"),
          "trace.query_s_p50" -> Metric(median(latencies.toSeq), "s"),
        )
        Layers.names.map { case (n, unit) => n -> Metric(median(perOp.map(_(n))), unit) } ++ extra
      }
    w.release()
    tr.detach()
    spark.stop()

    val correct = failed == 0 && warmFailed == 0 && attempted > 0
    val body = metrics.map { case (n, m) => s""""$n": {"value": ${m.value}, "unit": "${m.unit}"}""" }
    log(s"$attempted ops, $failed failed, latencies ${latencies.map(x => f"$x%.3f").mkString(" ")} s")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${body.mkString(", ")}}}""")
  }

  /** One query; a query that throws counts as failed, not as a crash. */
  private def runOp(w: Workload, k: Int, tr: Tracer): OpResult =
    try w.op(k, tr)
    catch { case e: Exception => OpResult(0L, 0L, ok = false, e.toString) }

  /** Peak heap in use after a collection, from construction to `close`.
    * A listener sees every collection, including those that run inside
    * queries (when cached emit streams and task buffers are live);
    * `sampleLive` forces a full collection before the window and between
    * queries, the floor: what the session keeps live (persisted inputs,
    * driver state). It also clears what the previous query promoted, so
    * each query's peak starts from the same heap.
    */
  final class HeapPeak {
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    private val max, floor = new AtomicLong(0L)
    val collections = new AtomicLong(0L)
    private def record(used: Long): Unit = max.accumulateAndGet(used, (a, b) => math.max(a, b))

    private val listener: NotificationListener = (n: Notification, _: AnyRef) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        collections.incrementAndGet()
        record(info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, usage) if heapPools(pool) => usage.getUsed
        }.sum)
      }
    private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
      case e: NotificationEmitter => e
    }
    emitters.foreach(_.addNotificationListener(listener, null, null))

    def sampleLive(): Unit = {
      System.gc()
      val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      floor.accumulateAndGet(used, (a, b) => math.max(a, b))
      record(used)
    }

    def close(): Unit = emitters.foreach(_.removeNotificationListener(listener))

    def peak: Long = max.get
    def livePeak: Long = floor.get
  }

  /** The bare FSM on one thread: `processTrail` + `finalizeTrail` over
    * trails decoded beforehand, repeated for `seconds`; events/s per pass.
    */
  def fsmPasses(c: CeilingInput, seconds: Double): Seq[Double] = {
    val params = Bindings()
    val init = FsmState.initial(c.prog)
    val rates = mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      val s = System.nanoTime()
      val results = Vector.fill(c.tuples.length)(new Results(c.prog))
      val onResult = (j: Int, r: Results) => results(j).merge(r)
      var n = 0L
      c.trails.foreach { case (uuid, evs) =>
        val saved = Array.fill(c.tuples.length)(init)
        val out = TrailMatcher.processTrail(c.prog, c.tuples, saved, evs, uuid, 0L, 0L, params, Map.empty, onResult)
        TrailMatcher.finalizeTrail(c.prog, c.tuples, out, uuid, params, Map.empty, onResult)
        n += evs.length
      }
      rates += n / ((System.nanoTime() - s) / 1e9)
    }
    rates.toSeq
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val paths = Files.walk(p)
      try paths.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally paths.close()
    }
}
