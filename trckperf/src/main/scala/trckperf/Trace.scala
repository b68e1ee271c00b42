package trckperf

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.trckperf.SparkInternals

/** Benchmark-side tracing: spans around each engine entry point the
  * benchmark calls, plus a [[SparkListener]] that files every Spark job,
  * stage and task under the span that launched it. Nothing here touches
  * engine code — every layer is observed from outside.
  *
  * A span sets the Spark local properties `trckperf.span` / `trckperf.op`
  * on the driver thread, so each job's start event carries the span and
  * operation that submitted it.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  val spans = mutable.ArrayBuffer[Span]()
  /** Listener of the attached context (RDD and stage ids restart per context). */
  var listener = new StageListener
  private var sc: SparkContext = null
  private var op = -1

  def attach(context: SparkContext): Unit = if (enabled) {
    sc = context
    listener = new StageListener
    sc.addSparkListener(listener)
  }

  def detach(): Unit = if (enabled && sc != null) {
    drain()
    sc.removeSparkListener(listener)
    sc = null
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled && sc != null) SparkInternals.drainListenerBus(sc)

  /** Bytes each operation's sink rendered. */
  val renderedBytes = mutable.HashMap[Int, Long]()
  def rendered(bytes: Long): Unit =
    if (enabled) renderedBytes(op) = renderedBytes.getOrElse(op, 0L) + bytes

  def beginOp(k: Int): Unit = op = k
  def endOp(): Unit = op = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      sc.setLocalProperty(SpanKey, name)
      sc.setLocalProperty(OpKey, op.toString)
      val t0 = System.nanoTime()
      val w0 = System.currentTimeMillis()
      try body
      finally {
        spans += Span(name, op, t0, System.nanoTime(), w0, System.currentTimeMillis())
        sc.setLocalProperty(SpanKey, null) // spans do not nest
      }
    }
}

object Tracer {
  val SpanKey = "trckperf.span"
  val OpKey = "trckperf.op"

  final case class Span(name: String, op: Int, startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
}

/** Per-stage task totals, summed from task-end events. */
final class StageAgg {
  var tasks = 0L
  var failed = 0L
  var runMs = 0L
  var cpuNs = 0L
  var inputRecords = 0L
  var shuffleReadBytes = 0L
  var shuffleReadRecords = 0L
  var fetchWaitMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var peakExecMem = 0L
  var overheadMs = 0L // scheduler delay + task deserialization
}

final case class JobRec(span: String, op: Int, stageIds: Seq[Int], startMs: Long, var endMs: Long = -1L)

final case class StageRec(
    order: Long,
    scan: Boolean,
    emits: Boolean,
    result: Boolean,
    agg: StageAgg,
)

final class StageListener extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val stages = mutable.LinkedHashMap[Int, StageRec]()
  val stageAggs = mutable.HashMap[Int, StageAgg]()
  private val submitOrder = mutable.HashMap[Int, Long]()
  private var nextOrder = 0L
  /** Cached RDDs a completed stage has already materialized: later stages
    * read them instead of recomputing their lineage. */
  private val materialized = mutable.HashSet[Int]()
  /** Cached RDD id -> op whose stage first materialized it. */
  val cachedBy = mutable.HashMap[Int, Int]()
  /** (rddId, splitIndex) -> largest stored size seen, bytes. */
  val rddBlocks = mutable.HashMap[(Int, Int), Long]()
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanKey))).getOrElse("")
    val op = props.flatMap(p => Option(p.getProperty(Tracer.OpKey))).map(_.toInt).getOrElse(-1)
    jobs(e.jobId) = JobRec(span, op, e.stageIds, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    submitOrder(e.stageInfo.stageId) = nextOrder
    nextOrder += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stageAggs.getOrElseUpdate(e.stageId, new StageAgg)
    a.tasks += 1
    if (!e.taskInfo.successful) a.failed += 1
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.inputRecords += m.inputMetrics.recordsRead
      a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      a.spillBytes += m.diskBytesSpilled
      a.gcMs += m.jvmGCTime
      a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
      // scheduler delay as the Spark UI derives it
      val gettingResult = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      val delay = math.max(0L,
        info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - gettingResult)
      a.overheadMs += delay + m.executorDeserializeTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val byId = info.rddInfos.map(r => r.id -> r).toMap
    // walk the stage's narrow lineage from its own RDD, stopping at cached
    // RDDs an earlier stage already filled: those are read, not recomputed
    val seen = mutable.HashSet[Int]()
    var todo = info.rddInfos.headOption.map(_.id).toList
    var emits = false
    val newlyCached = mutable.ArrayBuffer[Int]()
    while (todo.nonEmpty) {
      val id = todo.head
      todo = todo.tail
      if (seen.add(id) && !materialized.contains(id)) byId.get(id).foreach { r =>
        if (SparkInternals.scopeName(r) == "MapPartitions") emits = true
        if (r.storageLevel.isValid) newlyCached += id
        todo = r.parentIds.toList ++ todo
      }
    }
    val op = jobs.values.find(_.stageIds.contains(info.stageId)).map(_.op).getOrElse(-1)
    newlyCached.foreach { id => materialized += id; cachedBy.getOrElseUpdate(id, op) }
    stages(info.stageId) = StageRec(
      submitOrder.getOrElse(info.stageId, Long.MaxValue),
      scan = info.rddInfos.exists(_.name == "FileScanRDD"),
      emits = emits,
      result = SparkInternals.isResultStage(info),
      agg = stageAggs.getOrElseUpdate(info.stageId, new StageAgg),
    )
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    b.blockId.asRDDId.foreach { r =>
      val size = b.memSize + b.diskSize
      val k = (r.rddId, r.splitIndex)
      if (size > rddBlocks.getOrElse(k, 0L)) rddBlocks(k) = size
    }
  }

}
