package graft.engine

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.BinaryType
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.trck.{Fsm, LocalRunner, TrailMatcher}
import graft.trck.Compiled.CompiledProgram
import graft.trck.Fsm.Bindings
import graft.trck.LocalRunner.ForeachTuple

/** Map side of the trail exchange: each task packs its [[TrailEngine.project]]ed
  * rows into one `(__uuid, __rows)` fragment per trail. `__uuid` is the
  * child's own first column, so a layout's uuid partitioning and order
  * stay visible above the pack. `__rows` is the trail's `UnsafeRow`s back
  * to back, each behind an 8-byte header whose first int is its size, so
  * every row stays 8-byte aligned. The task buffers rows until they hold
  * [[TrailPack.BudgetBytes]], then emits one fragment per buffered trail
  * in first-seen order; a fragment is never larger than the budget plus
  * one row, and a trail whose rows are contiguous in the input yields
  * consecutive fragments. A `__ghost` row (column `ghostIdx`; -1: none)
  * only keeps its trail's source segment present, so it is dropped when
  * the trail's previously packed row in the buffer has the same source
  * (column `srcIdx`; -1: one source).
  */
private[graft] final case class TrailPack(ghostIdx: Int, srcIdx: Int, rows: Attribute, child: LogicalPlan)
    extends UnaryNode {
  override def output: Seq[Attribute] = Seq(child.output.head, rows)
  // every input column travels inside __rows: nothing may be pruned below
  override def references: AttributeSet = child.outputSet
  override def producedAttributes: AttributeSet = AttributeSet(rows)
  override protected def withNewChildInternal(newChild: LogicalPlan): TrailPack = copy(child = newChild)
}

private[graft] object TrailPack {
  /** Buffered row bytes per task before a flush: bounds a task's pack
    * memory, and is large enough that a map task of a few million events
    * ships each trail as one fragment.
    */
  val BudgetBytes: Int = 4 << 20

  def apply(layout: TrailEngine.RowLayout, child: LogicalPlan): TrailPack =
    TrailPack(layout.ghostIdx, if (layout.hasSrc) 2 else -1, AttributeReference("__rows", BinaryType)(), child)
}

/** Reduce side: consecutive `(__uuid, __rows)` fragments with equal uuid
  * are one trail, read by a [[TrailEngine.TrailReader]]; the output is the
  * emit rows ([[TrailEngine.emitSchema]]). Its exec requires its input
  * clustered and sorted by `__uuid`, so Spark plans the exchange and sort
  * only when the input lacks them.
  */
private[graft] final case class TrailMatch(spec: TrailMatchSpec, output: Seq[Attribute], child: LogicalPlan)
    extends UnaryNode {
  override def references: AttributeSet = child.outputSet
  override def producedAttributes: AttributeSet = outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan): TrailMatch = copy(child = newChild)
}

private[graft] object TrailMatch {
  def apply(spec: TrailMatchSpec, child: LogicalPlan): TrailMatch =
    TrailMatch(spec, TrailEngine.emitSchema.map(f => AttributeReference(f.name, f.dataType, f.nullable)()), child)
}

/** Plans [[TrailPack]] and [[TrailMatch]]; registered on the session by
  * [[TrailEngine.emits]].
  */
private[graft] object TrailStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TrailPack(ghostIdx, srcIdx, rows, child) => TrailPackExec(ghostIdx, srcIdx, rows, planLater(child)) :: Nil
    case TrailMatch(spec, output, child)          => TrailMatchExec(spec, output, planLater(child)) :: Nil
    case _                                        => Nil
  }
}

/** Packing keeps every row in its partition and emits a task's trails in
  * first-seen order, so a child partitioned by `__uuid` alone stays so,
  * and a child sorted by `__uuid` first yields fragments sorted by it.
  */
private[graft] final case class TrailPackExec(ghostIdx: Int, srcIdx: Int, rows: Attribute, child: SparkPlan)
    extends UnaryExecNode {
  private def uuid: Attribute = child.output.head
  override def output: Seq[Attribute] = Seq(uuid, rows)
  override def producedAttributes: AttributeSet = AttributeSet(rows)

  override def outputPartitioning: Partitioning = child.outputPartitioning match {
    case p: Partitioning with Expression if p.references.subsetOf(AttributeSet(uuid)) => p
    case SinglePartition => SinglePartition
    case p => UnknownPartitioning(p.numPartitions)
  }

  override def outputOrdering: Seq[SortOrder] = {
    val byUuid = SortOrder(uuid, Ascending)
    if (child.outputOrdering.headOption.exists(_.satisfies(byUuid))) Seq(byUuid) else Nil
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val (schema, ghost, src) = (child.schema, ghostIdx, srcIdx)
    child.execute().mapPartitions { part =>
      lazy val toUnsafe = UnsafeProjection.create(schema)
      new TrailPacker(part.map {
        case u: UnsafeRow => u
        case r            => toUnsafe(r)
      }, ghost, src)
    }
  }
  override protected def withNewChildInternal(newChild: SparkPlan): TrailPackExec = copy(child = newChild)
}

/** The [[TrailPack]] iterator of one task. Rows are copied into one arena
  * and chained per trail through the second int of their header; a flush
  * writes each trail's chain into its fragment row.
  */
private[engine] final class TrailPacker(in: Iterator[UnsafeRow], ghostIdx: Int, srcIdx: Int)
    extends Iterator[InternalRow] {
  import TrailPacker._

  private final class Run(val uuid: UTF8String) { var head, tail, bytes = 0; var src = 0L }

  private val runs = new java.util.LinkedHashMap[UTF8String, Run]()
  private var last: Run = null // the previous row's trail: contiguous input skips the lookup
  private var arena = new Array[Byte](64 << 10)
  private var used = 0
  private var flush: java.util.Iterator[Run] = java.util.Collections.emptyIterator()
  private val writer = new UnsafeRowWriter(2)

  private def append(r: UnsafeRow): Unit = {
    val key = if (r.isNullAt(0)) null else r.getUTF8String(0)
    val run =
      if (last != null && last.uuid == key) last
      else runs.get(key) match {
        case null =>
          val run = new Run(if (key == null) null else key.clone())
          runs.put(run.uuid, run)
          run
        case run => run
      }
    last = run
    val src = if (srcIdx < 0) 0L else r.getLong(srcIdx)
    if (run.bytes > 0 && run.src == src && ghostIdx >= 0 && r.getInt(ghostIdx) == 1) return
    run.src = src
    val size = r.getSizeInBytes
    val need = used + Header + size
    if (need > arena.length)
      arena = java.util.Arrays.copyOf(arena, math.max(need, math.min(2 * arena.length, TrailPack.BudgetBytes + (64 << 10))))
    Platform.putInt(arena, Base + used, size)
    r.writeToMemory(arena, Base + used + Header)
    if (run.bytes > 0) Platform.putInt(arena, Base + run.tail + 4, used) else run.head = used
    run.tail = used
    run.bytes += Header + size
    used = need
  }

  override def hasNext: Boolean = {
    if (!flush.hasNext && in.hasNext) {
      runs.clear(); last = null; used = 0
      while (used < TrailPack.BudgetBytes && in.hasNext) append(in.next())
      flush = runs.values.iterator
    }
    flush.hasNext
  }

  override def next(): InternalRow = {
    if (!hasNext) throw new NoSuchElementException
    val run = flush.next()
    writer.reset()
    writer.zeroOutNullBytes()
    if (run.uuid == null) writer.setNullAt(0) else writer.write(0, run.uuid)
    val start = writer.cursor
    writer.grow(run.bytes)
    var at = run.head
    var to = writer.cursor.toLong
    var left = run.bytes
    while (left > 0) {
      val len = Header + Platform.getInt(arena, Base + at)
      Platform.copyMemory(arena, Base + at, writer.getBuffer, to, len)
      to += len; left -= len
      at = Platform.getInt(arena, Base + at + 4)
    }
    writer.increaseCursor(run.bytes)
    writer.setOffsetAndSizeFromPreviousCursor(1, start)
    writer.getRow
  }
}

private object TrailPacker {
  val Header = 8
  val Base: Long = Platform.BYTE_ARRAY_OFFSET.toLong
}

/** What a [[TrailMatch]] task needs to read trails: the program, its
  * tuples, the row layout, bindings, fcalls, window entries by cookie and
  * the per-source min_ts cuts. Compared by identity.
  */
private[graft] final class TrailMatchSpec(
    prog: CompiledProgram,
    tuples: Broadcast[Vector[ForeachTuple]],
    layout: TrailEngine.RowLayout,
    params: Bindings,
    fcalls: Map[String, Fsm.Fcall],
    windows: Broadcast[Option[Map[String, IndexedSeq[LocalRunner.WindowEntry]]]],
    cuts: Broadcast[Array[Long]],
) extends Serializable {

  override def toString: String =
    s"${prog.rules.length} rules, ${tuples.value.length} tuples, ${layout.schema.length} columns"

  /** Match one partition of uuid-grouped fragments, one trail in memory at
    * a time: read the next trail and finalize it once the emit rows of the
    * previous one are drained. A trail's fragments are copied into one
    * arena per task, which the trail's rows then view; both are reused by
    * the next trail, so they grow to the longest trail.
    */
  def run(part: Iterator[InternalRow], m: Map[String, SQLMetric]): Iterator[InternalRow] = {
    val reader = new TrailEngine.TrailReader(prog, tuples.value, layout, params, fcalls, windows.value)
    val srcCuts = cuts.value
    val nFields = layout.schema.length
    val Seq(fragments, trails, eventsIn, eventsKept, eventSteps, emitRows) =
      Seq("fragments", "trails", "eventsIn", "eventsKept", "eventSteps", "emitRows").map(m)

    /** A source's min_ts cut. Single-source runs carry no cuts (src tag 0,
      * cuts empty); a TAGGED source beyond the cuts array means the caller
      * lost the unionSources cuts — silently treating it as uncut would
      * include events below that source's min_ts.
      */
    val cutOf: Long => Long = src =>
      if (srcCuts.isEmpty) 0L
      else if (src >= 0 && src < srcCuts.length) srcCuts(src.toInt)
      else throw new IllegalStateException(
        s"source index $src has no min_ts cut (${srcCuts.length} cuts) — " +
          "pass unionSources' cuts through srcCuts")

    var rows = new Array[InternalRow](256)
    var views = new Array[UnsafeRow](256)
    var n = 0
    // this trail's fragments back to back at [0, used), then the next
    // trail's first fragment at [ahead, end)
    var arena = new Array[Byte](64 << 10)
    var used, ahead, end = 0
    var more = false
    var uuid: UTF8String = null // of the fragment at [ahead, end)
    /** Copy the next fragment's rows to `end`, if there is one. */
    def advance(): Unit = {
      more = part.hasNext
      if (more) {
        val r = part.next()
        uuid = if (r.isNullAt(0)) null else r.getUTF8String(0)
        r match {
          case u: UnsafeRow =>
            val offsetAndSize = u.getLong(1)
            append(u.getBaseObject, u.getBaseOffset + (offsetAndSize >>> 32), offsetAndSize.toInt)
          case _ =>
            val b = r.getBinary(1)
            append(b, TrailPacker.Base, b.length)
        }
        fragments += 1
      }
    }
    def append(base: AnyRef, offset: Long, size: Int): Unit = {
      if (end + size > arena.length)
        arena = java.util.Arrays.copyOf(arena, math.max(end + size, 2 * arena.length))
      Platform.copyMemory(base, offset, arena, TrailPacker.Base + end, size)
      end += size
    }
    def split(): Unit = {
      var at = 0
      while (at < used) {
        val size = Platform.getInt(arena, TrailPacker.Base + at)
        if (n == views.length) {
          views = java.util.Arrays.copyOf(views, 2 * n); rows = java.util.Arrays.copyOf(rows, 2 * n)
        }
        if (views(n) == null) views(n) = new UnsafeRow(nFields)
        views(n).pointTo(arena, TrailPacker.Base + at + TrailPacker.Header, size)
        rows(n) = views(n)
        n += 1
        at += TrailPacker.Header + size
      }
    }
    advance()

    new Iterator[InternalRow] {
      private var pos = 0
      override def hasNext: Boolean = {
        while (pos >= reader.out.length && more) {
          reader.out.clear(); pos = 0; n = 0
          // the fragment read ahead opens this trail; same-uuid ones follow
          System.arraycopy(arena, ahead, arena, 0, end - ahead)
          used = end - ahead; ahead = used; end = used
          val trail = if (uuid == null) null else uuid.clone()
          advance()
          while (more && uuid == trail) { used = end; ahead = used; advance() }
          split()
          val (in0, kept0, steps0) = (reader.eventsIn, reader.eventsKept, TrailMatcher.threadSteps)
          val cookie = if (trail == null) null else trail.toString
          reader.finish(cookie, reader.read(cookie, rows, n, reader.initial, cutOf))
          trails += 1
          eventsIn += reader.eventsIn - in0
          eventsKept += reader.eventsKept - kept0
          eventSteps += TrailMatcher.threadSteps - steps0
          emitRows += reader.out.length
        }
        pos < reader.out.length
      }
      override def next(): InternalRow = { val r = reader.out(pos); pos += 1; r }
    }
  }
}

private[graft] final case class TrailMatchExec(spec: TrailMatchSpec, output: Seq[Attribute], child: SparkPlan)
    extends UnaryExecNode {

  override def producedAttributes: AttributeSet = outputSet
  override def requiredChildDistribution: Seq[Distribution] = Seq(ClusteredDistribution(Seq(child.output.head)))
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(Seq(SortOrder(child.output.head, Ascending)))

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "fragments" -> SQLMetrics.createMetric(sparkContext, "fragments in"),
    "trails" -> SQLMetrics.createMetric(sparkContext, "trails"),
    "eventsIn" -> SQLMetrics.createMetric(sparkContext, "events in"),
    "eventsKept" -> SQLMetrics.createMetric(sparkContext, "events kept after dedup"),
    "eventSteps" -> SQLMetrics.createMetric(sparkContext, "event steps"),
    "emitRows" -> SQLMetrics.createMetric(sparkContext, "emit rows"),
  )

  override protected def doExecute(): RDD[InternalRow] = {
    val (s, m) = (spec, metrics)
    child.execute().mapPartitions(part => s.run(part, m))
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TrailMatchExec = copy(child = newChild)
}
