package graft.engine

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoder, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, SortOrder, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{LazilyGeneratedOrdering, UnsafeRowWriter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

import graft.trck._
import graft.trck.Compiled.CompiledProgram
import graft.trck.Fsm.{Bindings, FsmState, TrailEvent}
import graft.trck.LocalRunner.ForeachTuple

/** The distributed trail-matching operator: runs a trck program over a
  * `(uuid, ts, fields…)` DataFrame.
  *
  * Physical shape (the plan that survives 100 TB):
  *
  *   scan (pruned to uuid + ts + program fields, filters pushed down)
  *     → [[project]]: the one trail row projection
  *     → [[TrailPack]] (map side, narrow): each task concatenates each
  *       trail's projected `UnsafeRow`s into one `(__uuid, __rows)`
  *       fragment, flushing every buffered trail once the task holds
  *       [[TrailPack.BudgetBytes]] — the exchange and its sort carry about
  *       one fragment per (trail × map task), not one row per event
  *     → exchange by __uuid                // the ONE shuffle
  *     → sort by __uuid                    // brings a trail's fragments together
  *     → [[TrailMatch]]: consecutive same-uuid fragments are one trail,
  *       copied into one arena per task; a [[TrailReader]] views them as
  *       `UnsafeRow`s, orders them by (source, ts, tiebreak…) — primitive
  *       `(source, ts)` keys first, the generated ordering only on runs of
  *       equal keys — drops consecutive duplicates once per source segment,
  *       decodes each compared field to the canonical String of a program
  *       value (other values to a new String), and replays each segment
  *       through the cookie's window entries, each entry on its own ts
  *       slice ([[graft.trck.TrailMatcher.runEntries]]: one pass per trail
  *       for all foreach tuples, stepping tuple classes in place per event
  *       — at most G + N event-steps per event for G starting states and N
  *       tuples whose values occur); finalize at MAX_TIMESTAMP inline (no
  *       cross-trail state), emit compact yield `UnsafeRow`s. No event is
  *       decoded into an external `Row`
  *     → result fold (TrckSparkRunner.aggregateEmits, for runRaw): each
  *       TrailMatch task adds its emit rows into its own per-tuple
  *       results, and the driver merges them — no second shuffle
  *
  * [[TrailMatch]] requires its input clustered and sorted by `__uuid`, and
  * [[TrailPack]] passes its input's uuid partitioning and order through,
  * so Spark plans the exchange and sort only where the input lacks them:
  * over a persisted [[prepare]] layout it plans neither, and over a table
  * bucketed by uuid only the sort of its fragments.
  *
  * Matching state never outlives one trail, so executor memory is
  * O(pack budget + longest trail + tuple count), independent of partition
  * size — the property that lets this run on 1000 executors with skewed
  * users. The reduce side's buffers (fragment arena, row views, sort
  * scratch, the class loop's scratch and results pool) are reused from
  * trail to trail and grow to the longest trail.
  *
  * The trail row codec ([[project]], [[TrailReader]], [[emitSchema]]) is
  * also the streaming engine's: [[graft.streaming.TrailStream.emits]]
  * feeds the reader one cookie's micro-batch rows at a time.
  *
  * LocalRunner (the golden-tested definition) runs each tuple alone;
  * Spark ≡ LocalRunner fuzzing checks TrailMatcher's class loop against it.
  */
object TrailEngine {

  /** Spark conf key bounding the implicit-foreach lexicon sweep. */
  val MaxImplicitForeachKey = "spark.graft.maxImplicitForeach"
  val MaxImplicitForeachDefault = 100000L

  /** The local property `SparkContext.setJobDescription` writes. */
  private val JobDescriptionKey = "spark.job.description"

  /** Run `body` (which starts Spark jobs on this thread) under the job
    * description `description`, restoring the caller's afterwards; the
    * caller's job group and other local properties are left alone.
    */
  private[graft] def withJobDescription[T](sc: org.apache.spark.SparkContext, description: String)(body: => T): T = {
    val prev = sc.getLocalProperty(JobDescriptionKey)
    sc.setJobDescription(description)
    try body
    finally sc.setLocalProperty(JobDescriptionKey, prev)
  }

  /** Implicit-foreach lexicon sweep: the distinct non-empty values of
    * `field` (cast to string), collected to the driver and sorted in
    * Scala `String` order, as LocalRunner sorts. The collect is
    * reference-sanctioned (the reference sweeps the DB lexicons the same
    * way, src/match_traildb.c:188-236) and fine for enum-like fields.
    *
    * One Spark job, one scan of the pruned column, no shuffle: each task
    * gathers its partition's distinct values, copying a value only on
    * first sight, and stops reading once it holds `bound + 1`; the driver
    * merges task results as they arrive and stops growing the merged set
    * at `bound + 1`. The bound ([[MaxImplicitForeachKey]]) is exact: a
    * field with more than `bound` distinct values fails with a clear
    * error instead of a driver OOM. The job runs on the caller's thread,
    * so the caller's job group and other local properties attribute it;
    * its job description names the sweep and is restored afterwards.
    */
  def lexiconSweep(events: DataFrame, field: String): Vector[String] = {
    // a field that is not a column reads as "" everywhere else in the
    // engine (emits' projection) — the sweep over it is the empty lexicon,
    // not an unresolved-column AnalysisException
    if (!events.columns.contains(field)) return Vector.empty
    val spark = events.sparkSession
    val bound = spark.conf.getOption(MaxImplicitForeachKey)
      .map(_.toLong).getOrElse(MaxImplicitForeachDefault)
    val cap = bound + 1
    val rows = events.select(col(field).cast(StringType)).queryExecution.toRdd
    val sweep = (it: Iterator[InternalRow]) => {
      val seen = new java.util.HashSet[UTF8String]
      while (seen.size < cap && it.hasNext) {
        val r = it.next()
        if (!r.isNullAt(0)) {
          val v = r.getUTF8String(0)
          // rows are reused buffers: copy only a value not seen before
          if (v.numBytes > 0 && !seen.contains(v)) seen.add(v.clone())
        }
      }
      seen.asScala.iterator.map(_.toString).toArray
    }
    val merged = mutable.HashSet.empty[String]
    val sc = spark.sparkContext
    withJobDescription(sc, s"trck lexicon sweep: $field") {
      sc.runJob(rows, sweep, (_: Int, vs: Array[String]) => {
        val it = vs.iterator
        while (merged.size < cap && it.hasNext) merged += it.next()
      })
    }
    if (merged.size > bound)
      throw new IllegalArgumentException(
        s"implicit foreach over '$field' would sweep more than $bound distinct " +
          s"values: the lexicon is collected to the driver, so this field is " +
          s"too high-cardinality for an implicit sweep — bind an explicit " +
          s"foreach array, or raise $MaxImplicitForeachKey")
    merged.toVector.sorted
  }

  /** The foreach tuples a run iterates: one empty tuple for a program
    * without foreach, else `explicit`, else the implicit-foreach sweep —
    * "" first, then [[lexiconSweep]] of the bound field over `lexicon`
    * (reference: src/match_traildb.c:188-236).
    */
  def runTuples(
      prog: CompiledProgram,
      explicit: Option[Vector[ForeachTuple]],
      lexicon: DataFrame,
  ): Vector[ForeachTuple] =
    if (prog.groupbyVars.isEmpty) Vector(ForeachTuple(Vector.empty))
    else
      explicit.getOrElse {
        require(prog.groupbyVars.size == 1, "implicit foreach requires exactly one var")
        val field = prog.varFields(prog.groupbyVars.head)
        ("" +: lexiconSweep(lexicon, field)).map(v => ForeachTuple(Vector(Left(v))))
      }

  /** Emitted row schema: one row per (trail × tuple × yield-item), or per
    * (trail × tuple × sketch) for HLL yields. `uuid` is the result ctx id:
    * the window entry id inside an entry's run, the cookie otherwise (and
    * at finalization). `item` is the encoded tuple for `s`/`m` rows, null
    * for `c` rows, and for `h` rows the trail-local sketch's nonzero
    * registers as [[graft.trck.Hll.sparse]] (index hi, index lo, rank)
    * triples — ≤ 3k bytes for k distinct items, never the dense 16 KiB
    * array. TrckSparkRunner.aggregateEmits adds each row back into a
    * [[graft.trck.Results]] ([[graft.trck.Results.addEmit]]).
    * [[graft.streaming.TrailStream.emits]] writes the same rows through
    * the same [[TrailReader]].
    */
  private[graft] val emitSchema = StructType(Seq(
    StructField("uuid", StringType),
    StructField("tuple_idx", IntegerType),
    StructField("kind", StringType), // c / s / m / h
    StructField("dst", StringType),
    StructField("item", BinaryType),
    StructField("n", LongType),
  ))

  /** Encoder of [[emitSchema]] rows. */
  private[graft] val emitEncoder: Encoder[Row] = RowEncoder.encoderFor(emitSchema)

  /** Column positions of a [[project]]ed frame: `__uuid` at 0, `__ts` at
    * 1, `__srcord` at 2 when `hasSrc`, then the `nDedup` string columns
    * that make up the consecutive-duplicate compare; `fieldIdx(i)` is the
    * position of `prog.fields(i)` among them (-1: not a column, reads
    * ""), then `nTiebreak` tiebreaks, and `ghostIdx` that of `__ghost`
    * (-1: none). `schema` is the projection's own; columns after it (a
    * stream's watermark column) join no compare and no ordering.
    */
  private[graft] final case class RowLayout(
      hasSrc: Boolean, nDedup: Int, fieldIdx: Array[Int], nTiebreak: Int, ghostIdx: Int, schema: StructType) {
    val fieldBase: Int = if (hasSrc) 3 else 2

    /** The order of a trail's rows: source, ts, then each tiebreak,
      * ascending with nulls first.
      */
    def ordering: LazilyGeneratedOrdering = {
      val tiebreaks = (0 until nTiebreak).map(_ + fieldBase + nDedup)
      val key = (if (hasSrc) Seq(2) else Nil) ++ (1 +: tiebreaks)
      new LazilyGeneratedOrdering(key.map(i =>
        SortOrder(BoundReference(i, schema(i).dataType, nullable = true), Ascending)))
    }
  }

  /** The trail row projection both engines read: uuid and ts, the source
    * index AS A NUMBER (a string cast would order source 10 before 2),
    * every non-reserved column as a string, tiebreaks in their own types
    * (a numeric tiebreak sorted as a string would order "10" before "9"
    * under equal ts) and `__ghost`. Every non-reserved column joins the
    * dedup compare: the reference compares the full event (src/ctx.c:
    * 112-131), so an event differing only in a column the program never
    * reads is not a duplicate. The source index, tiebreaks and `__ghost`
    * do not: per-source segmentation already prevents cross-boundary
    * elision, and `__ghost` rows (rows runRaw's filters drop while presence
    * is observable) assert a trail's presence but are never events.
    */
  private[graft] def project(
      prog: CompiledProgram,
      events: DataFrame,
      uuidCol: String,
      tsCol: String,
      tiebreak: Seq[String] = Nil,
      srcCol: Option[String] = None,
  ): (DataFrame, RowLayout) = {
    val hasGhost = events.columns.contains("__ghost")
    val reserved = (Seq(uuidCol, tsCol) ++ srcCol ++ (if (hasGhost) Seq("__ghost") else Nil)).toSet
    val dedupCols = events.columns.filterNot(reserved).toSeq
    val projected = events.select(
      (col(uuidCol).cast(StringType).as("__uuid") +:
        graft.Tables.tsLong(events, tsCol).as("__ts") +:
        srcCol.map(c => col(c).cast(LongType).as("__srcord")).toSeq) ++
        dedupCols.map(c => col(c).cast(StringType).as(c)) ++
        tiebreak.zipWithIndex.map { case (c, i) => col(c).as(s"__tb$i") } ++
        (if (hasGhost) Seq(col("__ghost").cast(IntegerType).as("__ghost")) else Nil): _*
    )
    val fieldBase = if (srcCol.isDefined) 3 else 2
    val fieldIdx = prog.fields.map { f =>
      val i = dedupCols.indexOf(f)
      if (i >= 0) i + fieldBase else -1
    }
    val ghostIdx = if (hasGhost) fieldBase + dedupCols.length + tiebreak.length else -1
    (projected,
      RowLayout(srcCol.isDefined, dedupCols.length, fieldIdx, tiebreak.length, ghostIdx, projected.schema))
  }

  /** Window entries per cookie, in window-file order. */
  private[graft] def windowsByCookie(
      windows: Option[Seq[LocalRunner.WindowEntry]]): Option[Map[String, IndexedSeq[LocalRunner.WindowEntry]]] =
    windows.map(_.groupBy(_.cookie).view.mapValues(_.toIndexedSeq).toMap)

  /** UTF-8 bytes → the canonical `String` of each of `values`, probed
    * straight from a row's bytes (open addressing), so a hit decodes
    * nothing and hands out a String whose hash is cached.
    */
  private final class CanonicalValues(values: Iterable[String]) {
    private val vs = values.toArray
    private val mask = Integer.highestOneBit(4 * vs.length + 3) - 1
    private val keys = new Array[Array[Byte]](mask + 1)
    private val strs = new Array[String](mask + 1)
    private val hashes = new Array[Int](mask + 1)
    vs.foreach { v =>
      val b = v.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val h = hash(b, Platform.BYTE_ARRAY_OFFSET.toLong, b.length)
      var i = h & mask
      while (strs(i) != null) i = (i + 1) & mask
      keys(i) = b; strs(i) = v; hashes(i) = h
    }

    private def hash(base: AnyRef, offset: Long, len: Int): Int = {
      var h = len
      var i = 0
      while (i < len) { h = 31 * h + Platform.getByte(base, offset + i); i += 1 }
      h ^ (h >>> 16)
    }

    /** The canonical String of the `len` bytes at `offset`, or null. */
    def get(base: AnyRef, offset: Long, len: Int): String = {
      val h = hash(base, offset, len)
      var i = h & mask
      while (strs(i) != null) {
        if (hashes(i) == h && keys(i).length == len &&
            ByteArrayMethods.arrayEquals(keys(i), Platform.BYTE_ARRAY_OFFSET.toLong, base, offset, len))
          return strs(i)
        i = (i + 1) & mask
      }
      null
    }
  }

  /** The trail row codec of one task: orders a trail's [[project]]ed
    * rows, decodes them into [[TrailEvent]]s, replays them, and encodes
    * each tuple's [[Results]] as [[emitSchema]] `UnsafeRow`s into `out`.
    * Not serializable: build one inside the task.
    *
    * A field the program compares decodes through a table from UTF-8 bytes
    * to the canonical String of each value it can be compared with
    * (literals, params, set params, foreach tuple values): predicates and
    * the foreach value index then hit on identity with a cached hash. Other
    * values, and fields the program only yields, decode to a new String.
    * Its buffers grow to the longest trail read.
    */
  private[graft] final class TrailReader(
      prog: CompiledProgram,
      tuples: Vector[ForeachTuple],
      layout: RowLayout,
      params: Bindings,
      fcalls: Map[String, Fsm.Fcall],
      winMap: Option[Map[String, IndexedSeq[LocalRunner.WindowEntry]]],
  ) {
    val out = mutable.ArrayBuffer[InternalRow]()
    /** non-ghost rows read, and those kept after consecutive-duplicate elision */
    var eventsIn, eventsKept = 0L
    // one source segment's events
    private var evs = new Array[TrailEvent](256)
    private var nEvs = 0
    private val ordering = layout.ordering
    private val writer = new UnsafeRowWriter(emitSchema.length)
    import layout.{fieldBase, fieldIdx, ghostIdx, hasSrc, nDedup, nTiebreak}

    /** per program field, its canonical values (null: not compared) */
    private val canon: Array[CanonicalValues] = {
      val bySlot = Array.fill(prog.fields.length)(mutable.LinkedHashSet[String]())
      lazy val bound = params +: tuples.map(_.bind(prog.groupbyVars, params))
      for (r <- prog.rules; c <- r.clauses :+ r.after; p <- c.preds) p match {
        case Compiled.EqLit(slot, v) if slot >= 0 => bySlot(slot) += v
        case Compiled.EqScalar(slot, _, n) if slot >= 0 => bound.foreach(b => Option(b.scalar(n)).foreach(bySlot(slot) += _))
        case Compiled.InSet(slot, _, n) if slot >= 0 => bound.foreach(b => Option(b.set(n)).foreach(bySlot(slot) ++= _))
        case _ => ()
      }
      bySlot.map(vs => if (vs.isEmpty) null else new CanonicalValues(vs))
    }

    private def field(r: InternalRow, i: Int, table: CanonicalValues): String =
      if (r.isNullAt(i)) ""
      else r match {
        case u: UnsafeRow if table != null =>
          val offsetAndSize = u.getLong(i)
          val len = offsetAndSize.toInt
          val s = table.get(u.getBaseObject, u.getBaseOffset + (offsetAndSize >>> 32), len)
          if (s != null) s else u.getUTF8String(i).toString
        case _ => r.getUTF8String(i).toString
      }

    /** dedup compare of one string column: null and "" are equal */
    private def sameField(a: InternalRow, b: InternalRow, i: Int): Boolean = {
      val an = a.isNullAt(i) || a.getUTF8String(i).numBytes == 0
      val bn = b.isNullAt(i) || b.getUTF8String(i).numBytes == 0
      if (an || bn) an && bn else a.getUTF8String(i) == b.getUTF8String(i)
    }

    private val Seq(kindC, kindS, kindM, kindH) = Seq("c", "s", "m", "h").map(UTF8String.fromString)
    private val dsts = new java.util.HashMap[String, UTF8String]()

    private def emit(ctx: UTF8String, j: Int, kind: UTF8String, dst: String, item: Array[Byte], n: Long): Unit = {
      writer.reset()
      writer.zeroOutNullBytes()
      if (ctx == null) writer.setNullAt(0) else writer.write(0, ctx)
      writer.write(1, j)
      writer.write(2, kind)
      writer.write(3, dsts.computeIfAbsent(dst, d => UTF8String.fromString(d)))
      if (item == null) writer.setNullAt(4) else writer.write(4, item)
      writer.write(5, n)
      out += writer.getRow.copy()
    }

    private def emitAs(ctxCookie: String): (Int, Results) => Unit = {
      val ctx = UTF8String.fromString(ctxCookie)
      (j: Int, r: Results) =>
        // O(1) skip for identity results: a wide foreach broadcasts one
        // scratch to thousands of absent-value tuples that yielded
        // nothing — iterating four empty/zero maps per tuple was
        // measurable at 10k-tuple cardinality
        if (r.touched) {
          r.counters.foreach { case (d, v) => if (v != 0) emit(ctx, j, kindC, d, null, v) }
          r.sets.foreach { case (d, m) => m.foreach { case (t, c) => emit(ctx, j, kindS, d, t, c) } }
          r.msets.foreach { case (d, m) => m.foreach { case (t, c) => emit(ctx, j, kindM, d, t, c) } }
          // the trail-local sketch's nonzero registers (Results.addEmit merges them)
          r.hlls.foreach { case (d, h) => emit(ctx, j, kindH, d, h.sparse, 1L) }
        }
    }

    /** Every tuple in the program's initial state. ONE shared state:
      * processTrail never mutates saved states, and equal states start in
      * one class.
      */
    def initial: Array[FsmState] = {
      val init = FsmState.initial(prog)
      Array.fill(tuples.length)(init)
    }

    // sort scratch: (source, ts) keys by input position, row indices,
    // ascending-run starts
    private var srcKey, tsKey = new Array[Long](256)
    private var order, merged = new Array[Int](256)
    private var runs = new Array[Int](257)
    private var moved = new Array[InternalRow](256)

    private def keyLess(a: Int, b: Int): Boolean =
      if (hasSrc && srcKey(a) != srcKey(b)) srcKey(a) < srcKey(b) else tsKey(a) < tsKey(b)

    /** Sort `rows(0 until n)` by [[RowLayout.ordering]], stably: by the
      * primitive `(__srcord, __ts)` keys first (input already in key order
      * is left as it is, else its ascending runs are merged pairwise), then
      * each run of equal keys by the generated ordering when tiebreak
      * columns exist. With a null source or ts, all rows sort by the
      * generated ordering.
      */
    private def sortRows(rows: Array[InternalRow], n: Int): Unit = {
      if (order.length < n) {
        val cap = math.max(n, 2 * order.length)
        srcKey = new Array[Long](cap); tsKey = new Array[Long](cap)
        order = new Array[Int](cap); merged = new Array[Int](cap)
        runs = new Array[Int](cap + 1); moved = new Array[InternalRow](cap)
      }
      var nulls = false
      var nRuns = 0
      var i = 0
      while (i < n) {
        val r = rows(i)
        if (hasSrc) { nulls |= r.isNullAt(2); srcKey(i) = r.getLong(2) }
        nulls |= r.isNullAt(1)
        tsKey(i) = r.getLong(1)
        order(i) = i
        if (i == 0 || keyLess(i, i - 1)) { runs(nRuns) = i; nRuns += 1 }
        i += 1
      }
      if (nulls) { java.util.Arrays.sort(rows, 0, n, ordering); return }
      var a = order
      if (nRuns > 1) {
        runs(nRuns) = n
        var b = merged
        while (nRuns > 1) {
          // merge runs pairwise from a into b, the left run first on equal keys
          var w = 0; var r = 0
          while (r < nRuns) {
            val lo = runs(r); val mid = runs(math.min(r + 1, nRuns)); val hi = runs(math.min(r + 2, nRuns))
            var p = lo; var q = mid; var k = lo
            while (k < hi) {
              if (q >= hi || (p < mid && !keyLess(a(q), a(p)))) { b(k) = a(p); p += 1 }
              else { b(k) = a(q); q += 1 }
              k += 1
            }
            runs(w) = lo; w += 1
            r += 2
          }
          runs(w) = n; nRuns = w
          val t = a; a = b; b = t
        }
        i = 0
        while (i < n) { moved(i) = rows(a(i)); i += 1 }
        System.arraycopy(moved, 0, rows, 0, n)
        java.util.Arrays.fill(moved.asInstanceOf[Array[AnyRef]], 0, n, null)
      }
      if (nTiebreak > 0) {
        var from = 0
        i = 1
        while (i <= n) {
          if (i == n || keyLess(a(i - 1), a(i))) {
            if (i - from > 1) java.util.Arrays.sort(rows, from, i, ordering)
            from = i
          }
          i += 1
        }
      }
    }

    /** Read trail `uuid` from `rows(0 until n)`, all of its rows in any
      * order: sort them by [[RowLayout.ordering]] (stable, so rows equal on
      * the key keep their given order), then in one pass ghost rows
      * establish the trail but add no event, an event at or above
      * [[Compiled.MaxTimestamp]] fails, consecutive duplicates are
      * dropped against the previous kept row, and each source segment
      * replays through the cookie's window entries from the state the
      * previous segment left, with `cutOf(source)` as its min_ts cut, as
      * soon as its last row is read. Returns the states the last segment
      * leaves.
      */
    def read(uuid: String, rows: Array[InternalRow], n: Int, from: Array[FsmState],
             cutOf: Long => Long): Array[FsmState] = {
      sortRows(rows, n)
      val entries = TrailMatcher.entriesOf(winMap, uuid)
      var carried = from
      var src = if (hasSrc && n > 0) rows(0).getLong(2) else 0L
      var prev: InternalRow = null
      // per segment, every window entry runs from the state the
      // previous source left and the LAST entry's output carries
      // (LocalRunner dbStates overwrite)
      def replay(states: Array[FsmState], segSrc: Long): Array[FsmState] = {
        val out = TrailMatcher.runEntries(prog, tuples, states, java.util.Arrays.copyOf(evs, nEvs), entries,
          cutOf(segSrc), params, fcalls, emitAs)
        java.util.Arrays.fill(evs.asInstanceOf[Array[AnyRef]], 0, nEvs, null)
        nEvs = 0
        out
      }
      var k = 0
      while (k < n) {
        val cur = rows(k)
        k += 1
        if (hasSrc && cur.getLong(2) != src) {
          carried = replay(carried, src); prev = null; src = cur.getLong(2)
        }
        if (ghostIdx < 0 || cur.getInt(ghostIdx) != 1) {
          Compiled.requireEventTs(uuid, cur.getLong(1))
          eventsIn += 1
          val dup = prev != null && prev.getLong(1) == cur.getLong(1) && {
            var i = fieldBase; var same = true
            while (same && i < fieldBase + nDedup) { same = sameField(prev, cur, i); i += 1 }
            same
          }
          if (!dup) {
            val arr = new Array[String](fieldIdx.length)
            var i = 0
            while (i < arr.length) {
              arr(i) = if (fieldIdx(i) == -1) "" else field(cur, fieldIdx(i), canon(i))
              i += 1
            }
            if (nEvs == evs.length) evs = java.util.Arrays.copyOf(evs, 2 * nEvs)
            evs(nEvs) = new TrailEvent(cur.getLong(1), arr)
            nEvs += 1
            eventsKept += 1
            prev = cur
          }
        }
      }
      replay(carried, src)
    }

    /** MAX_TIMESTAMP finalization, once per cookie with ctx = the real
      * cookie (reference: src/match_traildb.c:899-944 iterates the
      * cookie-keyed states map).
      */
    def finish(uuid: String, states: Array[FsmState]): Unit =
      TrailMatcher.finalizeTrail(prog, tuples, states, uuid, params, fcalls, emitAs(uuid))
  }

  /** Cluster + sort a trail events frame ONCE for repeated trail queries.
    * Persisted, the result carries its uuid partitioning and order into
    * every later [[emits]] plan, which then has no exchange and no sort of
    * its own — the dominant cost of every trail query. A table written
    * with `bucketBy(n, uuidCol)` is a durable layout: its scan reports the
    * same partitioning, and emits adds only a sort of its fragments.
    *
    * The reader orders the rows inside a trail itself (by source, ts,
    * tiebreak); the within-partition order here keeps each trail's rows in
    * order for the other readers of the layout (the `ta_*_prepared` window
    * queries), on the same cast values the reader orders by.
    *
    * The layout holds the events and nothing else, like a TrailDB: a
    * trail's presence is its rows, and runRaw keeps a row that its filters
    * drop as a `__ghost` row whenever presence is observable. A multi-source
    * layout is the uncut [[TrckSparkRunner.unionSources]] frame, ordered by
    * its `__src` column too, and runRaw applies the cut.
    */
  def prepare(
      events: DataFrame,
      uuidCol: String,
      tsCol: String,
      tiebreak: Seq[String] = Nil,
  ): DataFrame =
    events
      .repartition(col(uuidCol))
      .sortWithinPartitions(
        col(uuidCol) +:
          (srcColumn(events).map(c => col(c).cast(LongType)).toSeq ++
            (graft.Tables.tsLong(events, tsCol) +: tiebreak.map(col))): _*)

  /** The source-index column of a multi-source frame
    * ([[TrckSparkRunner.unionSources]]), if it has one.
    */
  private[graft] def srcColumn(events: DataFrame): Option[String] =
    Some("__src").filter(events.columns.contains)

  /** Run `prog` over `events`, which must contain `uuidCol`, `tsCol`
    * (long seconds) and a column per program-referenced field (missing
    * columns read as ""). Extra columns participate in consecutive-dup
    * elision only (reference semantics: dedup compares the full event).
    * `tiebreak` columns complete the per-trail event order under equal ts.
    */
  def emits(
      prog: CompiledProgram,
      events: DataFrame,
      uuidCol: String,
      tsCol: String,
      tiebreak: Seq[String] = Nil,
      params: Bindings = Bindings(),
      foreachTuples: Option[Vector[ForeachTuple]] = None,
      fcalls: Map[String, Fsm.Fcall] = Map.empty,
      /** window-file entries, in file order (reference window_set): each
        * listed cookie's trail is matched once PER ENTRY — own ctx cookie
        * (the id), own [start, end) bounds — while FSM state stays keyed by
        * the real cookie (every entry of one DB starts from the state the
        * previous DB left; the LAST entry's output state carries forward;
        * finalization runs once per cookie) — exactly LocalRunner /
        * src/match_traildb.c:513-560 + j128m keying at :570,:789.
        * Unlisted trails are read and skipped; drop them upstream
        * (broadcast semi-join) so they never reach the shuffle.
        */
      windows: Option[Seq[LocalRunner.WindowEntry]] = None,
      /** the min_ts cut of each source of a multi-source frame (one with
        * a `__src` column, see [[TrckSparkRunner.unionSources]]): each
        * trail replays its sources sequentially, and `srcCuts(i)` feeds
        * source i's ctx window start like LocalRunner's
        * `max(windowStart, minTs)` (Local.scala) — so Y5
        * cookie_timestamp_filter_start yields match, and rows below the
        * cut never enter a replay.
        */
      srcCuts: Array[Long] = Array.empty,
  ): DataFrame = {
    val spark = events.sparkSession
    val tuples = runTuples(prog, foreachTuples, events)
    val (projected, layout) = project(prog, events, uuidCol, tsCol, tiebreak, srcColumn(events))
    PlanBridge.registerStrategy(spark, TrailStrategy)
    val sc = spark.sparkContext
    val spec = new TrailMatchSpec(prog, sc.broadcast(tuples), layout, params, fcalls,
      sc.broadcast(windowsByCookie(windows)), sc.broadcast(srcCuts))
    PlanBridge.ofRows(spark, TrailMatch(spec, TrailPack(layout, PlanBridge.logicalPlan(projected))))
  }

  /** Counter results as a DataFrame: (tuple vars…, dst, value), summed
    * across trails — the A1 monoid as a plain Spark aggregation.
    */
  def counters(
      emitted: DataFrame,
      prog: CompiledProgram,
      tuples: Vector[ForeachTuple],
  ): DataFrame = {
    val agg = emitted
      .filter(col("kind") === "c")
      .groupBy("tuple_idx", "dst")
      .agg(sum("n").as("value"))
    withTupleCols(agg, prog, tuples)
  }

  /** Per-uuid counter results: (uuid, dst, value). */
  def countersByUuid(emitted: DataFrame): DataFrame =
    emitted
      .filter(col("kind") === "c")
      .groupBy("uuid", "dst")
      .agg(sum("n").as("value"))

  /** Join the small foreach-tuple table back for readable output. */
  private def withTupleCols(df: DataFrame, prog: CompiledProgram, tuples: Vector[ForeachTuple]): DataFrame = {
    val spark = df.sparkSession
    import scala.jdk.CollectionConverters._
    val varNames = prog.groupbyVars.map(v => Ir.stripType(v))
    val schema = StructType(
      StructField("tuple_idx", IntegerType) +: varNames.map(n => StructField(n, StringType)))
    val rows = tuples.zipWithIndex.map { case (t, i) =>
      Row.fromSeq(i +: t.items.map {
        case Left(s)   => s
        case Right(ss) => ss.toSeq.sorted.mkString(",")
      })
    }
    val tupleDf = spark.createDataFrame(rows.asJava, schema)
    if (varNames.isEmpty) df else df.join(broadcast(tupleDf), "tuple_idx")
  }
}
