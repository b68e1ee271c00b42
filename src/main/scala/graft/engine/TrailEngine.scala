package graft.engine

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoder, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
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
  *     → repartition(uuid)                 // the ONE shuffle
  *     → sortWithinPartitions(uuid, ts, tiebreak…)
  *     → mapPartitions: a [[TrailReader]] reads consecutive same-uuid runs
  *       in one pass, one trail in memory at a time (no per-group
  *       materialization of the partition); consecutive duplicates are
  *       dropped once per source segment, and each segment replays through
  *       the cookie's window entries, each entry on its own ts slice
  *       ([[graft.trck.TrailMatcher.runEntries]]: one pass per trail for
  *       all foreach tuples, stepping tuple classes per event — at most
  *       G + N event-steps per event for G starting states and N tuples
  *       whose values occur); finalize at MAX_TIMESTAMP inline (no
  *       cross-trail state), emit compact yield rows
  *     → groupBy(tuple, dst[, item]) aggregation — partial map-side combine
  *       makes the second shuffle O(distinct yields), not O(events)
  *
  * State never outlives one trail iterator step, so executor memory is
  * O(longest trail + tuple count), independent of partition size — the
  * property that lets this run on 1000 executors with skewed users.
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
    val prevDescription = sc.getLocalProperty(JobDescriptionKey)
    sc.setJobDescription(s"trck lexicon sweep: $field")
    try
      sc.runJob(rows, sweep, (_: Int, vs: Array[String]) => {
        val it = vs.iterator
        while (merged.size < cap && it.hasNext) merged += it.next()
      })
    finally sc.setLocalProperty(JobDescriptionKey, prevDescription)
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
    * array. TrckSparkRunner.aggregateEmits folds every kind in one
    * aggregation pass. [[graft.streaming.TrailStream.emits]] writes the
    * same rows through the same [[TrailReader]].
    */
  private val emitSchema = StructType(Seq(
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
    * ""), `ghostIdx` that of `__ghost` (-1: none). Columns after the
    * projection's own (a stream's watermark column) join no compare.
    */
  private[graft] final case class RowLayout(hasSrc: Boolean, nDedup: Int, fieldIdx: Array[Int], ghostIdx: Int) {
    val fieldBase: Int = if (hasSrc) 3 else 2
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
    * elision, and `__ghost` rows ([[withPresenceSentinels]]) assert a
    * trail's presence but are never events.
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
    (projected, RowLayout(srcCol.isDefined, dedupCols.length, fieldIdx, ghostIdx))
  }

  /** Window entries per cookie, in window-file order. */
  private[graft] def windowsByCookie(
      windows: Option[Seq[LocalRunner.WindowEntry]]): Option[Map[String, IndexedSeq[LocalRunner.WindowEntry]]] =
    windows.map(_.groupBy(_.cookie).view.mapValues(_.toIndexedSeq).toMap)

  /** The trail row codec of one task: decodes a trail's [[project]]ed
    * rows into [[TrailEvent]]s, replays them, and encodes each tuple's
    * [[Results]] as [[emitSchema]] rows into `out`. Not serializable:
    * build one inside the task.
    */
  private[graft] final class TrailReader(
      prog: CompiledProgram,
      tuples: Vector[ForeachTuple],
      layout: RowLayout,
      params: Bindings,
      fcalls: Map[String, Fsm.Fcall],
      winMap: Option[Map[String, IndexedSeq[LocalRunner.WindowEntry]]],
  ) {
    val out = scala.collection.mutable.ArrayBuffer[Row]()
    private val evs = scala.collection.mutable.ArrayBuffer[TrailEvent]()
    import layout.{fieldBase, fieldIdx, ghostIdx, hasSrc, nDedup}

    private def rowField(r: Row, i: Int): String = {
      val v = r.get(i); if (v == null) "" else v.toString
    }

    private def emitAs(ctxCookie: String)(j: Int, r: Results): Unit = {
      // O(1) skip for identity results: a wide foreach broadcasts one
      // scratch to thousands of absent-value tuples that yielded
      // nothing — iterating four empty/zero maps per tuple was
      // measurable at 10k-tuple cardinality
      if (!r.touched) return
      r.counters.foreach { case (d, v) =>
        if (v != 0) out += Row(ctxCookie, j, "c", d, null, v)
      }
      r.sets.foreach { case (d, m) =>
        m.foreach { case (t, c) => out += Row(ctxCookie, j, "s", d, t, c) }
      }
      r.msets.foreach { case (d, m) =>
        m.foreach { case (t, c) => out += Row(ctxCookie, j, "m", d, t, c) }
      }
      r.hlls.foreach { case (d, h) =>
        // the trail-local sketch's nonzero registers; merged upstream
        out += Row(ctxCookie, j, "h", d, h.sparse, 1L)
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

    /** Read the rows of trail `uuid` at the head of `rows` (ordered by
      * source, then ts) in one pass: ghost rows establish the trail but
      * add no event, consecutive duplicates are dropped against the
      * previous kept row, and each source segment replays through the
      * cookie's window entries from the state the previous segment left,
      * with `cutOf(source)` as its min_ts cut, as soon as its last row is
      * read. Returns the states the last segment leaves.
      */
    def read(uuid: String, rows: scala.collection.BufferedIterator[Row], from: Array[FsmState],
             cutOf: Long => Long): Array[FsmState] = {
      val entries = TrailMatcher.entriesOf(winMap, uuid)
      var carried = from
      var src = if (hasSrc && rows.hasNext) rows.head.getLong(2) else 0L
      var prev: Row = null
      // per segment, every window entry runs from the state the
      // previous source left and the LAST entry's output carries
      // (LocalRunner dbStates overwrite)
      def replay(states: Array[FsmState], segSrc: Long): Array[FsmState] = {
        val out = TrailMatcher.runEntries(
          prog, tuples, states, evs.toArray, entries, cutOf(segSrc), params, fcalls, emitAs)
        evs.clear()
        out
      }
      while (rows.hasNext && rows.head.getString(0) == uuid) {
        val cur = rows.next()
        if (hasSrc && cur.getLong(2) != src) {
          carried = replay(carried, src); prev = null; src = cur.getLong(2)
        }
        if (ghostIdx < 0 || cur.getInt(ghostIdx) != 1) {
          val dup = prev != null && prev.getLong(1) == cur.getLong(1) && {
            var i = fieldBase; var same = true
            while (same && i < fieldBase + nDedup) { same = rowField(prev, i) == rowField(cur, i); i += 1 }
            same
          }
          if (!dup) {
            val arr = new Array[String](fieldIdx.length)
            var i = 0
            while (i < arr.length) {
              arr(i) = if (fieldIdx(i) == -1) "" else rowField(cur, fieldIdx(i))
              i += 1
            }
            evs += new TrailEvent(cur.getLong(1), arr)
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

  /** Union one zero-event `__ghost=1` sentinel row per trail (per source
    * when `srcCol` is set) present in `presentFrom` onto `real` (whose rows
    * get `__ghost=0`). Sentinels assert a trail's existence independently
    * of how many events survive downstream filters — the reference iterates
    * DB trail lists regardless of per-event filters
    * (src/match_traildb.c:513-560) — so the engine still runs the per-entry
    * loop and MAX_TIMESTAMP finalization for a trail filtered to zero
    * events. The engine never materializes sentinels as events and they
    * never join the consecutive-dup compare; for trails with surviving
    * events the extra row is inert. Sentinel ts is 0 and every other
    * column null — position inside the trail's run is irrelevant.
    */
  def withPresenceSentinels(
      real: DataFrame,
      presentFrom: DataFrame,
      uuidCol: String,
      tsCol: String,
      srcCol: Option[String] = None,
  ): DataFrame = {
    require(!real.columns.contains("__ghost"),
      "frame already carries __ghost presence sentinels")
    val keyCols = (uuidCol +: srcCol.toSeq).map(col)
    val present = presentFrom.select(keyCols: _*).distinct()
    val sentinel = present.select(real.schema.fields.map { f =>
      if (f.name == uuidCol || srcCol.contains(f.name)) col(f.name)
      else if (f.name == tsCol) lit(0L).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)
    real.withColumn("__ghost", lit(0))
      .unionByName(sentinel.withColumn("__ghost", lit(1)))
  }

  /** Cluster + sort a trail events frame ONCE for repeated trail queries:
    * `emits(..., prepared = true)` over the result skips its per-query
    * shuffle+sort — the dominant cost of every trail query. Persist the
    * result for within-session reuse, or write a durable layout with
    * `prepare(df, …).repartition(n, col(uuidCol)).write.bucketBy(n, uuidCol)
    * .sortBy(uuidCol, tsCol, tiebreak…).saveAsTable(t)` — the repartition
    * must align with the bucket count so each bucket is ONE sorted file
    * (multi-file buckets concatenate per-file sorted runs and break the
    * contract) — and read back with
    * `spark.sql.sources.bucketing.autoBucketedScan.enabled=false` so the
    * scan keeps one-partition-per-bucket (validated end-to-end in
    * EngineEquivalenceSpec's bucketed-table test).
    *
    * The guarantee emits needs is exactly: same-uuid rows contiguous per
    * partition, ordered by (preOrder, ts, tiebreak) within each uuid run.
    *
    * The layout bakes in `__ghost` presence sentinels
    * ([[withPresenceSentinels]]): one zero-event row per trail (per source)
    * so downstream filters that empty a trail still leave its per-entry
    * loop and finalization running — the same empty-trail parity
    * TrckSparkRunner maintains on the unprepared path, now durable in the
    * layout (filters over a prepared frame keep `__ghost=1` rows;
    * runRaw(prepared = true) does so automatically). For multi-source runs,
    * prepare the uncut [[TrckSparkRunner.unionSources]] frame with
    * `srcCol = Some("__src")`: it is its own presence, so a source whose
    * events all fall below its min_ts cut keeps its (uuid, src) sentinel,
    * and runRaw applies the cut.
    */
  def prepare(
      events: DataFrame,
      uuidCol: String,
      tsCol: String,
      tiebreak: Seq[String] = Nil,
      srcCol: Option[String] = None,
  ): DataFrame = {
    val withGhosts =
      if (events.columns.contains("__ghost")) events // already sentinel-bearing
      else withPresenceSentinels(events, events, uuidCol, tsCol, srcCol)
    withGhosts
      .repartition(col(uuidCol))
      // sort on the SAME cast values emits sorts on — raw-typed string
      // timestamps or src indices would order lexically ("1000" < "999")
      // and prepared=true would silently trust the wrong order
      .sortWithinPartitions(
        col(uuidCol) +:
          (srcCol.map(c => col(c).cast(LongType)).toSeq ++
            (graft.Tables.tsLong(withGhosts, tsCol) +: tiebreak.map(col))): _*)
  }

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
      /** source-index column for multi-source runs (see
        * [[TrckSparkRunner.unionSources]]): each trail replays its sources
        * sequentially, and `srcCuts(i)` (the min_ts cut of source i) feeds
        * the per-source ctx window start like LocalRunner's
        * `max(windowStart, minTs)` (Local.scala) — so Y5
        * cookie_timestamp_filter_start yields match, and rows below the
        * cut never enter a replay.
        */
      srcCol: Option[String] = None,
      srcCuts: Array[Long] = Array.empty,
      /** true ⇒ `events` is already uuid-clustered and (uuid, src, ts,
        * tiebreak)-sorted within partitions (via [[prepare]] or an
        * equivalent bucketed layout) — the per-query shuffle+sort is
        * skipped entirely. Correctness depends on the caller's guarantee.
        * [[prepare]] layouts bake in `__ghost` presence sentinels, so
        * empty-trail parity (a listed cookie filtered to zero events still
        * runs its per-entry loop + finalization) holds on the prepared
        * path too — provided filters applied between prepare and emits
        * keep `__ghost=1` rows (runRaw(prepared = true) does, and rejects
        * sentinel-less hand-rolled layouts when the program needs them).
        */
      prepared: Boolean = false,
  ): DataFrame = {
    val spark = events.sparkSession
    val tuples = runTuples(prog, foreachTuples, events)
    val (projected, layout) = project(prog, events, uuidCol, tsCol, tiebreak, srcCol)

    // r21 note: an explicit-count repartition here (to defeat AQE's
    // coalesce-to-one at bench scale, the sessions()/asOfJoin fix) was
    // TRIED and measured SLOWER for the FSM family — m1_fsm_count
    // 0.38→0.50, g1_fsm_foreach 0.38→0.65, m2 0.40→0.55 at sf0.1: the
    // per-task FSM setup (broadcast tuple tables, window maps) times the
    // task count exceeds the single-task matching cost at bench scale,
    // unlike the window kernels where per-row work dominates. Reverted;
    // the AQE-coalescible exchange stands.
    val sorted =
      if (prepared) projected // layout guaranteed by the caller — no shuffle
      else
        projected
          .repartition(col("__uuid"))
          .sortWithinPartitions(
            col("__uuid") +: (srcCol.map(_ => col("__srcord")).toSeq ++
              (col("__ts") +: tiebreak.indices.map(i => col(s"__tb$i")))): _*)

    val tuplesB = spark.sparkContext.broadcast(tuples)
    val winB = spark.sparkContext.broadcast(windowsByCookie(windows))
    val cutsB = spark.sparkContext.broadcast(srcCuts)

    sorted.mapPartitions { part =>
      val reader = new TrailReader(prog, tuplesB.value, layout, params, fcalls, winB.value)
      val cuts = cutsB.value
      val rows = part.buffered

      /** A source's min_ts cut. Single-source runs carry no cuts (src
        * tag 0, cuts empty); a TAGGED source beyond the cuts array means
        * the caller lost the unionSources cuts — silently treating it as
        * uncut would include events below that source's min_ts.
        */
      val cutOf: Long => Long = src =>
        if (cuts.isEmpty) 0L
        else if (src >= 0 && src < cuts.length) cuts(src.toInt)
        else throw new IllegalStateException(
          s"source index $src has no min_ts cut (${cuts.length} cuts) — " +
            "pass unionSources' cuts through srcCuts")

      // one trail in memory at a time: read the next same-uuid run and
      // finalize it once the emit rows of the previous trail are drained
      new Iterator[Row] {
        private var pos = 0
        override def hasNext: Boolean = {
          while (pos >= reader.out.length && rows.hasNext) {
            reader.out.clear(); pos = 0
            val uuid = rows.head.getString(0)
            reader.finish(uuid, reader.read(uuid, rows, reader.initial, cutOf))
          }
          pos < reader.out.length
        }
        override def next(): Row = { val r = reader.out(pos); pos += 1; r }
      }
    }(emitEncoder)
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
