package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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
  *     → repartition(uuid)                 // the ONE shuffle
  *     → sortWithinPartitions(uuid, ts, tiebreak…)
  *     → mapPartitions: read consecutive same-uuid runs in one pass, one
  *       trail in memory at a time (no per-group materialization of the
  *       partition); consecutive duplicates are dropped once per source
  *       segment, and each segment replays through the cookie's window
  *       entries, each entry on its own ts slice
  *       ([[graft.trck.TrailMatcher.runEntries]]: the foreach loop with the
  *       reference's N+1 skip optimizations); finalize at MAX_TIMESTAMP
  *       inline (no cross-trail state), emit compact yield rows
  *     → groupBy(tuple, dst[, item]) aggregation — partial map-side combine
  *       makes the second shuffle O(distinct yields), not O(events)
  *
  * State never outlives one trail iterator step, so executor memory is
  * O(longest trail + tuple count), independent of partition size — the
  * property that lets this run on 1000 executors with skewed users.
  *
  * The per-trail semantics are shared byte-for-byte with LocalRunner
  * (the golden-tested oracle) via TrailMatcher.
  */
object TrailEngine {

  /** Spark conf key bounding the implicit-foreach lexicon sweep. */
  val MaxImplicitForeachKey = "spark.graft.maxImplicitForeach"
  val MaxImplicitForeachDefault = 100000L

  /** Implicit-foreach lexicon sweep: the distinct non-empty values of
    * `field`, driver-collected and sorted. The collect itself is
    * reference-sanctioned (the reference sweeps the DB lexicons the same
    * way, src/match_traildb.c:188-236) and fine for enum-like fields — but
    * a user pointing `foreach %x` at a high-cardinality field must get a
    * clear error, not a driver OOM, so an approx_count_distinct pre-check
    * fails fast above the configurable bound.
    */
  def lexiconSweep(events: DataFrame, field: String): Vector[String] = {
    // a field that is not a column reads as "" everywhere else in the
    // engine (emits' projection) — the sweep over it is the empty lexicon,
    // not an unresolved-column AnalysisException
    if (!events.columns.contains(field)) return Vector.empty
    val spark = events.sparkSession
    val bound = spark.conf.getOption(MaxImplicitForeachKey)
      .map(_.toLong).getOrElse(MaxImplicitForeachDefault)
    val approx = events.agg(approx_count_distinct(col(field)).as("n")).head.getLong(0)
    if (approx > bound)
      throw new IllegalArgumentException(
        s"implicit foreach over '$field' would sweep ~$approx distinct values " +
          s"(bound $bound): the lexicon is collected to the driver, so this " +
          s"field is too high-cardinality for an implicit sweep — bind an " +
          s"explicit foreach array, or raise $MaxImplicitForeachKey")
    events
      .select(coalesce(col(field).cast(StringType), lit("")).as("v"))
      .distinct()
      .collect()
      .map(_.getString(0))
      .filter(_.nonEmpty)
      .sorted
      .toVector
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
    * (trail × tuple × sketch) for HLL yields. `item` is the encoded tuple
    * for `s`/`m` rows, null for `c` rows, and for `h` rows the trail-local
    * sketch's nonzero registers as [[graft.trck.Hll.sparse]] (index hi,
    * index lo, rank) triples — ≤ 3k bytes for k distinct items, never the
    * dense 16 KiB array. TrckSparkRunner.aggregateEmits folds every kind
    * in one aggregation pass.
    */
  private val emitSchema = StructType(Seq(
    StructField("uuid", StringType),
    StructField("tuple_idx", IntegerType),
    StructField("kind", StringType), // c / s / m / h
    StructField("dst", StringType),
    StructField("item", BinaryType),
    StructField("n", LongType),
  ))

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
    * runRaw(prepared = true) does so automatically). For multi-source
    * frames built by unionSources, pass `presence` from
    * [[TrckSparkRunner.unionSourcesWithPresence]] so a source fully below
    * its min_ts cut keeps its (uuid, src) sentinel.
    */
  def prepare(
      events: DataFrame,
      uuidCol: String,
      tsCol: String,
      tiebreak: Seq[String] = Nil,
      srcCol: Option[String] = None,
      presence: Option[DataFrame] = None,
  ): DataFrame = {
    val withGhosts =
      if (events.columns.contains("__ghost")) events // already sentinel-bearing
      else withPresenceSentinels(events, presence.getOrElse(events), uuidCol, tsCol, srcCol)
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
        * cookie_timestamp_filter_start yields match.
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

    // prune to what the FSM needs; all extra columns only matter for dedup,
    // which by reference semantics uses the full input row. The src column
    // is projected separately AS A NUMBER (a string cast would order source
    // 10 before 2) and does not join the dedup compare — per-source
    // segmentation already prevents cross-boundary elision.
    // "__ghost" marks zero-event sentinel rows (one per trail that exists
    // in the source but lost every event to filters — see
    // TrckSparkRunner.withSentinels): they assert the trail's presence per
    // source so the per-entry loop and finalization still run, but are
    // never materialized as events and never join the dedup compare.
    val hasGhost = events.columns.contains("__ghost")
    val reserved = (Seq(uuidCol, tsCol) ++ srcCol ++ (if (hasGhost) Seq("__ghost") else Nil)).toSet
    val dedupCols = events.columns.filterNot(reserved).toSeq
    val srcSel: Seq[Column] = srcCol.map(c => col(c).cast(LongType).as("__srcord")).toSeq
    // tiebreak columns keep their ORIGINAL types in dedicated sort columns —
    // the dedup projection below casts everything to string, and a numeric
    // tiebreak sorted lexically would order "10" before "9" under equal ts
    val tbSel: Seq[Column] = tiebreak.zipWithIndex.map { case (c, i) => col(c).as(s"__tb$i") }
    val ghostSel: Seq[Column] =
      if (hasGhost) Seq(col("__ghost").cast(IntegerType).as("__ghost")) else Nil
    val projected = events.select(
      (col(uuidCol).cast(StringType).as("__uuid") +:
        graft.Tables.tsLong(events, tsCol).as("__ts") +:
        srcSel) ++
        dedupCols.map(c => col(c).cast(StringType).as(c)) ++ tbSel ++ ghostSel: _*
    )

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
            col("__uuid") +: (srcSel.map(_ => col("__srcord")) ++
              (col("__ts") +: tiebreak.indices.map(i => col(s"__tb$i")))): _*)

    val hasSrc = srcCol.isDefined
    val fieldBase = 2 + (if (hasSrc) 1 else 0)
    val fieldIdxInRow: Array[Int] = prog.fields.map { f =>
      val i = dedupCols.indexOf(f)
      if (i >= 0) i + fieldBase else -1
    }
    val nDedup = dedupCols.length
    val ghostIdx = if (hasGhost) fieldBase + nDedup + tiebreak.length else -1

    // window entries per cookie, in window-file order
    val winByCookie: Option[Map[String, IndexedSeq[LocalRunner.WindowEntry]]] =
      windows.map(_.groupBy(_.cookie).view.mapValues(_.toIndexedSeq).toMap)

    val tuplesB = spark.sparkContext.broadcast(tuples)
    val winB = spark.sparkContext.broadcast(winByCookie)
    val cutsB = spark.sparkContext.broadcast(srcCuts)
    val enc = RowEncoder.encoderFor(emitSchema)

    val emitted = sorted.mapPartitions { rows =>
      val tups = tuplesB.value
      val winMap = winB.value
      val cuts = cutsB.value
      new Iterator[Row] {
        private val buf = scala.collection.mutable.ArrayBuffer[Row]()
        private var bufPos = 0
        private var pending: Row = null // first row of next trail

        private def rowField(r: Row, i: Int): String = {
          val v = r.get(i); if (v == null) "" else v.toString
        }

        private def nextRow(): Row = if (rows.hasNext) rows.next() else null

        private def emitAs(ctxCookie: String)(j: Int, r: Results): Unit = {
          // O(1) skip for identity results: a wide foreach broadcasts one
          // scratch to thousands of absent-value tuples that yielded
          // nothing — iterating four empty/zero maps per tuple was
          // measurable at 10k-tuple cardinality
          if (!r.touched) return
          r.counters.foreach { case (d, v) =>
            if (v != 0) buf += Row(ctxCookie, j, "c", d, null, v)
          }
          r.sets.foreach { case (d, m) =>
            m.foreach { case (t, c) => buf += Row(ctxCookie, j, "s", d, t, c) }
          }
          r.msets.foreach { case (d, m) =>
            m.foreach { case (t, c) => buf += Row(ctxCookie, j, "m", d, t, c) }
          }
          r.hlls.foreach { case (d, h) =>
            // the trail-local sketch's nonzero registers; merged upstream
            buf += Row(ctxCookie, j, "h", d, h.sparse, 1L)
          }
        }

        /** A source's min_ts cut. Single-source runs carry no cuts (src
          * tag 0, cuts empty); a TAGGED source beyond the cuts array means
          * the caller lost the unionSources cuts — silently treating it as
          * uncut would include events below that source's min_ts.
          */
        private def cutOf(src: Long): Long =
          if (cuts.isEmpty) 0L
          else if (src >= 0 && src < cuts.length) cuts(src.toInt)
          else throw new IllegalStateException(
            s"source index $src has no min_ts cut (${cuts.length} cuts) — " +
              "pass unionSources' cuts through srcCuts")

        /** Read one trail (the consecutive same-uuid rows) in one pass:
          * ghost rows establish the trail but add no event, consecutive
          * duplicates are dropped against the previous kept row, and each
          * source segment replays through the cookie's window entries as
          * soon as its last row is read.
          */
        private def processNextTrail(): Unit = {
          buf.clear(); bufPos = 0
          var cur = if (pending != null) pending else rows.next()
          val uuid = cur.getString(0)
          val entries = TrailMatcher.entriesOf(winMap, uuid)
          if (entries.isEmpty) {
            // unlisted trail: consume its rows, emit nothing
            while (cur != null && cur.getString(0) == uuid) cur = nextRow()
            pending = cur
            return
          }
          // ONE shared initial state for all tuples: processTrail never
          // mutates saved entries (runOne copies first) and groups aliases
          // with an identity fast path — per-tuple initial allocation was
          // pure overhead at wide foreach cardinalities
          val init = FsmState.initial(prog)
          var carried = Array.fill(tups.length)(init)
          val evs = scala.collection.mutable.ArrayBuffer[TrailEvent]()
          var src = if (hasSrc) cur.getLong(2) else 0L
          var prev: Row = null
          // per segment, every window entry runs from the state the
          // previous source left and the LAST entry's output carries
          // (LocalRunner dbStates overwrite)
          def replay(from: Array[FsmState], segSrc: Long): Array[FsmState] = {
            val out = TrailMatcher.runEntries(
              prog, tups, from, evs.toArray, entries, cutOf(segSrc), params, fcalls, emitAs)
            evs.clear()
            out
          }
          while (cur != null && cur.getString(0) == uuid) {
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
                val arr = new Array[String](fieldIdxInRow.length)
                var i = 0
                while (i < arr.length) {
                  arr(i) = if (fieldIdxInRow(i) == -1) "" else rowField(cur, fieldIdxInRow(i))
                  i += 1
                }
                evs += new TrailEvent(cur.getLong(1), arr)
                prev = cur
              }
            }
            cur = nextRow()
          }
          pending = cur
          carried = replay(carried, src)
          // one finalization per cookie, ctx = the real cookie
          // (reference: :899-944 iterates the cookie-keyed states map)
          TrailMatcher.finalizeTrail(prog, tups, carried, uuid, params, fcalls, emitAs(uuid))
        }

        override def hasNext: Boolean = {
          while (bufPos >= buf.length && (pending != null || rows.hasNext))
            processNextTrail()
          bufPos < buf.length
        }
        override def next(): Row = { val r = buf(bufPos); bufPos += 1; r }
      }
    }(enc)

    emitted
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
