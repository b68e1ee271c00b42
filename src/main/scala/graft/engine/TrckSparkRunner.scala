package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

import graft.trck._
import graft.trck.Compiled.CompiledProgram
import graft.trck.Fsm.Bindings
import graft.trck.LocalRunner.ForeachTuple

/** Full trck query execution on Spark: TrailEngine emits → distributed
  * monoid aggregation (counters sum, set/multiset counts, HLL register
  * merge) → small per-tuple results collected and rendered in the
  * reference's output shape (reference: src/results_json.c:233-295).
  *
  * The collect is only of FINAL aggregated results — O(tuples × result
  * vars [× set cardinality]) — never of events; everything upstream is
  * distributed with map-side partial aggregation.
  */
object TrckSparkRunner {

  /** Pre-FSM relational filters (reference F1-F3) applied as Catalyst
    * operations so they push into the scan / use broadcast joins.
    */
  final case class EngineFilters(
      /** CNF over (field = v | field != v) — becomes a pushed-down filter */
      cnf: Option[Column] = None,
      /** per-uuid windows; listed uuids only — broadcast range join, one
        * independent trail ctx per entry (reference window_set semantics)
        */
      windows: Option[LocalRunner.WindowSet] = None,
      /** uuids to drop — broadcast left_anti join */
      exclude: Option[DataFrame] = None,
  )

  /** CNF JSON clauses → Column (reference: src/traildb_filter.c:9-103). */
  def cnfColumn(clauses: Seq[Seq[(String, String, Boolean)]], df: DataFrame): Option[Column] = {
    def fieldCol(f: String): Column =
      if (df.columns.contains(f)) coalesce(col(f).cast("string"), lit("")) else lit("")
    val ands = clauses.map { terms =>
      terms
        .map { case (f, v, eq) => if (eq) fieldCol(f) === v else fieldCol(f) =!= v }
        .reduceOption(_ || _)
        .getOrElse(lit(true))
    }
    ands.reduceOption(_ && _)
  }

  /** Widen a row predicate so `__ghost=1` presence sentinels survive it:
    * sentinel rows carry null fields and ts 0, so any cut/CNF/bounds
    * predicate would silently drop them — losing exactly the empty-trail
    * parity they exist for. No-op on frames without the column.
    */
  private def keepGhosts(df: DataFrame, c: Column): Column =
    if (df.columns.contains("__ghost")) c || col("__ghost") === 1 else c

  /** The min_ts cut as a row predicate over a `__src`-tagged frame: a row
    * of source i needs `ts >= cuts(i)`, and a zero cut keeps every row
    * (LocalRunner sets no lower bound for a window start of 0). It adds no
    * column, so nothing joins the engine's dedup set; pushed through the
    * union, each source's branch folds it to a plain `ts >= cut` scan
    * filter.
    */
  private def cutPredicate(tsCol: String, cuts: Array[Long]): Option[Column] =
    cuts.zipWithIndex.collect { case (cut, i) if cut != 0L =>
      col("__src") =!= i || col(tsCol).cast("long") >= cut
    }.reduceOption(_ && _)

  /** Multiple sequential sources ("TrailDBs") → one `__src`-tagged
    * DataFrame plus the per-source min_ts cuts, with the reference's
    * cross-DB semantics (src/match_traildb.c:804 — `min_ts =
    * tdb_max_timestamp(db)`, a plain OVERWRITE with the previous DB's max,
    * NOT a running max): `cuts(i)` is source i-1's max timestamp, floored
    * at 0, and 0 for an empty or all-null source. One Spark job over the
    * tagged union of sources 0..N-2 computes every max a cut reads: each
    * task keeps one running max per source, floored at 0, and the driver
    * merges them as tasks finish. The last source's max is never read, so
    * it is never computed. No row is
    * dropped here: [[runRaw]] takes the implicit-foreach lexicon and trail
    * presence from the whole frame, as the reference reads every DB's
    * lexicon and trail list, and then applies the cut before the shuffle.
    * `__src` orders each trail's replay by source before timestamp; pass
    * the cuts as runRaw's `srcCuts`. Cross-DB-boundary duplicate events are
    * NOT deduped — the engine runs consecutive-dup elision per source
    * segment, matching the per-DB trail reads.
    */
  def unionSources(sources: Seq[DataFrame], tsCol: String): (DataFrame, Array[Long]) = {
    require(sources.nonEmpty)
    if (sources.lengthCompare(1) == 0) return (sources.head, Array.empty)
    val tagged = sources.zipWithIndex.map { case (df, i) => df.withColumn("__src", lit(i)) }
    val read = tagged.init
      .map(_.select(col("__src"), col(tsCol).cast("long")))
      .reduce(_ union _)
      .queryExecution.toRdd
    val nCut = sources.length - 1
    // floored at 0 like LocalRunner's foldLeft(0L)(max) — an all-negative
    // source must not introduce a negative cut the oracle wouldn't apply
    val taskMax = (rows: Iterator[InternalRow]) => {
      val m = new Array[Long](nCut)
      rows.foreach(r => if (!r.isNullAt(1)) m(r.getInt(0)) = math.max(m(r.getInt(0)), r.getLong(1)))
      m
    }
    val maxes = new Array[Long](nCut)
    val sc = read.sparkContext
    TrailEngine.withJobDescription(sc, "trck min_ts cuts") {
      sc.runJob(read, taskMax, (_: Int, m: Array[Long]) =>
        for (i <- 0 until nCut) maxes(i) = math.max(maxes(i), m(i)))
    }
    (tagged.reduce(_ unionByName _), 0L +: maxes)
  }

  /** Run a program over a trail DataFrame and return the raw
    * [[LocalRunner.RunOutput]] (`toOutputs` renders reference-shaped maps;
    * the msgpack/proto sinks read the encoded tuples). The module's
    * initialize hook fires on the driver before the query plan is built,
    * its finalize hook after the aggregated results are collected (runRaw
    * is eager — the collects happen inside it), once per query run like
    * the reference's main-scope calls (src/match_traildb.c:1248,1256).
    */
  def runRaw(
      prog: CompiledProgram,
      events: DataFrame,
      uuidCol: String,
      tsCol: String,
      tiebreak: Seq[String] = Nil,
      params: Bindings = Bindings(),
      foreachTuples: Option[Vector[ForeachTuple]] = None,
      filters: EngineFilters = EngineFilters(),
      module: Fsm.FcallModule = Fsm.FcallModule(Map.empty),
      /** per-source min_ts cuts from [[unionSources]] (required whenever
        * `events` carries a `__src` column)
        */
      srcCuts: Array[Long] = Array.empty,
      /** true ⇒ `events` is a [[TrailEngine.prepare]] layout (or an
        * equivalent bucketed table): uuid-clustered — each trail's rows
        * contiguous within one partition, in any order; the engine orders
        * a trail's rows itself — with `__ghost` sentinels baked in. The
        * per-query exchange and sort are skipped and sentinels come from
        * the layout instead of a presence union. All filters here are
        * narrow ops that keep a partition's row order (filter / broadcast
        * joins), so the layout contract survives them.
        */
      prepared: Boolean = false,
  ): LocalRunner.RunOutput = {
    module.onInitialize()
    try {
      // a sentinel-bearing frame (prepare layout) is its own presence source:
      // cut/CNF/bounds predicates are widened to keep __ghost rows, and the
      // sentinel-union below is skipped
      val hasGhostCol = events.columns.contains("__ghost")
      require(
        !prepared || hasGhostCol ||
          (filters.windows.isEmpty && !TrailMatcher.emptyRunMutates(prog)),
        "prepared layout lacks __ghost presence sentinels, but this run's " +
          "empty-trail semantics are observable (window file, or the " +
          "entrypoint chain mutates a fresh state): a listed cookie filtered " +
          "to zero events would silently skip its per-entry loop — rebuild " +
          "the layout with TrailEngine.prepare (it bakes sentinels in) or " +
          "run unprepared")
      val srcCol = if (events.columns.contains("__src")) Some("__src") else None
      require(srcCol.isEmpty || srcCuts.nonEmpty,
        "multi-source events (__src column) need the unionSources cuts passed as srcCuts")
      // implicit-foreach lexicon over the uncut, unfiltered input: the
      // reference reads the DB lexicons, not the filtered event stream
      // (src/match_traildb.c:188-236; LocalRunner matches)
      val tuples = TrailEngine.runTuples(prog, foreachTuples, events)
      // exclude first (excluded trails must not even run empty); trail
      // PRESENCE is judged on what is left, before the min_ts cut and CNF,
      // like the reference looking a cookie up in each DB before cutting and
      // filtering its events (src/match_traildb.c:513-524)
      val presentBase = filters.exclude.fold(events) { ex =>
        events.join(
          broadcast(ex.select(col(ex.columns.head).as(uuidCol))), Seq(uuidCol), "left_anti")
      }
      // then the cut and CNF, before the shuffle; the engine clamps every
      // entry to [max(start, cut), end) as well, so the cut only prunes
      val filtered = (srcCol.flatMap(_ => cutPredicate(tsCol, srcCuts)) ++ filters.cnf)
        .reduceOption(_ && _)
        .map(c => presentBase.filter(keepGhosts(presentBase, c)))
        .getOrElse(presentBase)

      // F2 window file: drop unlisted trails AND events outside every window
      // of their cookie before the shuffle (broadcast join on per-cookie
      // coverage bounds — a 2-year trail with a 1-day window ships one day of
      // events, like the old per-entry range join); the per-entry ctx loop
      // runs inside the engine with the window list broadcast (reference
      // window_set semantics incl. cookie-keyed state carry and one
      // finalization per cookie). Safe because an event outside the union of
      // its cookie's entry bounds can never enter any processTrail call.
      val (trailDf, winEntries) = filters.windows match {
        case Some(ws) =>
          val spark = events.sparkSession
          import spark.implicits._
          val bounds = ws.entries
            .groupBy(_.cookie)
            .map { case (cookie, es) =>
              // 0 means unbounded on that side for ANY entry of the cookie
              val lo = if (es.exists(_.start == 0L)) 0L else es.map(_.start).min
              val hi = if (es.exists(_.end == 0L)) 0L else es.map(_.end).max
              (cookie, lo, hi)
            }
            .toSeq
            .toDF(uuidCol, "__wlo", "__whi")
          val joined = filtered
            .join(broadcast(bounds), Seq(uuidCol)) // inner: unlisted trails drop
            .filter(keepGhosts(filtered,
              (col("__wlo") === 0L || col(tsCol).cast("long") >= col("__wlo")) &&
                (col("__whi") === 0L || col(tsCol).cast("long") < col("__whi"))))
            .drop("__wlo", "__whi") // must not leak into the engine's dedup set
          // A listed cookie whose events are all out-of-bounds (or all
          // CNF-removed) must STILL run its per-entry loop and finalization —
          // the reference iterates the window list against DB trails, not
          // against surviving events — so keep a zero-event sentinel per
          // listed cookie present in the pre-filter events. A sentinel-bearing
          // layout already carries them (the inner bounds join keeps listed
          // cookies' ghosts, keepGhosts saved them from the ts filter).
          if (hasGhostCol) (joined, Some(ws.entries))
          else {
            val listed = presentBase
              .join(broadcast(bounds.select(uuidCol)), Seq(uuidCol), "left_semi")
            (TrailEngine.withPresenceSentinels(joined, listed, uuidCol, tsCol, srcCol), Some(ws.entries))
          }
        case None =>
          // Without windows the empty-trail run is observable only when the
          // entrypoint chain mutates a fresh state (outer window-block entry:
          // after-yields appear at finalization) — probe once and keep the
          // common path sentinel-free (no extra distinct pass at scale).
          if (hasGhostCol) (filtered, None)
          else if (TrailMatcher.emptyRunMutates(prog))
            (TrailEngine.withPresenceSentinels(filtered, presentBase, uuidCol, tsCol, srcCol), None)
          else (filtered, None)
      }

      val em = TrailEngine
        .emits(prog, trailDf, uuidCol, tsCol, tiebreak, params, Some(tuples), module.fcalls,
          winEntries, srcCol, srcCuts, prepared)
      aggregateEmits(prog, tuples, em)
    } finally module.onFinalize()
  }

  /** Fold an emit stream ([[TrailEngine.emits]] schema) into reference-shaped
    * results in ONE aggregation pass and one collect: group by (tuple_idx,
    * kind, dst, item for set/multiset rows), sum `n` for counter, set and
    * multiset groups, register-max the sparse sketches of `h` groups, then
    * dispatch each collected row on `kind` on the driver. The HLL aggregate
    * is planned only when the program declares an HLL yield, so other
    * programs keep a plain HashAggregate. Per-tuple rows fold into slot 0
    * under mergeResults: counters add, set counts add, sketches
    * register-max (reference: match_add_results).
    */
  def aggregateEmits(
      prog: CompiledProgram, tuples: Vector[ForeachTuple], em: DataFrame): LocalRunner.RunOutput = {
    val nSlots = if (prog.mergeResults) 1 else tuples.length
    val results = Vector.fill(nSlots)(new Results(prog))
    val kind = col("kind")
    // a literal item key for programs without set/multiset yields: the
    // optimizer drops it from the grouping, and the remaining fixed-width
    // and string keys keep the codegen fast hash map
    val item =
      if (prog.yieldSets.isEmpty && prog.yieldMultisets.isEmpty) lit(null).cast("binary")
      else when(kind.isin("s", "m"), col("item"))
    val hll =
      if (prog.yieldHlls.isEmpty) Nil
      else Seq(graft.functions.HllAggregator
        .trckHllMergeSparseHex(when(kind === "h", col("item"))).as("hex"))
    em.groupBy(col("tuple_idx"), kind, col("dst"), item.as("item"))
      .agg(sum("n").as("v"), hll: _*)
      .collect()
      .foreach { r =>
        val res = results(if (prog.mergeResults) 0 else r.getInt(0))
        res.touched = true // direct map writes bypass the emit methods
        val dst = r.getString(2)
        r.getString(1) match {
          case "c" =>
            res.counters.updateWith(dst)(c => Some(c.getOrElse(0L) + r.getLong(4)))
          case "h" =>
            val h = Hll.fromHexString(r.getString(5))
            res.hlls.updateWith(dst)(prev => Some(prev.fold(h)(_.merge(h))))
          case k =>
            val m = if (k == "s") res.sets(dst) else res.msets(dst)
            val item = r.getAs[Array[Byte]](3)
            m.update(item, m.getOrElse(item, 0L) + r.getLong(4))
        }
      }
    LocalRunner.RunOutput(prog, tuples, results, prog.mergeResults)
  }
}
