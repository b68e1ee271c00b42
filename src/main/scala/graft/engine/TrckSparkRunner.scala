package graft.engine

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
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

  /** Apply F1 (CNF) and F3 (exclude) to a trail-events DataFrame. F2
    * (windows) is handled in [[run]] because it changes the trail keying,
    * not just the row set.
    */
  def applyFilters(events: DataFrame, uuidCol: String, tsCol: String, filters: EngineFilters): DataFrame = {
    var df = events
    filters.cnf.foreach(c => df = df.filter(c))
    filters.exclude.foreach { ex =>
      df = df.join(
        broadcast(ex.select(col(ex.columns.head).as(uuidCol))), Seq(uuidCol), "left_anti")
    }
    df
  }

  /** Union one zero-event `__ghost` sentinel row per trail (per source, for
    * multi-source runs) present in `presentFrom`, so trails whose events
    * are all filtered away still reach the engine's per-entry loop and
    * MAX_TIMESTAMP finalization — the reference iterates DB trails
    * regardless of how many events survive per-event filters
    * (src/match_traildb.c:513-560). The engine never materializes sentinels
    * as events (TrailEngine `__ghost` handling); for trails with surviving
    * events the extra row is inert. By default presence is judged from the
    * post-cut events; pass [[unionSourcesWithPresence]]'s frame through
    * runRaw's `presence` to also cover a source whose events all fall
    * below its min_ts cut (the reference still runs that DB's empty
    * per-entry loop).
    */
  private def withSentinels(
      real: DataFrame, presentFrom: DataFrame, uuidCol: String, tsCol: String): DataFrame =
    TrailEngine.withPresenceSentinels(real, presentFrom, uuidCol, tsCol,
      srcCol = if (presentFrom.columns.contains("__src")) Some("__src") else None)

  /** Widen a row predicate so `__ghost=1` presence sentinels survive it:
    * sentinel rows carry null fields and ts 0, so any CNF/bounds predicate
    * would silently drop them — losing exactly the empty-trail parity they
    * exist for. No-op on frames without the column.
    */
  private def keepGhosts(df: DataFrame, c: Column): Column =
    if (df.columns.contains("__ghost")) c || col("__ghost") === 1 else c

  /** Multiple sequential sources ("TrailDBs") → one tagged DataFrame plus
    * the per-source min_ts cuts, with the reference's cross-DB semantics
    * (src/match_traildb.c:804 — `min_ts = tdb_max_timestamp(db)`, a plain
    * OVERWRITE with the previous DB's max, NOT a running max): source i's
    * events are dropped below source i-1's max timestamp (one tiny max()
    * aggregation per source), and a `__src` column orders each trail's
    * replay by source before timestamp (run/runRaw pick the column up
    * automatically; pass the cuts through so the per-source ctx window
    * starts — Y5 yields — clamp like LocalRunner's max(start, minTs)).
    * Cross-DB-boundary duplicate events are NOT deduped — the engine runs
    * consecutive-dup elision per source segment, matching the per-DB trail
    * reads. The cuts CANNOT be reconstructed from the cut data (a source
    * whose max is below its own cut loses all rows yet still defines the
    * next source's cut), hence the tuple return.
    */
  def unionSources(sources: Seq[DataFrame], tsCol: String): (DataFrame, Array[Long]) = {
    require(sources.nonEmpty)
    if (sources.lengthCompare(1) == 0) return (sources.head, Array.empty)
    val maxes = sources.map { df =>
      // floored at 0 like LocalRunner's foldLeft(0L)(max) — an all-negative
      // source must not introduce a negative cut the oracle wouldn't apply
      math.max(0L,
        Option(df.agg(max(col(tsCol).cast("long"))).head.get(0))
          .map(_.asInstanceOf[Long]).getOrElse(0L))
    }
    val cuts = (0L +: maxes.init).toArray // cuts(i) = max of source i-1
    val df = sources.zipWithIndex.map { case (df, i) =>
      val tagged = df.withColumn("__src", lit(i))
      if (cuts(i) == 0L) tagged else tagged.filter(col(tsCol).cast("long") >= cuts(i))
    }.reduce(_ unionByName _)
    (df, cuts)
  }

  /** [[unionSources]] plus a PRE-CUT presence frame: one (uuid, __src) row
    * per trail per source it appears in, computed BEFORE the min_ts cut
    * drops rows. Feed it to [[runRaw]]'s `presence` for window runs so a
    * trail whose source-i events all fall below the cut still runs that
    * source's per-entry loop with zero events, exactly like the reference
    * iterating every DB's trail list. Costs one distinct pass per source —
    * only pay it when the run needs reference-exact empty-trail semantics.
    */
  def unionSourcesWithPresence(
      sources: Seq[DataFrame], tsCol: String, uuidCol: String): (DataFrame, Array[Long], DataFrame) = {
    val (df, cuts) = unionSources(sources, tsCol)
    val presence = sources.zipWithIndex
      .map { case (s, i) => s.select(col(uuidCol)).distinct().withColumn("__src", lit(i)) }
      .reduce(_ unionByName _)
    (df, cuts, presence)
  }

  /** Run a program over a trail DataFrame and assemble reference-shaped
    * results (one map per foreach tuple, or one for merged/no-groupby).
    */
  def run(
      prog: CompiledProgram,
      events: DataFrame,
      uuidCol: String,
      tsCol: String,
      tiebreak: Seq[String] = Nil,
      params: Bindings = Bindings(),
      foreachTuples: Option[Vector[ForeachTuple]] = None,
      filters: EngineFilters = EngineFilters(),
      fcalls: Map[String, Fsm.Fcall] = Map.empty,
      lexiconEvents: Option[DataFrame] = None,
      srcCuts: Array[Long] = Array.empty,
      presence: Option[DataFrame] = None,
      prepared: Boolean = false,
  ): Vector[mutable.LinkedHashMap[String, Any]] =
    runRaw(prog, events, uuidCol, tsCol, tiebreak, params, foreachTuples, filters, fcalls,
      lexiconEvents, srcCuts, presence, prepared).toOutputs

  /** [[runRaw]] with a full fcall module: initialize fires on the driver
    * before the query plan is built, finalize after the aggregated results
    * are collected (runRaw is eager — the collects happen inside it), once
    * per query run like the reference's main-scope calls
    * (src/match_traildb.c:1248,1256).
    */
  def runRawModule(
      module: Fsm.FcallModule,
      prog: CompiledProgram,
      events: DataFrame,
      uuidCol: String,
      tsCol: String,
      tiebreak: Seq[String] = Nil,
      params: Bindings = Bindings(),
      foreachTuples: Option[Vector[ForeachTuple]] = None,
      filters: EngineFilters = EngineFilters(),
      lexiconEvents: Option[DataFrame] = None,
      srcCuts: Array[Long] = Array.empty,
      presence: Option[DataFrame] = None,
      prepared: Boolean = false,
  ): LocalRunner.RunOutput = {
    module.onInitialize()
    try runRaw(prog, events, uuidCol, tsCol, tiebreak, params, foreachTuples, filters,
      module.fcalls, lexiconEvents, srcCuts, presence, prepared)
    finally module.onFinalize()
  }

  /** As [[run]] but returns the raw [[LocalRunner.RunOutput]] (for the
    * msgpack/proto sinks, which need the encoded tuples, not the rendered
    * strings).
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
      fcalls: Map[String, Fsm.Fcall] = Map.empty,
      /** implicit-foreach lexicon source when `events` is pre-cut (the
        * reference sweeps the full DB lexicons, min_ts cut or not)
        */
      lexiconEvents: Option[DataFrame] = None,
      /** per-source min_ts cuts from [[unionSources]] (required for Y5 /
        * window-clamp parity whenever `events` carries a `__src` column)
        */
      srcCuts: Array[Long] = Array.empty,
      /** pre-cut per-source trail presence from
        * [[unionSourcesWithPresence]] — when given, zero-event sentinels
        * are derived from it instead of the post-cut events, closing the
        * last empty-trail gap (a source fully below its min_ts cut)
        */
      presence: Option[DataFrame] = None,
      /** true ⇒ `events` is a [[TrailEngine.prepare]] layout (or an
        * equivalent bucketed table): uuid-clustered, (uuid, src, ts,
        * tiebreak)-sorted, `__ghost` sentinels baked in — the per-query
        * shuffle+sort is skipped and sentinels come from the layout
        * instead of a presence union. All filters here are
        * order-preserving narrow ops (filter / broadcast joins), so the
        * layout contract survives them.
        */
      prepared: Boolean = false,
  ): LocalRunner.RunOutput = {
    // a sentinel-bearing frame (prepare layout) is its own presence source:
    // CNF/bounds predicates are widened to keep __ghost rows, and the
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
    // exclude first (excluded trails must not even run empty), CNF second —
    // trail PRESENCE is judged pre-CNF, like the reference looking a cookie
    // up in the DB before filtering its events (src/match_traildb.c:513-524)
    val afterExclude = applyFilters(events, uuidCol, tsCol, filters.copy(cnf = None))
    val filtered =
      filters.cnf.map(c => afterExclude.filter(keepGhosts(afterExclude, c))).getOrElse(afterExclude)
    val presentBase = presence
      .map(p => applyFilters(p, uuidCol, tsCol, filters.copy(cnf = None)))
      .getOrElse(afterExclude)
    // implicit-foreach lexicon over the UNfiltered input: the reference
    // reads the DB lexicon, not the filtered event stream
    // (src/match_traildb.c:188-236; LocalRunner matches)
    val tuples = TrailEngine.runTuples(prog, foreachTuples, lexiconEvents.getOrElse(events))

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
          (withSentinels(joined, listed, uuidCol, tsCol), Some(ws.entries))
        }
      case None =>
        // Without windows the empty-trail run is observable only when the
        // entrypoint chain mutates a fresh state (outer window-block entry:
        // after-yields appear at finalization) — probe once and keep the
        // common path sentinel-free (no extra distinct pass at scale).
        if (hasGhostCol) (filtered, None)
        else if (TrailMatcher.emptyRunMutates(prog))
          (withSentinels(filtered, presentBase, uuidCol, tsCol), None)
        else (filtered, None)
    }

    val srcCol = if (events.columns.contains("__src")) Some("__src") else None
    require(srcCol.isEmpty || srcCuts.nonEmpty,
      "multi-source events (__src column) need the unionSources cuts passed as srcCuts")
    val em = TrailEngine
      .emits(prog, trailDf, uuidCol, tsCol, tiebreak, params, Some(tuples), fcalls,
        winEntries, srcCol, srcCuts, prepared)
    aggregateEmits(prog, tuples, em)
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
