package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.trck._
import graft.trck.Compiled.CompiledProgram
import graft.trck.Fsm.Bindings
import graft.trck.LocalRunner.ForeachTuple

/** Full trck query execution on Spark: TrailEngine emits → each task
  * folds its emit rows into per-tuple result monoids (counters sum,
  * set/multiset counts, HLL register merge) → the driver merges the task
  * results and renders them in the reference's output shape (reference:
  * src/results_json.c:233-295).
  *
  * The driver receives only folded results — O(tasks × tuples × result
  * vars [× set cardinality]) — never events or emit rows.
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
    * its finalize hook after the results are merged (runRaw is eager — its
    * jobs run inside it), once per query run like the reference's
    * main-scope calls (src/match_traildb.c:1248,1256).
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
      /** ignored: the plan sees a [[TrailEngine.prepare]] layout's uuid
        * partitioning and order itself, and skips the exchange and sort
        * when the input already has them
        */
      prepared: Boolean = false,
  ): LocalRunner.RunOutput = {
    module.onInitialize()
    try {
      val srcCol = TrailEngine.srcColumn(events)
      require(srcCol.isEmpty || srcCuts.nonEmpty,
        "multi-source events (__src column) need the unionSources cuts passed as srcCuts")
      // implicit-foreach lexicon over the uncut, unfiltered input: the
      // reference reads the DB lexicons, not the filtered event stream
      // (src/match_traildb.c:188-236; LocalRunner matches)
      val tuples = TrailEngine.runTuples(prog, foreachTuples, events)
      // exclude first: excluded trails must not even run empty
      val present = filters.exclude.fold(events) { ex =>
        events.join(
          broadcast(ex.select(col(ex.columns.head).as(uuidCol))), Seq(uuidCol), "left_anti")
      }

      // F2 window file: unlisted trails drop (broadcast inner join on each
      // listed cookie's coverage bounds), and an event outside the union
      // of its cookie's entry bounds can never enter any per-entry run; the
      // per-entry ctx loop runs inside the engine with the window list
      // broadcast (reference window_set semantics incl. cookie-keyed state
      // carry and one finalization per cookie)
      val (listed, inBounds) = filters.windows match {
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
          val ts = col(tsCol).cast("long")
          (present.join(broadcast(bounds), Seq(uuidCol)),
            Some((col("__wlo") === 0L || ts >= col("__wlo")) && (col("__whi") === 0L || ts < col("__whi"))))
        case None => (present, None)
      }

      // the min_ts cut, CNF and window bounds, before the shuffle; the
      // engine clamps every entry to [max(start, cut), end) as well, so the
      // cut only prunes
      val keep = (srcCol.flatMap(_ => cutPredicate(tsCol, srcCuts)) ++ filters.cnf ++ inBounds)
        .reduceOption(_ && _)
      val trailDf = keep match {
        case None => listed
        // A trail's presence is observable when a window file lists it (its
        // per-entry loop runs even with zero events) or when an empty run
        // mutates a fresh state (outer window-block entry: after-yields
        // appear at finalization). The reference runs a trail found in a DB
        // however many of its events the filters drop
        // (src/match_traildb.c:513-560), so there every row stays and a
        // filtered-out row becomes a `__ghost` row: it keeps its trail and
        // source present and is never an event. TrailPack ships about one
        // ghost per trail segment.
        case Some(k) if filters.windows.nonEmpty || TrailMatcher.emptyRunMutates(prog) =>
          val kept = if (listed.columns.contains("__ghost")) col("__ghost") else lit(0)
          listed.withColumn("__ghost", when(k, kept).otherwise(1))
        case Some(k) => listed.filter(k)
      }

      // the bounds columns must not join the engine's dedup compare
      val em = TrailEngine
        .emits(prog, trailDf.drop("__wlo", "__whi"), uuidCol, tsCol, tiebreak, params, Some(tuples),
          module.fcalls, filters.windows.map(_.entries), srcCuts)
      aggregateEmits(prog, tuples, em)
    } finally module.onFinalize()
  }

  /** Fold an emit stream ([[TrailEngine.emits]] schema) into
    * reference-shaped results with [[Results.merge]], the one result
    * monoid (reference: match_add_results, src/match_traildb.c:402-406):
    * one Spark job in which each task adds its emit rows
    * ([[Results.addEmit]]) into its own results per tuple slot, making a
    * slot only when a row reaches it, and the driver merges task results
    * as they arrive. Under mergeResults every tuple folds into slot 0. The
    * job runs as one SQL execution of `em`, so query listeners, the UI and
    * TrailMatch's metrics see one query.
    */
  def aggregateEmits(
      prog: CompiledProgram, tuples: Vector[ForeachTuple], em: DataFrame): LocalRunner.RunOutput = {
    val merged = prog.mergeResults
    val nSlots = if (merged) 1 else tuples.length
    val fold = (rows: Iterator[InternalRow]) => {
      val slots = new Array[Results](nSlots)
      // kind and dst take a few values: decode each once per task
      val strings = new java.util.HashMap[UTF8String, String]()
      def str(u: UTF8String): String = {
        val s = strings.get(u)
        if (s != null) s else { val d = u.toString; strings.put(u.clone(), d); d }
      }
      rows.foreach { r =>
        val j = if (merged) 0 else r.getInt(0)
        if (slots(j) == null) slots(j) = new Results(prog)
        slots(j).addEmit(str(r.getUTF8String(1)), str(r.getUTF8String(2)),
          if (r.isNullAt(3)) null else r.getBinary(3), r.getLong(4))
      }
      slots
    }
    val results = Vector.fill(nSlots)(new Results(prog))
    val qe = em.select("tuple_idx", "kind", "dst", "item", "n").queryExecution
    SQLExecution.withNewExecutionId(qe, Some("trck runRaw")) {
      val rows = qe.toRdd
      rows.sparkContext.runJob(rows, fold, (_: Int, slots: Array[Results]) =>
        for (j <- 0 until nSlots if slots(j) != null) results(j).merge(slots(j)))
    }
    LocalRunner.RunOutput(prog, tuples, results, merged)
  }
}
