package graft.trck

import scala.collection.mutable

import Compiled._
import Fsm._

/** Result monoids for one (foreach-tuple) slot: counters, sorted tuple sets,
  * multisets, HLL sketches (reference: generated results_t,
  * src/fsm2c.py:793-811; merge src/fsm2c.py:752-765 — "all datatypes are
  * monoids", src/match_traildb.c:402-406).
  *
  * Set/multiset keys are the byte-encoded tuples, kept in Judy-JSL order
  * (unsigned byte sort) for output parity (reference:
  * src/results_json.c:137-160).
  */
final class Results(prog: CompiledProgram) extends Emitter with Serializable {
  /** False ⇔ every monoid is still at identity (no yield ever fired) — an
    * O(1) emptiness witness. The wide-foreach hot loop broadcasts ONE
    * scratch to thousands of tuples whose results are empty (absent
    * foreach values yield nothing); consumers use this to skip the
    * per-tuple map iteration entirely.
    */
  var touched: Boolean = false

  val counters: mutable.LinkedHashMap[String, Long] =
    mutable.LinkedHashMap(prog.yieldCounters.map(_ -> 0L): _*)
  val sets: mutable.LinkedHashMap[String, mutable.TreeMap[Array[Byte], Long]] =
    mutable.LinkedHashMap(prog.yieldSets.map(_ -> new mutable.TreeMap[Array[Byte], Long]()(Tuple.byteOrdering)): _*)
  val msets: mutable.LinkedHashMap[String, mutable.TreeMap[Array[Byte], Long]] =
    mutable.LinkedHashMap(prog.yieldMultisets.map(_ -> new mutable.TreeMap[Array[Byte], Long]()(Tuple.byteOrdering)): _*)
  val hlls: mutable.LinkedHashMap[String, Hll] = mutable.LinkedHashMap()

  override def counter(dst: String): Unit = {
    touched = true
    counters(dst) = counters(dst) + 1L
  }

  override def set(dst: String, values: Array[String], types: Array[Byte]): Unit = {
    touched = true
    val k = Tuple.encode(values, types)
    val m = sets(dst)
    m.update(k, m.getOrElse(k, 0L) + 1L)
  }

  override def multiset(dst: String, values: Array[String], types: Array[Byte]): Unit = {
    touched = true
    val k = Tuple.encode(values, types)
    val m = msets(dst)
    m.update(k, m.getOrElse(k, 0L) + 1L)
  }

  override def hll(dst: String, values: Array[String], types: Array[Byte]): Unit = {
    touched = true
    val h = hlls.getOrElseUpdate(dst, Hll())
    h.add(Tuple.encode(values, types))
  }

  /** Add one emit row (`TrailEngine.emitSchema`), the inverse of the
    * engine's emit encoding: kind `c` adds `n` to counter `dst`, `s` and
    * `m` add `n` to the count of the encoded tuple `item`, and `h`
    * register-maxes the sparse sketch `item` ([[Hll.sparse]]) into `dst`'s.
    */
  def addEmit(kind: String, dst: String, item: Array[Byte], n: Long): Unit = {
    touched = true
    kind match {
      case "c" => counters(dst) = counters(dst) + n
      case "s" => val m = sets(dst); m.update(item, m.getOrElse(item, 0L) + n)
      case "m" => val m = msets(dst); m.update(item, m.getOrElse(item, 0L) + n)
      case "h" => hlls.getOrElseUpdate(dst, Hll()).mergeSparse(item)
      case k   => throw new IllegalArgumentException(s"unknown emit kind '$k'")
    }
  }

  /** Back to identity, keeping the maps (TrailMatcher reuses scratch results). */
  private[trck] def clear(): Unit = if (touched) {
    touched = false
    counters.mapValuesInPlace((_, _) => 0L)
    sets.valuesIterator.foreach(_.clear())
    msets.valuesIterator.foreach(_.clear())
    hlls.clear()
  }

  /** Monoid add (reference: match_add_results). */
  def merge(other: Results): Unit = {
    if (!other.touched) return // identity — nothing to add
    touched = true
    other.counters.foreach { case (k, v) => counters(k) = counters(k) + v }
    other.sets.foreach { case (k, m) =>
      val dst = sets(k); m.foreach { case (t, c) => dst.update(t, dst.getOrElse(t, 0L) + c) }
    }
    other.msets.foreach { case (k, m) =>
      val dst = msets(k); m.foreach { case (t, c) => dst.update(t, dst.getOrElse(t, 0L) + c) }
    }
    other.hlls.foreach { case (k, h) =>
      hlls.get(k) match {
        case Some(mine) => mine.merge(h)
        case None       => hlls.update(k, Hll().merge(h))
      }
    }
  }

  /** JSON-able map replicating results_json keys/values: `$c` → long,
    * `#s` → sorted array of rendered tuples, `&m` → {rendered: count},
    * `^h` → RLE-hex sketch (reference: src/results_json.c:233-295,
    * src/fsm2c.py:817-833 gen_print key naming).
    */
  def toOutput: mutable.LinkedHashMap[String, Any] = {
    val out = mutable.LinkedHashMap[String, Any]()
    counters.foreach { case (k, v) => out("$" + k) = v }
    sets.foreach { case (k, m) => out("#" + k) = m.keys.map(Tuple.render).toVector }
    msets.foreach { case (k, m) =>
      out("&" + k) = OutputJson.Mset(m.map { case (t, c) => Tuple.render(t) -> c }.toVector)
    }
    hlls.foreach { case (k, h) => out("^" + k) = h.toHexString }
    prog.yieldHlls.foreach(k => if (!hlls.contains(k)) out("^" + k) = Hll.EmptyHex)
    out
  }
}

/** Single-process runner replicating `run_groupby_query2`
  * (reference: src/match_traildb.c:372-953): multi-DB state carry-over,
  * min_ts cross-DB cut, per-uuid window filter, exclude set, the foreach
  * loop and MAX_TIMESTAMP finalization. This is the definition the Spark
  * engine, the streaming engine and the golden tests check against, so it
  * runs the plainest form of the loop: one `Fsm.matchTrail` per (trail ×
  * tuple) per DB and one per (cookie × tuple) at finalization, with none of
  * [[TrailMatcher]]'s sharing between tuples.
  */
object LocalRunner {

  final case class RawEvent(ts: Long, fields: Map[String, String])
  /** One TrailDB: insertion-ordered trails of time-ordered events. */
  final case class Db(trails: Seq[(String, Seq[RawEvent])])

  /** CNF pre-scan filter (reference: src/traildb_filter.c:9-103): AND of
    * clauses, each an OR of (field op value) terms, op ∈ {equal, notequal}.
    */
  final case class CnfFilter(clauses: Seq[Seq[(String, String, Boolean)]]) {
    def matches(e: RawEvent): Boolean =
      clauses.forall(_.exists { case (f, v, eq) =>
        val ev = e.fields.getOrElse(f, "")
        if (eq) ev == v else ev != v
      })
  }

  /** Per-uuid [start, end) windows; listed uuids only. The optional id
    * column substitutes the ctx cookie (what `cookie` yields report) while
    * the trail is still looked up by the real cookie
    * (reference: src/window_set.c:30-180, src/match_traildb.c:533-553).
    */
  final case class WindowEntry(id: String, cookie: String, start: Long, end: Long)
  final case class WindowSet(entries: Seq[WindowEntry])

  /** One foreach tuple: per groupby var either a scalar or a set. Set
    * elements keep the params-file order — the reference echoes `#var`
    * tuples back in parse order, not sorted
    * (reference: src/results_json.c:252-265).
    */
  final case class ForeachTuple(items: Vector[Either[String, Vector[String]]]) {
    @transient private lazy val setItems: Vector[Option[Set[String]]] =
      items.map { case Right(vs) => Some(vs.toSet); case _ => None }

    def bind(vars: Seq[String], base: Bindings): Bindings = {
      var sc = base.scalars
      var st = base.sets
      var i = 0
      while (i < vars.length && i < items.length) {
        items(i) match {
          case Left(s)  => sc += Ir.stripType(vars(i)) -> s
          case Right(_) => st += Ir.stripType(vars(i)) -> setItems(i).get
        }
        i += 1
      }
      Bindings(sc, st)
    }
  }

  final case class RunOutput(
      prog: CompiledProgram,
      tuples: Vector[ForeachTuple],
      results: Vector[Results],
      merged: Boolean,
  ) {
    /** groupby results in the reference's array-of-objects shape: result
      * vars first, then the %var/#var echo, with `#var` sets in params-file
      * tuple order (reference: src/results_json.c:233-272
      * output_groupby_result_json prints match_results_to_json before the
      * var loop and iterates `str_set` in stored order).
      */
    def toOutputs: Vector[mutable.LinkedHashMap[String, Any]] =
      if (prog.groupbyVars.isEmpty || merged) Vector(results.head.toOutput)
      else
        tuples.zip(results).map { case (t, r) =>
          val m = r.toOutput
          prog.groupbyVars.zip(t.items).foreach {
            case (v, Left(s))   => m(v) = s
            case (v, Right(ss)) => m(v) = ss
          }
          m
        }
  }

  /** [[run]] with a full fcall module: the initialize hook fires before any
    * trail is read, the finalize hook after the run completes (or fails) —
    * once per query run, like the reference's main-scope calls.
    */
  def runModule(
      module: Fsm.FcallModule,
      prog: CompiledProgram,
      dbs: Seq[Db],
      params: Bindings = Bindings(),
      foreachTuples: Option[Vector[ForeachTuple]] = None,
      cnf: Option[CnfFilter] = None,
      windows: Option[WindowSet] = None,
      exclude: Set[String] = Set.empty,
  ): RunOutput = {
    module.onInitialize()
    try run(prog, dbs, params, foreachTuples, cnf, windows, exclude, module.fcalls)
    finally module.onFinalize()
  }

  def run(
      prog: CompiledProgram,
      dbs: Seq[Db],
      params: Bindings = Bindings(),
      foreachTuples: Option[Vector[ForeachTuple]] = None,
      cnf: Option[CnfFilter] = None,
      windows: Option[WindowSet] = None,
      exclude: Set[String] = Set.empty,
      fcalls: Map[String, Fcall] = Map.empty,
  ): RunOutput = {
    val gvars = prog.groupbyVars
    val groupbySet = gvars.toSet

    // foreach tuple list: explicit, or implicit lexicon sweep over the bound
    // field ("" first — reference: src/match_traildb.c:188-236 get_lexicon)
    val tuples: Vector[ForeachTuple] =
      if (gvars.isEmpty) Vector(ForeachTuple(Vector.empty))
      else
        foreachTuples.getOrElse {
          require(gvars.size == 1, "implicit foreach requires exactly one var")
          val field = prog.varFields.getOrElse(
            gvars.head,
            sys.error(s"foreach var ${gvars.head} has no inferred field"),
          )
          val values = dbs
            .flatMap(_.trails.flatMap(_._2.flatMap(_.fields.get(field))))
            .filter(_.nonEmpty)
            .distinct
            .sorted
          ("" +: values).map(v => ForeachTuple(Vector(Left(v)))).toVector
        }

    val nTuples = tuples.length
    val nSlots = if (prog.mergeResults) 1 else nTuples
    val results = Vector.fill(nSlots)(new Results(prog))
    def slot(j: Int): Results = results(if (prog.mergeResults) 0 else j)

    // cookie → per-tuple states (reference: states Judy128 map)
    val states = mutable.LinkedHashMap[String, Array[FsmState]]()

    var minTs = 0L
    val stats = new RunStats

    for (db <- dbs) {
      val dbMaxTs = db.trails.iterator.flatMap(_._2.iterator.map(_.ts)).foldLeft(0L)(math.max)

      // (ctxCookie, stateKey, events, wStart, wEnd): with a window file the
      // ctx cookie is the window id while state/exclude key by real cookie
      val trailSeq: Seq[(String, String, Seq[RawEvent], Long, Long)] = windows match {
        case Some(ws) =>
          // iterate the window list, not the db (reference: :513-524)
          val byCookie = db.trails.toMap
          ws.entries.flatMap(w => byCookie.get(w.cookie).map(ev => (w.id, w.cookie, ev, w.start, w.end)))
        case None => db.trails.map { case (c, ev) => (c, c, ev, 0L, 0L) }
      }

      // states written thread-locally per DB, merged after (reference:
      // :779-794, :812-849) — matters when one cookie has several window ids
      val dbStates = mutable.LinkedHashMap[String, Array[FsmState]]()

      for ((ctxCookie, cookie, rawEvents, wStart0, wEnd) <- trailSeq if !exclude.contains(cookie)) {
        val wStart = math.max(wStart0, minTs)
        // read + filter trail (reference: ctx_read_trail), then dedup over
        // ALL db fields — an event differing only in a field the program
        // never references is NOT a duplicate (reference compares the whole
        // item array, src/ctx.c:112-131; covered by test_dedup.json)
        val filtered = rawEvents.iterator
          .filter(e => cnf.forall(_.matches(e)))
          .filter(e => wStart == 0 || e.ts >= wStart)
          .filter(e => wEnd == 0 || e.ts < wEnd)
          .toArray
        val deduped = new mutable.ArrayBuffer[RawEvent](filtered.length)
        for (e <- filtered) {
          val dup = deduped.nonEmpty && {
            val p = deduped.last
            p.ts == e.ts && {
              val keys = p.fields.keySet ++ e.fields.keySet
              keys.forall(k => p.fields.getOrElse(k, "") == e.fields.getOrElse(k, ""))
            }
          }
          if (!dup) { Compiled.requireEventTs(cookie, e.ts); deduped += e }
        }
        val events = deduped.iterator.map { e =>
          val arr = new Array[String](prog.fields.length)
          var i = 0
          while (i < arr.length) { arr(i) = e.fields.getOrElse(prog.fields(i), ""); i += 1 }
          new TrailEvent(e.ts, arr)
        }.toArray

        // the definition: one plain run per (trail × tuple), no skip rule
        val saved = states.getOrElseUpdate(cookie, Array.fill(nTuples)(FsmState.initial(prog)))
        dbStates(cookie) = Array.tabulate(nTuples) { j =>
          val st = saved(j).copyOf()
          Fsm.matchTrail(prog, st, new TrailCtx(ctxCookie, events, wStart, wEnd),
            tuples(j).bind(gvars, params), slot(j), stats, groupbySet, fcalls)
          st
        }
      }
      states ++= dbStates
      minTs = dbMaxTs
    }

    // finalization at MAX_TIMESTAMP (reference: :899-944), one run per
    // (cookie × tuple) whose state left the initial one
    for ((cookie, sts) <- states; j <- 0 until nTuples if !sts(j).isInitial(prog.entrypoint))
      Fsm.matchTrail(prog, sts(j), TrailCtx.finalization(cookie),
        tuples(j).bind(gvars, params), slot(j), stats, groupbySet, fcalls)

    RunOutput(prog, tuples, results, prog.mergeResults)
  }
}
