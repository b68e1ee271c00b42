package graft.trck

import Compiled._
import Fsm._
import LocalRunner.{ForeachTuple, WindowEntry}

/** The per-trail foreach loop with the reference's two skip optimizations
  * (reference: src/match_traildb.c:579-744):
  *
  *  1. groupby-independence early-break: a run that never consulted a
  *     foreach var applies verbatim to every tuple sharing the same
  *     starting state;
  *  2. distinct-value skipping: among tuples that do share a starting
  *     state, those whose values don't appear in the trail all behave
  *     identically — one memoized run covers them.
  *
  * Together these give the reference's ≤ N+1 match-calls-per-trail bound
  * for N distinct foreach values present in the trail
  * (reference: src/match_traildb.c:596-608).
  *
  * Shared between LocalRunner (multi-DB semantics oracle) and the Spark
  * engine (runs inside mapPartitions).
  */
object TrailMatcher {

  /** Local-mode instrumentation: total [[Fsm.matchTrail]] invocations made
    * by [[processTrail]] — the quantity the reference bounds at ~N+1 per
    * trail for N distinct foreach values present in the trail
    * (src/match_traildb.c:596-608). A JVM-wide adder, so it is meaningful
    * only under local[*] where every task shares the driver JVM;
    * MatchCallBoundSpec resets and reads it around a run. One
    * uncontended add per match call — negligible.
    */
  val matchCalls = new java.util.concurrent.atomic.LongAdder

  /** Run every foreach tuple over one trail. `saved` holds per-tuple
    * starting states (mutated copies are returned); `onResult(j, scratch)`
    * receives each tuple's yields (scratch may be shared across tuples —
    * merge, don't keep).
    */
  def processTrail(
      prog: CompiledProgram,
      tuples: IndexedSeq[ForeachTuple],
      saved: Array[FsmState],
      events: Array[TrailEvent],
      cookie: String,
      wStart: Long,
      wEnd: Long,
      params: Bindings,
      fcalls: Map[String, Fcall],
      onResult: (Int, Results) => Unit,
  ): Array[FsmState] = {
    val gvars = prog.groupbyVars
    val groupbySet = gvars.toSet
    val nTuples = tuples.length
    val out = new Array[FsmState](nTuples)
    val stats = new RunStats

    val dvOk = gvars.nonEmpty && gvars.forall(v => prog.varFields.get(v).exists(_ != "timestamp"))
    val gvFields = gvars.map(v => prog.varFields.getOrElse(v, ""))

    var trailVals: Array[Set[String]] = null
    def tupleInTrail(k: Int): Boolean = {
      if (trailVals == null)
        trailVals = gvFields.map { f =>
          val s = prog.slot(f)
          if (s == -1) Set.empty[String]
          else {
            val b = Set.newBuilder[String]
            var i = 0
            while (i < events.length) { b += events(i).fields(s); i += 1 }
            b.result()
          }
        }.toArray
      // index loop, no zipWithIndex: this runs once per (trail × tuple) at
      // wide foreach cardinality — a per-call collection alloc is hot
      val items = tuples(k).items
      var i = 0
      while (i < items.length) {
        items(i) match {
          case Left(v)   => if (trailVals(i).contains(v)) return true
          case Right(vs) => if (vs.exists(trailVals(i).contains)) return true
        }
        i += 1
      }
      false
    }

    def runOne(j: Int): (FsmState, Results, Boolean) = {
      matchCalls.increment()
      val st = saved(j).copyOf()
      val scratch = new Results(prog)
      stats.reset()
      val ctx = new TrailCtx(cookie, events, wStart, wEnd)
      Fsm.matchTrail(prog, st, ctx, tuples(j).bind(gvars, params), scratch, stats, groupbySet, fcalls)
      (st, scratch, stats.groupbyUsed)
    }

    var j = 0
    while (j < nTuples) {
      var n = 1
      while (j + n < nTuples && saved(j + n).sameAs(saved(j))) n += 1

      val (st, scratch, used) = runOne(j)
      if (!used) {
        // the representative's run applies to every tuple in the group, and
        // every tuple SHARES the one result-state object: nothing mutates a
        // state in place except finalizeTrail, which is identity-aware (it
        // snapshots a shared state before its first binding-sensitive run).
        // The previous per-tuple copyOf here was the dominant cost of wide
        // foreach loops — 10k state copies per trail at 10k tuples, for
        // states the reference's own N+1 bound says are identical.
        var k = j
        while (k < j + n) {
          out(k) = st
          onResult(k, scratch); k += 1
        }
        j += n
      } else {
        out(j) = st
        onResult(j, scratch)
        var k = j + 1
        val end = j + n
        // a representative whose own values are absent from the trail IS
        // the absent-value run: seed the memo from it rather than running
        // the first absent tuple again (keeps the ≤ N+1 bound)
        var memo: (FsmState, Results) =
          if (dvOk && !tupleInTrail(j)) (st, scratch) else null
        while (k < end) {
          if (!dvOk || tupleInTrail(k)) {
            val (s2, r2, _) = runOne(k)
            out(k) = s2; onResult(k, r2)
          } else if (memo == null) {
            val (s2, r2, _) = runOne(k); memo = (s2, r2)
            out(k) = s2; onResult(k, r2)
          } else {
            // memo users share the memoized state too (see early-break note)
            out(k) = memo._1; onResult(k, memo._2)
          }
          k += 1
        }
        j = end
      }
    }
    out
  }

  /** `cookie`'s window entries in window-file order (`byCookie` groups a
    * window file's entries by cookie); without a window file, the single
    * unbounded entry `(cookie, cookie, 0, 0)`.
    */
  def entriesOf(
      byCookie: Option[Map[String, IndexedSeq[WindowEntry]]], cookie: String): IndexedSeq[WindowEntry] =
    byCookie.fold(IndexedSeq(WindowEntry(cookie, cookie, 0L, 0L)))(_.getOrElse(cookie, IndexedSeq.empty))

  /** Replay one source segment of a trail through every window entry of its
    * cookie (reference: src/match_traildb.c:513-560). `events` are
    * ts-sorted with consecutive duplicates already removed: dedup before
    * the bounds is the same as dedup after them, because duplicates share
    * a ts and the bounds read only the ts. Entry e runs on the ts slice
    * `[max(start, cut), end)` (a bound of 0 means no bound) with its id as
    * ctx cookie, starting from `carried`; the last entry's output is
    * returned (`carried` itself when there are no entries).
    */
  def runEntries(
      prog: CompiledProgram,
      tuples: IndexedSeq[ForeachTuple],
      carried: Array[FsmState],
      events: Array[TrailEvent],
      entries: IndexedSeq[WindowEntry],
      cut: Long,
      params: Bindings,
      fcalls: Map[String, Fcall],
      emit: String => (Int, Results) => Unit,
  ): Array[FsmState] = {
    def from(bound: Long, lo: Int): Int = {
      val i = events.indexWhere(_.ts >= bound, lo)
      if (i < 0) events.length else i
    }
    var out = carried
    for (entry <- entries) {
      val ws = math.max(entry.start, cut)
      val we = entry.end
      val lo = if (ws == 0L) 0 else from(ws, 0)
      val hi = if (we == 0L) events.length else from(we, lo)
      val slice =
        if (lo == 0 && hi == events.length) events
        else java.util.Arrays.copyOfRange(events, lo, hi)
      out = processTrail(prog, tuples, carried, slice, entry.id, ws, we, params, fcalls, emit(entry.id))
    }
    out
  }

  /** Does running the FSM over an EMPTY trail mutate a fresh state? True
    * when the entrypoint chain immediately enters outer window-block rules
    * (state.ri advances past the markers and outer expiries are pushed at
    * ts 0), which makes zero-event trails observable at finalization
    * (after-yields at MAX_TIMESTAMP). The reference runs the per-trail loop
    * for every trail present in a DB — including trails whose events are
    * all filtered away — so engines that drop empty trails early must use
    * this probe to know when that shortcut is visible.
    */
  def emptyRunMutates(prog: CompiledProgram): Boolean = {
    val st = FsmState.initial(prog)
    Fsm.matchTrail(
      prog, st, new TrailCtx("", Array.empty[TrailEvent], 0L, 0L),
      Bindings(), new Results(prog))
    !st.isInitial(prog.entrypoint)
  }

  /** MAX_TIMESTAMP finalization for one trail's surviving states
    * (reference: src/match_traildb.c:899-944).
    *
    * Identity-aware: [[processTrail]]'s early-break and memo paths ALIAS
    * one state object across a whole tuple group (the reference's N+1
    * bound says they are identical — copying them per tuple was the
    * dominant cost of wide foreach loops). An aliased group finalizes
    * ONCE when the run never consults the foreach binding — the same
    * groupby-independence rule the per-event loop uses — and falls back
    * to one run per tuple from a pre-run snapshot when it does. Skip/run
    * membership is decided from the PRE-finalization states (the
    * representative's in-place run must not change later aliases'
    * eligibility).
    */
  def finalizeTrail(
      prog: CompiledProgram,
      tuples: IndexedSeq[ForeachTuple],
      states: Array[FsmState],
      cookie: String,
      params: Bindings,
      fcalls: Map[String, Fcall],
      onResult: (Int, Results) => Unit,
  ): Unit = {
    val gvars = prog.groupbyVars
    val groupbySet = gvars.toSet
    val stats = new RunStats
    val n = states.length
    val fin = new Array[Boolean](n)
    val shares = new java.util.IdentityHashMap[FsmState, Integer]()
    // aliases are overwhelmingly CONSECUTIVE (processTrail's early-break
    // groups) — walk runs so the map sees one op per run, not per tuple
    var j = 0
    while (j < n) {
      var e = j + 1
      while (e < n && (states(e) eq states(j))) e += 1
      if (!states(j).isInitial(prog.entrypoint)) {
        java.util.Arrays.fill(fin, j, e, true)
        val c = shares.get(states(j))
        shares.put(states(j), if (c == null) e - j else c + (e - j))
      }
      j = e
    }
    val done = new java.util.IdentityHashMap[FsmState, Results]()
    val preSnap = new java.util.IdentityHashMap[FsmState, FsmState]()
    // consecutive-alias cache: a broadcastable result flows to the next
    // tuples of the same run with zero map lookups
    var prevSt: FsmState = null
    var prevRes: Results = null
    j = 0
    while (j < n) {
      if (fin(j)) {
        val st = states(j)
        if ((st eq prevSt) && prevRes != null) onResult(j, prevRes)
        else {
          prevSt = st
          prevRes = null
          val cached = done.get(st)
          if (cached != null) { prevRes = cached; onResult(j, cached) }
          else {
            val pre = preSnap.get(st)
            if (pre != null) {
              // shared state whose finalization IS binding-sensitive: each
              // tuple runs from its own copy of the pre-run snapshot
              val scratch = new Results(prog)
              stats.reset()
              Fsm.matchTrail(
                prog, pre.copyOf(), TrailCtx.finalization(cookie),
                tuples(j).bind(gvars, params), scratch, stats, groupbySet, fcalls,
              )
              onResult(j, scratch)
            } else {
              val shared = shares.get(st) > 1
              val snap = if (shared) st.copyOf() else null
              val scratch = new Results(prog)
              stats.reset()
              Fsm.matchTrail(
                prog, st, TrailCtx.finalization(cookie),
                tuples(j).bind(gvars, params), scratch, stats, groupbySet, fcalls,
              )
              onResult(j, scratch)
              if (shared) {
                if (!stats.groupbyUsed) { done.put(st, scratch); prevRes = scratch }
                else preSnap.put(st, snap)
              }
            }
          }
        }
      }
      j += 1
    }
  }
}
