package graft.trck

import Compiled._
import Fsm._
import LocalRunner.{ForeachTuple, WindowEntry}

/** The per-trail foreach loop: one pass over a trail for all foreach tuples
  * (the Spark engine and TrailStream run it; LocalRunner, the definition,
  * runs each tuple alone).
  *
  * A class is a set of tuples that share one FSM state. A foreach predicate
  * only compares a tuple's value with an event field, so the members whose
  * values are absent from an event all take one transition: per event, a
  * class steps once with its foreach vars unbound, plus once for each member
  * whose value the event holds (a value → tuples index finds them). Such a
  * member stays if its step lands on the class's new state, else it leaves
  * and joins the class whose state it reached. If the class
  * step never read a foreach var (`RunStats.groupbyUsed`) no member leaves:
  * the per-event form of the reference's early break
  * (src/match_traildb.c:579-744). Events where no tuple is special run in
  * one Fsm call per class, so a program without foreach makes one call per
  * trail segment. Bound: ≤ G + N event-steps per event, for G distinct
  * starting states and N tuples whose values occur in the trail (the
  * reference's N+1 calls times the trail length); ≤ 2 on perftest1.
  *
  * A class logs its yields; a member settles the log range between joining
  * and leaving into its own Results. Programs whose yields echo a foreach
  * var, or that compare one with the timestamp, replay each tuple alone.
  *
  * Classes step their states in place, and the loop's scratch (per-tuple
  * arrays, spare states, a pool of Results) belongs to the per-task plan,
  * so a step allocates only what it yields and a leaving member's state.
  */
object TrailMatcher {

  /** FSM event-steps made by [[processTrail]] (the events each Fsm run
    * reads, summed). JVM-wide, so meaningful only under local[*]; one add
    * per trail. Only the trckperf benchmark reads it; tests read
    * [[threadSteps]] or TrailMatch's `eventSteps` metric.
    */
  val matchCalls = new java.util.concurrent.atomic.LongAdder

  /** Event-steps [[processTrail]] made on this thread, summed: a task
    * reads the difference across its trails (correct on a cluster, unlike
    * [[matchCalls]]).
    */
  def threadSteps: Long = stepsHere.get.steps

  private final class StepCount { var steps = 0L }
  private val stepsHere = ThreadLocal.withInitial[StepCount](() => new StepCount)

  /** What the loop needs of (program, tuples, params), built once per task
    * (one per thread, reused while the same objects come back), and the
    * loop's scratch, reused by every trail.
    */
  private final class Plan(val prog: CompiledProgram, val tuples: IndexedSeq[ForeachTuple],
      val params: Bindings, val fcalls: Map[String, Fcall]) {
    private val gvars = prog.groupbyVars
    private val gset = gvars.toSet
    private val bound = new Array[Resolved](tuples.length)
    def binds(j: Int): Resolved = {
      if (bound(j) == null) bound(j) = Fsm.resolve(prog, tuples(j).bind(gvars, params), gset)
      bound(j)
    }
    /** foreach vars unbound: every foreach predicate reads false */
    val generic: Resolved = {
      val names = gvars.map(Ir.stripType)
      Fsm.resolve(prog, Bindings(params.scalars -- names, params.sets -- names), gset)
    }
    private val clauses = prog.rules.flatMap(r => r.clauses :+ r.after)
    private def echoes(t: CTerm): Boolean = t match {
      case ParamT(i)        => gset(prog.yieldParams(i))
      case FcallT(_, as)    => as.exists(echoes)
      case _                => false
    }
    /** false: replay every tuple alone */
    val classes: Boolean = !clauses.exists(c => c.yields.exists(_.src.exists(echoes)) ||
      c.preds.exists { case TsCmp(_, _, v, _) => v >= 0 && gset(prog.varNames(v)); case _ => false })
    /** per foreach predicate, its event slot and value → tuples bound to
      * it: an event holding a tuple's bound value may move it off its
      * class's step
      */
    private val index: Array[(Int, java.util.HashMap[String, Array[Int]])] = if (!classes) Array.empty else
      clauses.flatMap(_.preds).collect {
        case EqScalar(slot, v, n) if generic.groupby(v) => (slot, v, (b: Bindings) => Option(b.scalar(n)).toSeq)
        case InSet(slot, v, n) if generic.groupby(v)    => (slot, v, (b: Bindings) => Option(b.set(n)).toSeq.flatten)
      }.distinctBy(p => (p._1, p._2)).map { case (slot, _, values) =>
        val m = new java.util.HashMap[String, Array[Int]]()
        tuples.indices.flatMap(j => values(tuples(j).bind(gvars, params)).map(_ -> j)).groupMap(_._1)(_._2)
          .foreach { case (x, js) => m.put(x, js.toArray) }
        slot -> m
      }
    val indexSlots: Array[Int] = index.map(_._1)
    val indexMaps: Array[java.util.HashMap[String, Array[Int]]] = index.map(_._2)
    val m = new Machine(prog, fcalls)
    val stats = new RunStats
    // per-trail scratch: the event a tuple was last found special at, the
    // special chain of its class, and the tuples that left with their states
    var tick = 0
    val mark = new Array[Int](tuples.length)
    val nextSp = new Array[Int](tuples.length)
    val movedK = new Array[Int](tuples.length)
    val moved = new Array[FsmState](tuples.length)
    // each tuple's class, log position and own results (null between trails)
    val cls = new Array[Cls](tuples.length)
    val joinAt = new Array[Int](tuples.length)
    val own = new Array[Results](tuples.length)
    // live classes, and each by its state (keyed by Cls.key)
    var live = new Array[Cls](8)
    var nLive = 0
    val byState = new java.util.HashMap[FsmState, Cls]()
    // a class's state before its step, and a special member's step
    val pre: FsmState = FsmState.initial(prog)
    var spare: FsmState = FsmState.initial(prog)
    /** never touched: the results of a member whose class yielded nothing */
    val empty = new Results(prog)
    private var free = new Array[Results](8)
    private var nFree = 0
    def takeResults(): Results =
      if (nFree == 0) new Results(prog) else { nFree -= 1; val r = free(nFree); free(nFree) = null; r }
    def giveResults(r: Results): Unit = {
      r.clear()
      if (nFree == free.length) free = java.util.Arrays.copyOf(free, 2 * nFree)
      free(nFree) = r; nFree += 1
    }
    def addLive(c: Cls): Unit = {
      if (nLive == live.length) live = java.util.Arrays.copyOf(live, 2 * nLive)
      c.at = nLive; live(nLive) = c; nLive += 1
    }
  }

  private val plans = new ThreadLocal[Plan]

  private def planFor(
      prog: CompiledProgram, tuples: IndexedSeq[ForeachTuple], params: Bindings, fcalls: Map[String, Fcall]): Plan = {
    val p = plans.get
    if (p != null && (p.prog eq prog) && (p.tuples eq tuples) && (p.params eq params) && (p.fcalls eq fcalls)) p
    else { val q = new Plan(prog, tuples, params, fcalls); plans.set(q); q }
  }

  /** Tuples sharing one state, stepped with `binds`; `into` is set when
    * merged into a bigger class at that class's log position `intoAt`.
    * `key` is `state` as of the last byState rebuild: byState maps it here,
    * and a step that left `state` unequal to it makes byState stale.
    */
  private final class Cls(val state: FsmState, val binds: Resolved) {
    val key: FsmState = state.copyOf()
    val log = new YieldLog
    var size = 0; var into: Cls = null; var intoAt = 0
    var at = 0 // index in Plan.live
    var spHead = -1; var spCount = 0 // this event's special members: chain head, count
    var full: Results = null
    def fullResults(plan: Plan): Results = {
      if (full == null) {
        if (log.size == 0) full = plan.empty
        else { full = plan.takeResults(); log.replay(0, log.size, full) }
      }
      full
    }
  }

  /** Run every foreach tuple over one trail. `saved` holds per-tuple
    * starting states (never mutated); the returned states are shared by
    * the members of a class and must not be mutated either.
    * `onResult(j, scratch)` receives each tuple's yields (scratch may be
    * shared across tuples and is reused after the call — merge, don't
    * keep).
    *
    * Per event, a class steps in place; its state before the step is kept
    * in scratch for its special members. A special member whose step lands
    * on the class's new state stays (its log position moves past the
    * class's step); one that lands elsewhere leaves. byState is rebuilt
    * only when a step changed a class's state.
    */
  def processTrail(prog: CompiledProgram, tuples: IndexedSeq[ForeachTuple], saved: Array[FsmState],
      events: Array[TrailEvent], cookie: String, wStart: Long, wEnd: Long, params: Bindings,
      fcalls: Map[String, Fcall], onResult: (Int, Results) => Unit): Array[FsmState] = {
    val plan = planFor(prog, tuples, params, fcalls)
    import plan.{byState, cls, joinAt, own, stats}
    val m = plan.m
    val ctx = new TrailCtx(cookie, events, wStart, wEnd)
    val n = tuples.length
    val len = events.length
    var steps = 0L
    def run(st: FsmState, from: Int, until: Int, binds: Resolved, e: Emitter): Unit = {
      steps += until - from; stats.reset()
      m.run(st, ctx.range(from, until), binds, e, stats)
    }
    val out = new Array[FsmState](n)
    plan.nLive = 0
    byState.clear()
    // equal starting states share a class; without the class loop each
    // tuple is a class of its own, stepping with its own bindings
    var j = 0
    while (j < n) {
      val s = saved(j)
      val c =
        if (!plan.classes) { val c1 = new Cls(s.copyOf(), plan.binds(j)); plan.addLive(c1); c1 }
        else if (j > 0 && (s eq saved(j - 1))) cls(j - 1)
        else byState.get(s) match {
          case null => val c1 = new Cls(s.copyOf(), plan.generic); byState.put(c1.key, c1); plan.addLive(c1); c1
          case c0   => c0
        }
      cls(j) = c; joinAt(j) = 0; c.size += 1
      j += 1
    }
    // add c's log from j's join up to `until` to j's own results
    def settle(j: Int, c: Cls, until: Int): Results = {
      if (own(j) == null) own(j) = plan.takeResults()
      c.log.replay(joinAt(j), until, own(j)); own(j)
    }
    def find(j: Int): Cls = {
      var c = cls(j)
      while (c.into != null) {
        if (c.log.size > joinAt(j)) settle(j, c, c.log.size)
        joinAt(j) = c.intoAt; c = c.into
      }
      cls(j) = c; c
    }
    val slots = plan.indexSlots
    val maps = plan.indexMaps
    var nMoved = 0; var pos = 0; var t = 0
    while (t <= len) {
      var specials = false
      if (t < len && slots.length > 0) {
        if (plan.tick == Int.MaxValue) { java.util.Arrays.fill(plan.mark, 0); plan.tick = 0 }
        plan.tick += 1
        val fields = events(t).fields
        var x = 0
        while (x < slots.length) {
          val slot = slots(x)
          val js = maps(x).get(if (slot == -1) "" else fields(slot))
          if (js != null) {
            var y = 0
            while (y < js.length) {
              val k = js(y)
              if (plan.mark(k) != plan.tick) {
                plan.mark(k) = plan.tick; specials = true
                val c = find(k)
                plan.nextSp(k) = c.spHead; c.spHead = k; c.spCount += 1
              }
              y += 1
            }
          }
          x += 1
        }
      }
      if (specials) {
        var stale = false
        var li = 0
        while (li < plan.nLive) {
          val c = plan.live(li)
          if (c.spCount == 0) run(c.state, pos, t + 1, c.binds, c.log)
          else {
            if (t > pos) run(c.state, pos, t, c.binds, c.log)
            val q = c.log.size
            // with no generic member left, the first special steps the class
            val j0 = if (c.spCount == c.size) c.spHead else -1
            val pre = if (c.spCount > 1 || j0 == -1) { plan.pre.copyFrom(c.state); plan.pre } else null
            run(c.state, t, t + 1, if (j0 == -1) c.binds else plan.binds(j0), c.log)
            if (stats.groupbyUsed) {
              var k = c.spHead
              while (k != -1) {
                if (k != j0) {
                  val st = plan.spare
                  st.copyFrom(pre)
                  run(st, t, t + 1, plan.binds(k), settle(k, c, q))
                  if (st.sameAs(c.state)) joinAt(k) = c.log.size // stays, past the class's step
                  else {
                    c.size -= 1
                    plan.moved(nMoved) = st; plan.movedK(nMoved) = k; nMoved += 1
                    plan.spare = FsmState.initial(prog)
                  }
                }
                k = plan.nextSp(k)
              }
            }
            c.spHead = -1; c.spCount = 0
          }
          if (!stale && !c.state.sameAs(c.key)) stale = true
          li += 1
        }
        if (stale) {
          // classes whose states met merge, the smaller into the larger
          byState.clear()
          val nl = plan.nLive
          plan.nLive = 0
          li = 0
          while (li < nl) {
            val c = plan.live(li); plan.live(li) = null
            c.key.copyFrom(c.state)
            byState.get(c.state) match {
              case null => byState.put(c.key, c); plan.addLive(c)
              case d if d.size >= c.size =>
                c.into = d; c.intoAt = d.log.size; d.size += c.size; c.size = 0
              case d =>
                d.into = c; d.intoAt = c.log.size; c.size += d.size; d.size = 0
                byState.put(d.key, c); c.at = d.at; plan.live(d.at) = c
            }
            li += 1
          }
        }
        // leavers join the class whose state they reached, or found one
        var i = 0
        while (i < nMoved) {
          val k = plan.movedK(i); val st = plan.moved(i); plan.moved(i) = null
          val d = byState.get(st) match {
            case null => val c1 = new Cls(st, plan.generic); byState.put(c1.key, c1); plan.addLive(c1); c1
            case d0   => d0
          }
          cls(k) = d; joinAt(k) = d.log.size; d.size += 1
          i += 1
        }
        nMoved = 0
        pos = t + 1
      } else if (t == len && (len > pos || len == 0)) {
        var li = 0
        while (li < plan.nLive) { val c = plan.live(li); run(c.state, pos, len, c.binds, c.log); li += 1 }
      }
      t += 1
    }
    j = 0
    while (j < n) {
      val c = find(j)
      out(j) = c.state
      onResult(j, if (own(j) == null && joinAt(j) == 0) c.fullResults(plan) else settle(j, c, c.log.size))
      j += 1
    }
    // scratch back to the plan: results to its pool, no class kept alive
    j = 0
    while (j < n) {
      if (own(j) != null) { plan.giveResults(own(j)); own(j) = null }
      val c = cls(j)
      if (c.full != null && (c.full ne plan.empty)) plan.giveResults(c.full)
      c.full = null
      cls(j) = null
      j += 1
    }
    java.util.Arrays.fill(plan.live.asInstanceOf[Array[AnyRef]], 0, plan.nLive, null)
    plan.nLive = 0
    byState.clear()
    matchCalls.add(steps)
    stepsHere.get.steps += steps
    out
  }

  /** `cookie`'s window entries in window-file order (`byCookie`: a window
    * file's entries by cookie); without one, the unbounded `(cookie, cookie, 0, 0)`.
    */
  def entriesOf(
      byCookie: Option[Map[String, IndexedSeq[WindowEntry]]], cookie: String): IndexedSeq[WindowEntry] =
    byCookie.fold(IndexedSeq(WindowEntry(cookie, cookie, 0L, 0L)))(_.getOrElse(cookie, IndexedSeq.empty))

  /** Replay one source segment of a trail through every window entry of its
    * cookie (reference: src/match_traildb.c:513-560). `events` are ts-sorted
    * with consecutive duplicates removed (the same as dedup after the
    * bounds: duplicates share a ts). Entry e runs on the ts slice
    * `[max(start, cut), end)` (0 = no bound) with its id as ctx cookie,
    * from `carried`; the last entry's output (else `carried`) is returned.
    */
  def runEntries(prog: CompiledProgram, tuples: IndexedSeq[ForeachTuple], carried: Array[FsmState],
      events: Array[TrailEvent], entries: IndexedSeq[WindowEntry], cut: Long, params: Bindings,
      fcalls: Map[String, Fcall], emit: String => (Int, Results) => Unit): Array[FsmState] = {
    def from(ts: Long, lo: Int): Int = events.indexWhere(_.ts >= ts, lo) match { case -1 => events.length; case i => i }
    var out = carried
    for (entry <- entries) {
      val ws = math.max(entry.start, cut)
      val we = entry.end
      val lo = if (ws == 0L) 0 else from(ws, 0)
      val hi = if (we == 0L) events.length else from(we, lo)
      val slice = if (lo == 0 && hi == events.length) events else java.util.Arrays.copyOfRange(events, lo, hi)
      out = processTrail(prog, tuples, carried, slice, entry.id, ws, we, params, fcalls, emit(entry.id))
    }
    out
  }

  /** Does running the FSM over an EMPTY trail mutate a fresh state? True
    * when the entrypoint chain enters outer window-block rules (outer
    * expiries pushed at ts 0), which makes zero-event trails observable at
    * finalization. The reference runs the per-trail loop for every trail in
    * a DB, even one whose events are all filtered away, so engines that drop
    * empty trails early use this probe to know when that is visible.
    */
  def emptyRunMutates(prog: CompiledProgram): Boolean = {
    val st = FsmState.initial(prog)
    Fsm.matchTrail(prog, st, new TrailCtx("", Array.empty[TrailEvent]), Bindings(), new Results(prog))
    !st.isInitial(prog.entrypoint)
  }

  /** MAX_TIMESTAMP finalization for one trail's surviving states
    * (reference: src/match_traildb.c:899-944). A finalization run reads no
    * event field, so where the class loop applies it is binding-free: it
    * runs once per distinct state, and every tuple in that state shares the
    * result. Otherwise each tuple runs with its own bindings.
    */
  def finalizeTrail(prog: CompiledProgram, tuples: IndexedSeq[ForeachTuple], states: Array[FsmState],
      cookie: String, params: Bindings, fcalls: Map[String, Fcall], onResult: (Int, Results) => Unit): Unit = {
    val plan = planFor(prog, tuples, params, fcalls)
    var ctx: TrailCtx = null
    var done: java.util.HashMap[FsmState, Results] = null
    var single: Results = null // without classes: one tuple's results at a time
    var j = 0
    while (j < states.length) {
      if (!states(j).isInitial(prog.entrypoint)) {
        if (ctx == null) { ctx = TrailCtx.finalization(cookie); if (plan.classes) done = new java.util.HashMap() }
        var r = if (plan.classes) done.get(states(j)) else null
        if (r == null) {
          r = if (single != null) { single.clear(); single } else plan.takeResults()
          plan.pre.copyFrom(states(j))
          plan.m.run(plan.pre, ctx.range(0, 1), if (plan.classes) plan.generic else plan.binds(j), r, plan.stats)
          if (plan.classes) done.put(states(j), r) else single = r
        }
        onResult(j, r)
      }
      j += 1
    }
    if (single != null) plan.giveResults(single)
    if (done != null) done.values.forEach(r => plan.giveResults(r))
  }
}
