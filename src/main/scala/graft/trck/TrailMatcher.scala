package graft.trck

import scala.collection.mutable.ArrayBuffer

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
  * member leaves, and joins the class whose state it reached. If the class
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
  */
object TrailMatcher {

  /** FSM event-steps made by [[processTrail]] (the events each Fsm run
    * reads, summed). JVM-wide, so meaningful only under local[*]; one add
    * per trail.
    */
  val matchCalls = new java.util.concurrent.atomic.LongAdder

  /** What the loop needs of (program, tuples, params), built once per task
    * (one per thread, reused while the same objects come back).
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
    private def echoes(t: Ir.YieldTerm): Boolean = t match {
      case Ir.ParamTerm(n)     => gset(n)
      case Ir.FcallTerm(_, as) => as.exists(echoes)
      case _                   => false
    }
    /** false: replay every tuple alone */
    val classes: Boolean = !clauses.exists(c => c.yields.exists(_.src.exists(echoes)) ||
      c.preds.exists { case TsCmp(_, _, v, _) => v >= 0 && gset(prog.varNames(v)); case _ => false })
    /** (event slot, value → tuples bound to it) per foreach predicate: an
      * event holding a tuple's bound value may move it off its class's step
      */
    val index: Array[(Int, java.util.HashMap[String, Array[Int]])] = if (!classes) Array.empty else
      clauses.flatMap(_.preds).collect {
        case EqScalar(slot, v, n) if generic.groupby(v) => (slot, v, (b: Bindings) => Option(b.scalar(n)).toSeq)
        case InSet(slot, v, n) if generic.groupby(v)    => (slot, v, (b: Bindings) => Option(b.set(n)).toSeq.flatten)
      }.distinctBy(p => (p._1, p._2)).map { case (slot, _, values) =>
        val m = new java.util.HashMap[String, Array[Int]]()
        tuples.indices.flatMap(j => values(tuples(j).bind(gvars, params)).map(_ -> j)).groupMap(_._1)(_._2)
          .foreach { case (x, js) => m.put(x, js.toArray) }
        slot -> m
      }
    // per-trail scratch: the event a tuple was last found special at, the
    // special chain of its class, and the tuples that left with their states
    var tick = 0
    val mark = new Array[Int](tuples.length)
    val nextSp = new Array[Int](tuples.length)
    val movedK = new Array[Int](tuples.length)
    val moved = new Array[FsmState](tuples.length)
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
    */
  private final class Cls(val state: FsmState, val binds: Resolved) {
    val log = new YieldLog
    var size = 0; var into: Cls = null; var intoAt = 0
    var spHead = -1; var spCount = 0 // this event's special members: chain head, count
    private var full: Results = null
    def fullResults(prog: CompiledProgram): Results = {
      if (full == null) { full = new Results(prog); log.replay(0, log.size, full) }
      full
    }
  }

  /** Run every foreach tuple over one trail. `saved` holds per-tuple
    * starting states (never mutated); the returned states are shared by
    * the members of a class and must not be mutated either.
    * `onResult(j, scratch)` receives each tuple's yields (scratch may be
    * shared across tuples — merge, don't keep).
    */
  def processTrail(prog: CompiledProgram, tuples: IndexedSeq[ForeachTuple], saved: Array[FsmState],
      events: Array[TrailEvent], cookie: String, wStart: Long, wEnd: Long, params: Bindings,
      fcalls: Map[String, Fcall], onResult: (Int, Results) => Unit): Array[FsmState] = {
    val plan = planFor(prog, tuples, params, fcalls)
    val m = new Machine(prog, fcalls)
    val ctx = new TrailCtx(cookie, events, wStart, wEnd)
    val stats = new RunStats
    val n = tuples.length
    val len = events.length
    var steps = 0L
    def run(st: FsmState, from: Int, until: Int, binds: Resolved, e: Emitter): Unit = {
      steps += until - from; stats.reset()
      m.run(st, ctx.range(from, until), binds, e, stats)
    }
    val out = new Array[FsmState](n)
    val cls = new Array[Cls](n)
    val joinAt = new Array[Int](n)
    val own = new Array[Results](n)
    val live = ArrayBuffer[Cls]()
    val byState = new java.util.HashMap[FsmState, Cls]()
    // equal starting states share a class; without the class loop each
    // tuple is a class of its own, stepping with its own bindings
    for (j <- 0 until n) {
      val s = saved(j)
      val c =
        if (!plan.classes) { val c1 = new Cls(s.copyOf(), plan.binds(j)); live += c1; c1 }
        else if (j > 0 && (s eq saved(j - 1))) cls(j - 1)
        else byState.get(s) match {
          case null => val c1 = new Cls(s.copyOf(), plan.generic); byState.put(s, c1); live += c1; c1
          case c0   => c0
        }
      cls(j) = c; c.size += 1
    }
    // add c's log from j's join up to `until` to j's own results
    def settle(j: Int, c: Cls, until: Int): Results = {
      if (own(j) == null) own(j) = new Results(prog)
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
    var nMoved = 0; var pos = 0; var t = 0
    while (t <= len) {
      var specials = false
      if (t < len) {
        if (plan.tick == Int.MaxValue) { java.util.Arrays.fill(plan.mark, 0); plan.tick = 0 }
        plan.tick += 1
        for ((slot, idx) <- plan.index) {
          val js = idx.get(if (slot == -1) "" else events(t).fields(slot))
          if (js != null) for (k <- js if plan.mark(k) != plan.tick) {
            plan.mark(k) = plan.tick; specials = true
            val c = find(k)
            plan.nextSp(k) = c.spHead; c.spHead = k; c.spCount += 1
          }
        }
      }
      if (specials) {
        for (c <- live) {
          if (c.spCount == 0) run(c.state, pos, t + 1, c.binds, c.log)
          else {
            if (t > pos) run(c.state, pos, t, c.binds, c.log)
            val q = c.log.size
            // with no generic member left, the first special steps the class
            val j0 = if (c.spCount == c.size) c.spHead else -1
            val pre = if (c.spCount > 1 || j0 == -1) c.state.copyOf() else null
            run(c.state, t, t + 1, if (j0 == -1) c.binds else plan.binds(j0), c.log)
            if (stats.groupbyUsed) {
              var k = c.spHead
              while (k != -1) {
                if (k != j0) {
                  c.size -= 1
                  val st = if (plan.nextSp(k) == -1) pre else pre.copyOf()
                  run(st, t, t + 1, plan.binds(k), settle(k, c, q))
                  plan.moved(nMoved) = st; plan.movedK(nMoved) = k; nMoved += 1
                }
                k = plan.nextSp(k)
              }
            }
            c.spHead = -1; c.spCount = 0
          }
        }
        // classes whose states met merge, the smaller into the larger
        byState.clear()
        for (c <- live if c.size > 0) byState.get(c.state) match {
          case null => byState.put(c.state, c)
          case d =>
            val (big, small) = if (d.size >= c.size) (d, c) else (c, d)
            small.into = big; small.intoAt = big.log.size; big.size += small.size; small.size = 0
            byState.put(big.state, big)
        }
        live.filterInPlace(_.size > 0)
        // leavers join the class whose state they reached, or found one
        for (i <- 0 until nMoved) {
          val k = plan.movedK(i); val st = plan.moved(i); plan.moved(i) = null
          val d = byState.get(st) match {
            case null => val c1 = new Cls(st, plan.generic); byState.put(st, c1); live += c1; c1
            case d0   => d0
          }
          cls(k) = d; joinAt(k) = d.log.size; d.size += 1
        }
        nMoved = 0
        pos = t + 1
      } else if (t == len && (len > pos || len == 0))
        live.foreach(c => run(c.state, pos, len, c.binds, c.log))
      t += 1
    }
    for (j <- 0 until n) {
      val c = find(j)
      out(j) = c.state
      onResult(j, if (own(j) == null && joinAt(j) == 0) c.fullResults(prog) else settle(j, c, c.log.size))
    }
    matchCalls.add(steps)
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
    val m = new Machine(prog, fcalls)
    val ctx = TrailCtx.finalization(cookie)
    val stats = new RunStats
    val done = new java.util.HashMap[FsmState, Results]()
    for (j <- states.indices if !states(j).isInitial(prog.entrypoint)) {
      var r = if (plan.classes) done.get(states(j)) else null
      if (r == null) {
        r = new Results(prog)
        m.run(states(j).copyOf(), ctx.range(0, 1), if (plan.classes) plan.generic else plan.binds(j), r, stats)
        if (plan.classes) done.put(states(j), r)
      }
      onResult(j, r)
    }
  }
}
