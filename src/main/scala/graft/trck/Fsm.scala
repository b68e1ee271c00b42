package graft.trck

import Compiled._

/** The trail-matching FSM interpreter — the one genuinely custom operator
  * of this engine (SURVEY.md §2 M1-M9). A faithful re-expression of the
  * reference's generated goto-machine (reference: src/fsm2c.py:612-668
  * compile_block, :935-965 match_trail skeleton) as a pure JVM interpreter.
  *
  * Purity contract (reference: src/match_traildb.c:578-608): the result is a
  * pure function of (program, starting state, param bindings, trail) — which
  * is what makes runs memoizable per foreach tuple and partitioning-safe.
  */
object Fsm {

  /** One trail event in compact positional form. `fields(i)` is the value of
    * `prog.fields(i)`, "" when absent (reference id-0 semantics,
    * src/db.c:90-113). `fields == null` marks the empty finalization dummy
    * (reference: src/match_traildb.c:59-79).
    */
  final class TrailEvent(val ts: Long, val fields: Array[String]) {
    def isEmpty: Boolean = fields eq null
  }

  /** Per-(trail × tuple) FSM state (reference: src/fsm2c.py:836-846). */
  final class FsmState(nOuters: Int) {
    var ri: Int = 0
    var windowExpires: Long = ExpiresNever
    val outerIds: Array[Int] = Array.fill(nOuters + 1)(-1)
    val outerExpires: Array[Long] = new Array[Long](nOuters + 1)

    def copyOf(): FsmState = {
      val s = new FsmState(outerIds.length - 1)
      s.copyFrom(this)
      s
    }

    /** Overwrite this state with `o` (a state of the same program). */
    def copyFrom(o: FsmState): Unit = {
      ri = o.ri; windowExpires = o.windowExpires
      System.arraycopy(o.outerIds, 0, outerIds, 0, outerIds.length)
      System.arraycopy(o.outerExpires, 0, outerExpires, 0, outerExpires.length)
    }

    /** reference: gen_is_initial_state (src/fsm2c.py:905-914) */
    def isInitial(entrypoint: Int): Boolean =
      (windowExpires == 0 || windowExpires == ExpiresNever) &&
        ri == entrypoint && outerIds(0) == -1

    /** reference: gen_match_same_state (src/fsm2c.py:916-930) */
    def sameAs(o: FsmState): Boolean = {
      if (o eq this) return true // class members share one state (TrailMatcher)
      if (ri != o.ri || windowExpires != o.windowExpires) return false
      var i = 0
      while (i < outerIds.length - 1) {
        if (outerIds(i) != o.outerIds(i)) return false
        if (outerIds(i) == -1) return true
        if (outerExpires(i) != o.outerExpires(i)) return false
        i += 1
      }
      true
    }

    /** Equality is [[sameAs]], so states key hash maps by content. A key
      * must not be mutated while it is in a map.
      */
    override def equals(o: Any): Boolean = o match {
      case s: FsmState => sameAs(s)
      case _           => false
    }
    override def hashCode: Int = {
      var h = ri * 31 + java.lang.Long.hashCode(windowExpires)
      var i = 0
      while (i < outerIds.length - 1 && outerIds(i) != -1) {
        h = (h * 31 + outerIds(i)) * 31 + java.lang.Long.hashCode(outerExpires(i))
        i += 1
      }
      h
    }
  }

  object FsmState {
    def initial(prog: CompiledProgram): FsmState = {
      val s = new FsmState(prog.nWindowRules)
      s.ri = prog.entrypoint
      s
    }
  }

  /** Param bindings: scalars `%x`, sets `#x` (reference:
    * src/match_traildb.c:86-159). Timestamp-typed scalars are parsed
    * numerically on demand.
    */
  final case class Bindings(
      scalars: Map[String, String] = Map.empty,
      sets: Map[String, Set[String]] = Map.empty,
  ) {
    def scalar(sigilName: String): String =
      scalars.getOrElse(Ir.stripType(sigilName), null)
    def set(sigilName: String): Set[String] =
      sets.getOrElse(Ir.stripType(sigilName), null)
  }

  /** [[Bindings]] resolved against one program into arrays aligned with
    * `prog.varNames`, so the per-event loop does pure array access (the
    * analog of the reference resolving param value-ids once per DB,
    * src/match_traildb.c:86-159). `groupby(i)`: var i is a foreach var.
    * `params(i)` is the value a yield of `prog.yieldParams(i)` reads ("" when
    * unbound), and `paramGroupby(i)` whether that param is a foreach var.
    */
  final class Resolved(
      val scalars: Array[String],
      val sets: Array[Set[String]],
      val ts: Array[Long],
      val groupby: Array[Boolean],
      val params: Array[String],
      val paramGroupby: Array[Boolean],
  )

  def resolve(prog: CompiledProgram, binds: Bindings, groupbyVars: Set[String]): Resolved = {
    val n = prog.varNames.length
    val r = new Resolved(new Array[String](n), new Array[Set[String]](n), new Array[Long](n), new Array[Boolean](n),
      prog.yieldParams.map(p => Option(binds.scalar(p)).getOrElse("")),
      prog.yieldParams.map(p => prog.varNames.contains(p) && groupbyVars.contains(p)))
    var vi = 0
    while (vi < n) {
      val v = prog.varNames(vi)
      Ir.varType(v) match {
        case "scalar" =>
          val sv = binds.scalar(v)
          r.scalars(vi) = sv
          r.ts(vi) =
            if (sv != null && sv.trim.nonEmpty && sv.trim.forall(_.isDigit))
              java.lang.Long.parseLong(sv.trim)
            else -1L
        case "set" | "multiset" => r.sets(vi) = binds.set(v)
        case _                  => ()
      }
      r.groupby(vi) = groupbyVars.contains(v)
      vi += 1
    }
    r
  }

  /** Trail context: position cursor over a (filtered, consecutive-dup-free)
    * event array (reference: src/ctx.c:42-134). Duplicate elision is applied
    * at construction — equivalent to the reference's advance-time skip
    * because every consumption goes through advance and the first event is
    * never skipped (reference: src/ctx.c:112-131).
    */
  final class TrailCtx(
      val cookie: String,
      val events: Array[TrailEvent],
      val filterStart: Long = 0L,
      val filterEnd: Long = 0L,
  ) {
    var pos: Int = 0
    /** exclusive end of the events a run reads */
    var end: Int = events.length
    def endOfTrail: Boolean = pos >= end
    def current: TrailEvent = events(pos)
    def advance(): Unit = if (pos < end) pos += 1

    /** Point the cursor at events `[from, until)` for the next run. */
    def range(from: Int, until: Int): TrailCtx = { pos = from; end = until; this }

    /** cookie as 16 zero-padded raw bytes, carried as an ISO-8859-1 string
      * (reference: bin/json2tdb:36-38 pads; src/results_json.c:88-103 hexes
      * at output). Type 'B' tuple items hold this form.
      */
    lazy val cookiePadded: String = {
      val b = new Array[Byte](16)
      val raw = cookie.getBytes("UTF-8")
      System.arraycopy(raw, 0, b, 0, math.min(raw.length, 16))
      new String(b, "ISO-8859-1")
    }
  }

  object TrailCtx {
    def finalization(cookie: String): TrailCtx =
      new TrailCtx(cookie, Array(new TrailEvent(MaxTimestamp, null)))
  }

  /** Where yields land. `values(i)` is the raw item (cookie = 16 raw bytes
    * as ISO-8859-1); `types(i)` is Tuple.TypeString / Tuple.TypeBytes.
    */
  trait Emitter {
    def counter(dst: String): Unit
    def set(dst: String, values: Array[String], types: Array[Byte]): Unit
    def multiset(dst: String, values: Array[String], types: Array[Byte]): Unit
    def hll(dst: String, values: Array[String], types: Array[Byte]): Unit
  }

  /** An append-only record of yields, replayed by range into another
    * [[Emitter]]: TrailMatcher's per-class yields, settled per member.
    * Records are (kind, dst, values, types) in parallel arrays.
    */
  final class YieldLog extends Emitter {
    private var kinds = new Array[Int](4)
    private var dsts = new Array[String](4)
    private var vals = new Array[Array[String]](4)
    private var tps = new Array[Array[Byte]](4)
    private var n = 0
    def size: Int = n

    private def add(kind: Int, dst: String, values: Array[String], types: Array[Byte]): Unit = {
      if (n == kinds.length) {
        kinds = java.util.Arrays.copyOf(kinds, 2 * n); dsts = java.util.Arrays.copyOf(dsts, 2 * n)
        vals = java.util.Arrays.copyOf(vals, 2 * n); tps = java.util.Arrays.copyOf(tps, 2 * n)
      }
      kinds(n) = kind; dsts(n) = dst; vals(n) = values; tps(n) = types
      n += 1
    }
    override def counter(dst: String): Unit = add(YieldCounter, dst, null, null)
    override def set(dst: String, values: Array[String], types: Array[Byte]): Unit = add(YieldSet, dst, values, types)
    override def multiset(dst: String, values: Array[String], types: Array[Byte]): Unit =
      add(YieldMultiset, dst, values, types)
    override def hll(dst: String, values: Array[String], types: Array[Byte]): Unit = add(YieldHll, dst, values, types)

    /** Re-emit records `[from, until)` into `e`. */
    def replay(from: Int, until: Int, e: Emitter): Unit = {
      var i = from
      while (i < until) {
        kinds(i) match {
          case YieldCounter  => e.counter(dsts(i))
          case YieldSet      => e.set(dsts(i), vals(i), tps(i))
          case YieldMultiset => e.multiset(dsts(i), vals(i), tps(i))
          case _             => e.hll(dsts(i), vals(i), tps(i))
        }
        i += 1
      }
    }
  }

  /** Run telemetry driving TrailMatcher's early break (reference flags
    * GROUPBY_USED / RESULT_UPDATED, src/fns_imported.h:63-65). We set
    * groupbyUsed only when a *foreach* var is consulted (the reference sets
    * it for any param var — ours shares strictly more steps, which is safe
    * because free vars are constant across tuples) and additionally when a
    * foreach var is echoed by a yield.
    */
  final class RunStats {
    var groupbyUsed: Boolean = false
    var resultUpdated: Boolean = false
    def reset(): Unit = { groupbyUsed = false; resultUpdated = false }
  }

  final class NonExhaustiveException(rule: String, ts: Long)
      extends RuntimeException(s"non-exhaustive clauses at statement $rule (ts=$ts)")

  type Fcall = Seq[String] => String

  /** User fcall module: named external functions plus run-scoped lifecycle
    * hooks (≙ reference src/match_traildb.c:1221-1229 — weak initialize()/
    * finalize() overridable by the linked .tr.c module, invoked once
    * around the whole query run at :1248/:1256). On Spark the hooks run on
    * the DRIVER around the query; per-executor setup belongs inside the
    * function closures themselves (initialized lazily per JVM), since
    * executors have no run-scoped lifecycle the reference's single-process
    * model could promise.
    */
  final case class FcallModule(
      fcalls: Map[String, Fcall],
      onInitialize: () => Unit = () => (),
      onFinalize: () => Unit = () => (),
  )

  // control-flow modes of the interpreter loop
  private final val START = 0
  private final val CONT = 1
  private final val LOOP = 2
  private final val STOP = 3

  /** Run the FSM over one trail, resuming from `state`. Returns true when
    * the machine quit (abort), mirroring `int match_trail(...)`.
    */
  def matchTrail(
      prog: CompiledProgram,
      state: FsmState,
      ctx: TrailCtx,
      binds: Bindings,
      emitter: Emitter,
      stats: RunStats = new RunStats,
      groupbyVars: Set[String] = Set.empty,
      fcalls: Map[String, Fcall] = Map.empty,
  ): Boolean =
    new Machine(prog, fcalls).run(state, ctx, resolve(prog, binds, groupbyVars), emitter, stats)

  /** The interpreter. One instance serves any number of [[run]]s (one at a
    * time): its control registers are fields, so a run allocates nothing
    * beyond the yields it makes.
    *
    * A run starts in CONT at `state.ri` with `timestamp` 0 and stops at the
    * end of the ctx range. Runs chained at event boundaries equal one run
    * over the whole range: every transition that follows a consumed event
    * (START reads that event's timestamp) completes before the run stops,
    * so the next run resumes in CONT at the rule the previous one left in
    * `state.ri`; CONT's prelude is idempotent there (a window block's after
    * cannot `repeat`, so a run never stops on an outer rule), and only a
    * fresh state at an outer entrypoint reads `timestamp` 0, on the first
    * run of a trail as in one run (ChainedRunSpec).
    */
  final class Machine(prog: CompiledProgram, fcalls: Map[String, Fcall]) {
    private var state: FsmState = _
    private var ctx: TrailCtx = _
    private var res: Resolved = _
    private var emitter: Emitter = _
    private var stats: RunStats = _
    private var abort = false
    private var mode = CONT
    private var ri = 0
    private var timestamp = 0L
    private var item: TrailEvent = null

    def run(state: FsmState, ctx: TrailCtx, res: Resolved, emitter: Emitter, stats: RunStats): Boolean = {
      this.state = state; this.ctx = ctx; this.res = res; this.emitter = emitter; this.stats = stats
      abort = false; mode = CONT; ri = state.ri; timestamp = 0L; item = null
      if (ri == -1) true // quit in a previous DB → stays aborted
      else { loop(); abort }
    }

    private def evalPred(p: Pred): Boolean = p match {
      case EqLit(slot, v) =>
        val ev = if (slot == -1) "" else item.fields(slot)
        ev == v
      case EqScalar(slot, vIdx, _) =>
        if (res.groupby(vIdx)) stats.groupbyUsed = true
        val pv = res.scalars(vIdx)
        val ev = if (slot == -1) "" else item.fields(slot)
        pv != null && ev == pv
      case InSet(slot, vIdx, _) =>
        if (res.groupby(vIdx)) stats.groupbyUsed = true
        val ps = res.sets(vIdx)
        val ev = if (slot == -1) "" else item.fields(slot)
        ps != null && ps.contains(ev)
      case TsCmp(op, lit, vIdx, _) =>
        val rhs = if (vIdx == -1) lit
        else {
          if (res.groupby(vIdx)) stats.groupbyUsed = true
          res.ts(vIdx)
        }
        // uint64 comparison semantics: the reference stores timestamps and
        // param values as uint64, so an unbound %scalar's -1 sentinel is
        // promoted to UINT64_MAX (`ts > %unbound` is always false,
        // `ts < %unbound` always true) — compareUnsigned reproduces that
        // (reference: src/fsm2c.py:135-153 with C unsigned promotion).
        val c = java.lang.Long.compareUnsigned(timestamp, rhs)
        op match {
          case "==" => c == 0
          case "<"  => c < 0
          case "<=" => c <= 0
          case ">"  => c > 0
          case ">=" => c >= 0
        }
    }

    private def evalClause(c: CClause): Boolean = {
      var r = true
      var i = 0
      while (r && i < c.preds.length) { r = evalPred(c.preds(i)); i += 1 }
      if (c.negated) !r else r
    }

    private def evalTerm(t: CTerm, currentRule: Int): String = t match {
      case FieldT(slot)  => if (item.isEmpty) "" else item.fields(slot)
      case LiteralT(v)   => v
      case ParamT(i)     =>
        if (res.paramGroupby(i)) stats.groupbyUsed = true
        res.params(i)
      case CookieT       => ctx.cookiePadded
      case TimestampT    => java.lang.Long.toString(item.ts)
      case FilterStartT  => java.lang.Long.toString(ctx.filterStart)
      case FilterEndT    => java.lang.Long.toString(ctx.filterEnd)
      case WindowRefT(None) =>
        val dur = prog.rules(currentRule).window.getOrElse(
          sys.error("Cannot yield window start timestamp when window is infinite"))
        java.lang.Long.toString(state.windowExpires - dur)
      case WindowRefT(Some(label)) =>
        val wid = prog.rules.indexWhere(_.name == label)
        require(wid >= 0, s"Rule not found: $label")
        val dur = prog.rules(wid).window.getOrElse(
          sys.error("Cannot yield window start timestamp when window is infinite"))
        val pos = prog.rules(currentRule).windowStack.indexOf(wid)
        require(pos >= 0, s"No enclosing window block named $label")
        java.lang.Long.toString(state.outerExpires(pos) - dur)
      case FcallT(name, args) =>
        val f = fcalls.getOrElse(name, sys.error(s"unknown external function: $name"))
        f(args.toList.map(evalTerm(_, currentRule)))
    }

    private def runYields(c: CClause, currentRule: Int): Unit = {
      val ys = c.yields
      if (ys.length > 0) stats.resultUpdated = true
      var i = 0
      while (i < ys.length) {
        val y = ys(i)
        if (y.kind == YieldCounter) emitter.counter(y.dst)
        else {
          val values = new Array[String](y.src.length)
          var k = 0
          while (k < values.length) { values(k) = evalTerm(y.src(k), currentRule); k += 1 }
          y.kind match {
            case YieldSet      => emitter.set(y.dst, values, y.types)
            case YieldMultiset => emitter.multiset(y.dst, values, y.types)
            case _             => emitter.hll(y.dst, values, y.types)
          }
        }
        i += 1
      }
    }

    /** reference: src/fsm2c.py:379-397 — truncate the outer stack to dst's
      * nesting depth when jumping.
      */
    private def balance(dst: Int): Unit =
      if (prog.hasWindowRules && dst < prog.rules.length) {
        val idx = prog.rules(dst).windowStack.length
        state.outerIds(idx) = -1
        state.outerExpires(idx) = 0
      }

    /** Execute a matched clause's yields + action; sets mode/ri.
      * reference: src/fsm2c.py:400-433 compile_clause_action.
      */
    private def runAction(c: CClause, actionRule: Int): Unit = {
      runYields(c, actionRule)
      c.action match {
        case Repeat =>
          ctx.advance()
          ri = actionRule; mode = LOOP
        case Break =>
          ctx.advance()
          balance(actionRule + 1)
          ri = actionRule + 1; mode = START
        case RestartFromHere(l) =>
          balance(l)
          ri = l; mode = START
        case RestartFromNext(l) =>
          ctx.advance()
          balance(l)
          ri = l; mode = START
        case Quit =>
          abort = true
          state.ri = -1
          mode = STOP
      }
    }

    // Guard against non-consuming restart cycles: a program whose
    // restart-from-here chain re-dispatches the same event forever (legal
    // to WRITE in the reference's grammar — the generated C would spin
    // identically) fails fast here instead of hanging the executor. At a
    // fixed trail position the interpreter's control state (mode, ri,
    // window expiry, outer-window stack) evolves DETERMINISTICALLY — item,
    // binds and clause predicates are all fixed — so a non-terminating
    // chain must revisit an exact state. Brent's cycle detection finds that
    // with O(1) memory and zero false positives: a legitimate long
    // after-yield sweep (e.g. `after -> restart-from-here` replayed across
    // a gap of many window durations, reference fsm2c.py enter_rule's
    // min(timestamp, window_expires)+d re-entry) strictly advances
    // windowExpires every pass and therefore never repeats a state, no
    // matter how many thousands of passes it makes.
    private var stallPos = -2
    private var cycPow = 1
    private var cycLam = 0
    private var snapMode = -1; private var snapRi = -1; private var snapWin = 0L
    private val snapOuterIds: Array[Int] = new Array[Int](prog.nWindowRules + 1)
    private val snapOuterExp: Array[Long] = new Array[Long](prog.nWindowRules + 1)
    private def cycleSnapshot(): Unit = {
      snapMode = mode; snapRi = ri; snapWin = state.windowExpires
      System.arraycopy(state.outerIds, 0, snapOuterIds, 0, snapOuterIds.length)
      System.arraycopy(state.outerExpires, 0, snapOuterExp, 0, snapOuterExp.length)
    }
    private def cycleRepeats: Boolean =
      mode == snapMode && ri == snapRi && state.windowExpires == snapWin &&
        java.util.Arrays.equals(state.outerIds, snapOuterIds) &&
        java.util.Arrays.equals(state.outerExpires, snapOuterExp)

    private def loop(): Unit = {
      stallPos = -2; cycPow = 1; cycLam = 0; snapMode = -1
      while (mode != STOP) {
        // consuming fast path pays only the pos compare; the first repeat
        // iteration at a position arms the detector (snapMode == -1)
        if (ctx.pos == stallPos) {
          if (snapMode == -1) cycleSnapshot()
          else if (cycleRepeats)
            throw new IllegalStateException(
              s"FSM control state repeated without consuming an event " +
                s"(rule ${ri}, ts=$timestamp) — non-terminating restart cycle in the program")
          else {
            cycLam += 1
            if (cycLam == cycPow) { cycPow <<= 1; cycLam = 0; cycleSnapshot() }
          }
        } else { stallPos = ctx.pos; cycPow = 1; cycLam = 0; snapMode = -1 }
        mode match {
          case START =>
            val r = prog.rules(ri)
            if (r.isOuter) {
              // push a window block and fall through to the first inner rule
              // (reference: src/fsm2c.py:211-233 enter_rule, outer branch)
              var i = 0
              while (state.outerIds(i) != -1) i += 1
              state.outerIds(i) = ri
              if (i + 1 < state.outerIds.length) state.outerIds(i + 1) = -1
              state.outerExpires(i) = r.window match {
                case Some(d) =>
                  if (state.windowExpires > 0) math.min(timestamp, state.windowExpires) + d
                  else timestamp + d
                case None => ExpiresNever
              }
              ri += 1 // fall through; mode stays START
            } else {
              state.windowExpires = r.window match {
                case Some(d) =>
                  if (state.windowExpires > 0) math.min(timestamp, state.windowExpires) + d
                  else timestamp + d
                case None => ExpiresNever
              }
              mode = CONT
            }

          case CONT =>
            if (prog.rules(ri).isOuter) {
              // RULE_CONT of a window-block rule has no body in the generated
              // C — control falls through to the NEXT rule's RULE_START
              // without pushing the outer window (reference: compile_block
              // early return, src/fsm2c.py:617-619). This is how a fresh
              // state whose entrypoint is an outer rule starts inside the
              // first inner rule with no window on the stack.
              ri += 1
              mode = START
            } else {
              // RULE_CONT prelude (reference: src/fsm2c.py:620-627)
              state.ri = ri
              if (ri == 0 && prog.hasWindowRules) {
                state.outerIds(0) = -1
                state.outerExpires(0) = 0
              }
              if (ctx.endOfTrail) mode = STOP else mode = LOOP
            }

          case LOOP =>
            if (ctx.endOfTrail) mode = STOP
            else {
              val r = prog.rules(ri)
              item = ctx.current
              timestamp = item.ts
              val withinWindow = state.windowExpires == 0 || state.windowExpires > timestamp
              if (withinWindow && !item.isEmpty) {
                var ci = 0
                var matched = false
                while (!matched && ci < r.clauses.length) {
                  val c = r.clauses(ci)
                  if (evalClause(c)) { matched = true; runAction(c, ri) }
                  else ci += 1
                }
                if (!matched) throw new NonExhaustiveException(r.name, timestamp)
              } else {
                if (item.isEmpty) ctx.advance()
                // expired outer windows, bottom of stack first
                // (reference: src/fsm2c.py:646-663)
                var handled = false
                var i = 0
                while (!handled && i < state.outerIds.length && state.outerIds(i) != -1) {
                  val exp = state.outerExpires(i)
                  val within2 = exp == 0 || exp > timestamp
                  if (!within2) {
                    val outerId = state.outerIds(i)
                    state.outerIds(i) = -1
                    state.outerExpires(i) = 0
                    runAction(prog.rules(outerId).after, outerId)
                    handled = true
                  } else i += 1
                }
                // own after action, without consuming (for restart-from-here)
                // (reference: src/fsm2c.py:664-665)
                if (!handled) runAction(r.after, ri)
                if (mode == LOOP && ctx.endOfTrail) mode = STOP
              }
            }
        }
      }
    }
  }
}
