package graft.trck

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.ProgramFuzzSpec
import Fsm.{Bindings, FsmState, TrailCtx, TrailEvent}
import LocalRunner.ForeachTuple

/** TrailMatcher's class loop against its definition, without Spark: the
  * loop steps tuple classes event by event and chains Fsm runs at event
  * boundaries, so (1) chained runs must equal one run, and (2) the loop's
  * per-tuple results and states must equal one plain run per tuple, within
  * the (G + N)·L event-step bound.
  */
class ClassLoopSpec extends AnyFunSuite {

  import ProgramFuzzSpec.{eids, types}

  private def clause(attrs: Map[String, List[String]], action: String, yields: List[Ir.Yield] = Nil) =
    Ir.Clause(attrs, negated = false, Some(action), yields)

  private def randomYields(rnd: scala.util.Random): List[Ir.Yield] =
    List.fill(rnd.nextInt(3))(rnd.nextInt(4) match {
      case 0 => Ir.Yield("$c" + rnd.nextInt(2), Nil)
      case 1 => Ir.Yield("#s0", List(Ir.FieldTerm("type"), Ir.FieldTerm("timestamp")))
      case 2 => Ir.Yield("&m0", List(Ir.FieldTerm("advertisable_eid")))
      case 3 => Ir.Yield("^h0", List(Ir.FieldTerm("type")))
    })

  private def randomAttrs(rnd: scala.util.Random): Map[String, List[String]] = rnd.nextInt(4) match {
    case 0 => Map.empty
    case 1 => Map("type" -> List(types(rnd.nextInt(types.length))))
    case 2 => Map("advertisable_eid" -> List("%g"))
    case 3 => Map("type" -> List("#h"))
  }

  /** Rule 0 plain; rule 1 a window block over inner rules 2-3; rule 4
    * plain. Jumps are legal (a target's window stack is a prefix of the
    * source's) and restart-from-here only goes forward, so no program
    * loops on one event.
    */
  private def windowProgram(rnd: scala.util.Random): Ir.Program = {
    def pick(xs: String*): String = xs(rnd.nextInt(xs.length))
    def actions(ri: Int): String = ri match {
      case 0 => pick("repeat", "break", "quit", "restart-from-next(0)", "restart-from-here(1)")
      case 2 => pick("repeat", "break", "quit", s"restart-from-next(${rnd.nextInt(5)})",
        s"restart-from-here(${3 + rnd.nextInt(2)})")
      case 3 => pick("repeat", "break", "quit", s"restart-from-next(${rnd.nextInt(5)})", "restart-from-here(4)")
      case _ => pick("repeat", "quit", "restart-from-next(0)", "restart-from-next(1)", "restart-from-next(4)")
    }
    def plain(ri: Int, window: Option[Long]): Ir.Rule = {
      val clauses = List.fill(1 + rnd.nextInt(2))(clause(randomAttrs(rnd), actions(ri), randomYields(rnd))) :+
        clause(Map.empty, "repeat")
      val after = window.map(_ => clause(Map.empty, pick("quit", "restart-from-here(0)"), randomYields(rnd)))
      Ir.Rule(None, window, None, entrypoint = false, clauses, after)
    }
    def win(): Option[Long] = if (rnd.nextBoolean()) Some(300L + rnd.nextInt(1500)) else None
    val block = Ir.Rule(None, Some(500L + rnd.nextInt(2000)), Some(4), entrypoint = rnd.nextBoolean(), Nil,
      Some(clause(Map.empty, pick("quit", "restart-from-here(0)", "restart-from-here(4)"), randomYields(rnd))))
    Ir.Program(Vector(plain(0, None), block, plain(2, win()), plain(3, win()), plain(4, win())),
      Some(Ir.GroupBy(List("%g", "#h"), Some("@arr"), mergeResults = false)))
  }

  /** ProgramFuzzSpec's programs, some with a second, set-typed foreach var
    * compared with `type`.
    */
  private def fuzzProgram(rnd: scala.util.Random): Ir.Program = {
    val p = ProgramFuzzSpec.randomProgram(rnd)
    if (p.groupby.isEmpty || rnd.nextBoolean()) p
    else {
      val r0 = p.rules.head
      p.copy(
        rules = p.rules.updated(0, r0.copy(clauses = clause(Map("type" -> List("#h")), "repeat",
          List(Ir.Yield("$h_hit", Nil))) :: r0.clauses)),
        groupby = p.groupby.map(_.copy(vars = List("%g", "#h"))))
    }
  }

  private def randomTrail(rnd: scala.util.Random, prog: Compiled.CompiledProgram, n: Int, ts0: Long): Array[TrailEvent] = {
    var ts = ts0
    Array.fill(n) {
      ts += rnd.nextInt(600)
      val fs = prog.fields.map {
        case "type"             => types(rnd.nextInt(types.length))
        case "advertisable_eid" => eids(rnd.nextInt(eids.length))
        case _                  => ""
      }
      new TrailEvent(ts, fs)
    }
  }

  /** Random tuples; a short tuple leaves its last foreach var to `params`. */
  private def randomTuples(rnd: scala.util.Random, prog: Compiled.CompiledProgram): Vector[ForeachTuple] =
    if (prog.groupbyVars.isEmpty) Vector(ForeachTuple(Vector.empty))
    else Vector.fill(1 + rnd.nextInt(6)) {
      val items = prog.groupbyVars.toVector.map {
        case v if v.startsWith("#") => Right(Vector.fill(rnd.nextInt(3))(types(rnd.nextInt(types.length))).distinct)
        case _                      => Left((eids :+ "zz")(rnd.nextInt(eids.length + 1)))
      }
      ForeachTuple(if (rnd.nextInt(4) == 0) items.dropRight(1) else items)
    }

  private val params = Bindings(scalars = Map("p" -> "a1", "g" -> "a2"),
    sets = Map("ts" -> Set("cli", "vis"), "h" -> Set("imp")))

  private def echoes(p: Ir.Program): Boolean = {
    def t(x: Ir.YieldTerm): Boolean = x match {
      case Ir.ParamTerm(_)     => true
      case Ir.FcallTerm(_, as) => as.exists(t)
      case _                   => false
    }
    p.rules.exists(r => (r.clauses ++ r.after).exists(_.yields.exists(_.src.exists(t))))
  }

  test("chained Fsm runs at random event boundaries equal one run") {
    var checked = 0
    for (seed <- 1 to 300) {
      val rnd = new scala.util.Random(seed)
      val program = if (seed % 2 == 0) windowProgram(rnd) else fuzzProgram(rnd)
      val prog = Compiled.compile(program)
      val events = randomTrail(rnd, prog, 1 + rnd.nextInt(30), rnd.nextInt(1000).toLong)
      val binds = Fsm.resolve(prog, randomTuples(rnd, prog).head.bind(prog.groupbyVars, params),
        prog.groupbyVars.toSet)
      val cuts = (0 +: (1 until events.length).filter(_ => rnd.nextInt(3) == 0) :+ events.length).distinct
      val m = new Fsm.Machine(prog, Map.empty)
      val stats = new Fsm.RunStats
      def runIn(ranges: Seq[(Int, Int)]): (FsmState, Boolean, Results) = {
        val st = FsmState.initial(prog)
        val r = new Results(prog)
        val ctx = new TrailCtx("c1", events)
        var abort = false
        for ((a, b) <- ranges) abort = m.run(st, ctx.range(a, b), binds, r, stats)
        val fin = st.copyOf()
        m.run(fin, TrailCtx.finalization("c1"), binds, r, stats)
        (st, abort, r)
      }
      val (s1, a1, r1) = runIn(Seq(0 -> events.length))
      val (s2, a2, r2) = runIn(cuts.zip(cuts.tail))
      val what = s"seed $seed cuts $cuts program ${program.rules.mkString("; ")}"
      assert(s1.ri == s2.ri && s1.sameAs(s2) && a1 == a2, what)
      assert(r1.toOutput == r2.toOutput, what)
      checked += 1
    }
    assert(checked == 300)
  }

  test("class loop equals one run per tuple over two DBs, within (G + N)·L event-steps") {
    var classRuns = 0
    for (seed <- 1 to 300) {
      val rnd = new scala.util.Random(seed)
      val program = if (seed % 3 == 0) windowProgram(rnd) else fuzzProgram(rnd)
      val prog = Compiled.compile(program)
      val tuples = randomTuples(rnd, prog)
      val dbs = Seq(randomTrail(rnd, prog, rnd.nextInt(25), 0L), randomTrail(rnd, prog, rnd.nextInt(25), 20000L))
      val gvars = prog.groupbyVars

      // the definition: one run per tuple per DB, then finalization
      val want = tuples.map { t =>
        val b = t.bind(gvars, params)
        val st = FsmState.initial(prog)
        val r = new Results(prog)
        for (evs <- dbs) Fsm.matchTrail(prog, st, new TrailCtx("c1", evs), b, r, groupbyVars = gvars.toSet)
        if (!st.isInitial(prog.entrypoint))
          Fsm.matchTrail(prog, st, TrailCtx.finalization("c1"), b, r, groupbyVars = gvars.toSet)
        r.toOutput
      }

      val got = tuples.map(_ => new Results(prog))
      var states = Array.fill(tuples.length)(FsmState.initial(prog))
      val eligible = !echoes(program)
      for (evs <- dbs) {
        val g = states.distinct.length
        // tuples whose bound %g / #h values occur in the trail's fields
        val present = tuples.count { t =>
          val b = t.bind(gvars, params)
          def holds(field: String, vs: Iterable[String]) =
            prog.slot(field) >= 0 && evs.exists(e => vs.exists(_ == e.fields(prog.slot(field))))
          holds("advertisable_eid", Option(b.scalar("%g"))) || holds("type", Option(b.set("#h")).toSeq.flatten)
        }
        val steps0 = TrailMatcher.threadSteps
        states = TrailMatcher.processTrail(prog, tuples, states, evs, "c1", 0L, 0L, params, Map.empty,
          (j, r) => got(j).merge(r))
        val steps = TrailMatcher.threadSteps - steps0
        if (eligible) assert(steps <= (g + present).toLong * evs.length, s"seed $seed: $steps steps")
      }
      TrailMatcher.finalizeTrail(prog, tuples, states, "c1", params, Map.empty, (j, r) => got(j).merge(r))
      assert(got.map(_.toOutput) == want, s"seed $seed tuples $tuples program ${program.rules.mkString("; ")}")
      if (eligible && tuples.length > 1) classRuns += 1
    }
    assert(classRuns >= 100, s"only $classRuns multi-tuple runs took the class loop")
  }
}
