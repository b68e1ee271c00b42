package graft.trck

import org.scalatest.funsuite.AnyFunSuite

import graft.trck.LocalRunner.{Db, ForeachTuple, RawEvent}

/** Foreach tuples must own their FSM states: a loop that RUNS one
  * representative for a group of equivalently-behaving tuples must still
  * give every tuple its own finalization — a finalization that spends a
  * shared state (quit, ri = -1) for the first tuple drops every later
  * tuple's after-yield. The reference keeps per-tuple state structs by
  * value (src/match_traildb.c:579-744), so every tuple gets its
  * finalization yield. An earlier skip loop here, shared by the Spark
  * engine and LocalRunner, dropped it for later tuples, which is why no
  * equivalence test could see it; LocalRunner now runs each tuple alone,
  * and each case also runs TrailMatcher's class loop against it.
  */
class TrailMatcherAliasSpec extends AnyFunSuite {

  /** The same run through TrailMatcher's class loop (one DB, no windows),
    * asserted equal to LocalRunner's.
    */
  private def run(prog: Compiled.CompiledProgram, db: Db, tuples: Vector[ForeachTuple]): LocalRunner.RunOutput = {
    val out = LocalRunner.run(prog, Seq(db), foreachTuples = Some(tuples))
    val got = tuples.map(_ => new Results(prog))
    for ((cookie, raw) <- db.trails) {
      val events = raw.map(e => new Fsm.TrailEvent(e.ts, prog.fields.map(f => e.fields.getOrElse(f, "")))).toArray
      val init = Fsm.FsmState.initial(prog)
      val states = TrailMatcher.processTrail(prog, tuples, Array.fill(tuples.length)(init), events, cookie,
        0L, 0L, Fsm.Bindings(), Map.empty, (j, r) => got(j).merge(r))
      TrailMatcher.finalizeTrail(prog, tuples, states, cookie, Fsm.Bindings(), Map.empty, (j, r) => got(j).merge(r))
    }
    assert(got.map(_.toOutput) == out.results.map(_.toOutput), "class loop != LocalRunner")
    out
  }

  // rule0: a plain event advances every tuple into the windowed rule
  // (no foreach var consulted → the early-break path aliases states);
  // rule1: window whose after-clause yields $expired at finalization
  private val program = Ir.Program(
    Vector(
      Ir.Rule(None, None, None, entrypoint = false, List(
        Ir.Clause(Map("event_type" -> List("start")), negated = false, Some("break"), Nil),
        Ir.Clause(Map.empty, negated = false, Some("repeat"), Nil)), None),
      Ir.Rule(None, Some(100L), None, entrypoint = false, List(
        Ir.Clause(Map("advertisable_eid" -> List("%g")), negated = false, Some("quit"), Nil),
        Ir.Clause(Map.empty, negated = false, Some("repeat"), Nil)),
        Some(Ir.Clause(Map.empty, negated = false, Some("quit"),
          List(Ir.Yield("$expired", Nil))))),
    ),
    Some(Ir.GroupBy(List("%g"), Some("@arr"), mergeResults = false)),
  )

  test("every foreach tuple fires its own finalization after-yield (early-break path)") {
    val prog = Compiled.compile(program)
    // none of the tuple values appear in the trail → all tuples stay in
    // one class, and finalization runs once for it
    val tuples = Vector("a1", "a2", "a3").map(v => ForeachTuple(Vector(Left(v))))
    val db = Db(Seq("u1" -> Seq(
      RawEvent(10L, Map("event_type" -> "start", "advertisable_eid" -> "zz")))))
    val out = run(prog, db, tuples)
    val expired = out.results.map(_.counters.getOrElse("expired", 0L))
    assert(expired == Vector(1L, 1L, 1L),
      s"every tuple must finalize independently, got $expired")
  }

  test("binding-sensitive finalization over aliased states yields per-tuple values") {
    // the after-clause yields %g ITSELF: finalization depends on the
    // foreach binding, so tuples in one state cannot share one result —
    // every tuple must see ITS OWN %g in its set
    val bindingProgram = Ir.Program(
      Vector(
        Ir.Rule(None, None, None, entrypoint = false, List(
          Ir.Clause(Map("event_type" -> List("start")), negated = false, Some("break"), Nil),
          Ir.Clause(Map.empty, negated = false, Some("repeat"), Nil)), None),
        Ir.Rule(None, Some(100L), None, entrypoint = false, List(
          Ir.Clause(Map.empty, negated = false, Some("repeat"), Nil)),
          Some(Ir.Clause(Map.empty, negated = false, Some("quit"),
            List(Ir.Yield("#who", List(Ir.ParamTerm("%g"))))))),
      ),
      Some(Ir.GroupBy(List("%g"), Some("@arr"), mergeResults = false)),
    )
    val prog = Compiled.compile(bindingProgram)
    // no tuple value appears in the trail and the window rule never
    // consults %g per event → every tuple reaches finalization in one state
    val tuples = Vector("a1", "a2", "a3").map(v => ForeachTuple(Vector(Left(v))))
    val db = Db(Seq("u1" -> Seq(
      RawEvent(10L, Map("event_type" -> "start", "advertisable_eid" -> "zz")))))
    val out = run(prog, db, tuples)
    val who = out.results.map(_.sets("who").keys.map(Tuple.render).toVector)
    assert(who == Vector(Vector("a1"), Vector("a2"), Vector("a3")),
      s"each tuple must finalize with ITS OWN binding, got $who")
  }

  test("every foreach tuple fires its own finalization after-yield (memo path)") {
    val prog = Compiled.compile(program)
    val tuples = Vector("a1", "a2", "a3").map(v => ForeachTuple(Vector(Left(v))))
    // a second event AFTER entering the window makes the FSM consult %g
    // (groupbyUsed = true); no tuple holds "zz", so none leaves the class
    val db = Db(Seq("u1" -> Seq(
      RawEvent(10L, Map("event_type" -> "start", "advertisable_eid" -> "zz")),
      RawEvent(20L, Map("event_type" -> "other", "advertisable_eid" -> "zz")))))
    val out = run(prog, db, tuples)
    val expired = out.results.map(_.counters.getOrElse("expired", 0L))
    assert(expired == Vector(1L, 1L, 1L),
      s"every tuple must finalize independently, got $expired")
  }
}
