package graft.trck

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession
import graft.engine.TrckSparkRunner
import LocalRunner.{Db, RawEvent}

/** The non-consuming-cycle guard in Fsm.matchTrail must (a) never trip on
  * legitimate reference behavior — a window rule with `after ->
  * restart-from-here` re-enters via min(timestamp, window_expires)+d
  * (reference: src/fsm2c.py enter_rule), so a trail gap of G window
  * durations legitimately makes ~3·G/d non-consuming transitions at the
  * same position, one after-yield per period — and (b) still fail fast on a
  * genuinely non-terminating restart cycle (exact control-state repeat).
  * An event at or above the end-of-trail timestamp is refused before the
  * guard can see it, by both engines.
  */
class StallGuardSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession =
    GraftSession.builder("2").appName("stall-guard").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val noParams = Fsm.Bindings(Map.empty, Map.empty)

  private def clause(attrs: Map[String, List[String]], action: String, yields: Ir.Yield*) =
    Ir.Clause(attrs, negated = false, Some(action), yields.toList)

  private def catchAll = clause(Map.empty, "repeat")

  test("after -> restart-from-here across a gap of 100 window durations completes") {
    // rule0: wait for 'start', then enter windowed rule1 (30-min window).
    // rule1: after -> restart-from-here(1) yielding $periods each period;
    // 'conv' quits with $conv. The next event is ~100 windows later, so the
    // interpreter legally spins ~300 non-consuming transitions at one
    // position before the window catches up — the old counting guard
    // (rules*8+64 = 80) threw IllegalStateException here.
    val program = Ir.Program(Vector(
      Ir.Rule(None, None, None, entrypoint = false, List(
        clause(Map("type" -> List("start")), "break"),
        catchAll), None),
      Ir.Rule(None, Some(1800L), None, entrypoint = false, List(
        clause(Map("type" -> List("conv")), "quit", Ir.Yield("$conv", Nil)),
        catchAll),
        Some(clause(Map.empty, "restart-from-here(1)", Ir.Yield("$periods", Nil)))),
    ), None)
    val prog = Compiled.compile(program)
    val gap = 1800L * 100
    val db = Db(Seq("user0" -> Seq(
      RawEvent(1000L, Map("type" -> "start")),
      RawEvent(1000L + gap + 10, Map("type" -> "conv")),
    )))
    val out = LocalRunner.run(prog, Seq(db), noParams, None).toOutputs.head
    assert(out("$conv") == 1L)
    // window enters at ts+d = 2800, advances by 1800 per after-pass until it
    // passes 181010: 100 after-yields.
    assert(out("$periods") == 100L)
  }

  test("self restart-from-here cycle on the same event still throws") {
    val program = Ir.Program(Vector(
      Ir.Rule(None, None, None, entrypoint = false, List(
        clause(Map.empty, "restart-from-here(0)")), None),
    ), None)
    val prog = Compiled.compile(program)
    val db = Db(Seq("user0" -> Seq(RawEvent(1L, Map("type" -> "x")))))
    intercept[IllegalStateException] {
      LocalRunner.run(prog, Seq(db), noParams, None)
    }
  }

  test("period-2 restart cycle between two rules still throws") {
    val program = Ir.Program(Vector(
      Ir.Rule(None, None, None, entrypoint = false, List(
        clause(Map.empty, "restart-from-here(1)")), None),
      Ir.Rule(None, None, None, entrypoint = false, List(
        clause(Map.empty, "restart-from-here(0)")), None),
    ), None)
    val prog = Compiled.compile(program)
    val db = Db(Seq("user0" -> Seq(RawEvent(1L, Map("type" -> "x")))))
    intercept[IllegalStateException] {
      LocalRunner.run(prog, Seq(db), noParams, None)
    }
  }

  test("an event at or above MaxTimestamp fails in both engines, and one below it counts") {
    // the check runs first: at Long.MaxValue the rule's default
    // after-clause would not consume the event, and the stall guard would
    // throw "FSM control state repeated" instead
    val prog = Compiled.compile(Ir.Program(Vector(
      Ir.Rule(None, None, None, entrypoint = false, List(
        clause(Map("type" -> List("x")), "repeat", Ir.Yield("$n", Nil)),
        catchAll), None),
    ), None))
    def db(ts: Long) = Db(Seq("user0" -> Seq(RawEvent(5L, Map("type" -> "x")), RawEvent(ts, Map("type" -> "x")))))
    def onSpark(ts: Long) = TrckSparkRunner.runRaw(
      prog, spark.createDataFrame(Seq(("user0", 5L, "x"), ("user0", ts, "x"))).toDF("uuid", "ts", "type"),
      "uuid", "ts")
    for (ts <- Seq(Compiled.MaxTimestamp, Long.MaxValue)) {
      val local = intercept[IllegalArgumentException](LocalRunner.run(prog, Seq(db(ts)), noParams, None))
      assert(local.getMessage ==
        s"trail user0: event timestamp $ts must be below ${Compiled.MaxTimestamp}, the end-of-trail timestamp")
      // a task failure reaches the driver wrapped
      val failed = intercept[Exception](onSpark(ts))
      assert(Iterator.iterate[Throwable](failed)(_.getCause).takeWhile(_ != null)
        .exists(e => e.getMessage != null && e.getMessage.contains(local.getMessage)), failed.toString)
    }
    val below = Long.MaxValue - 2
    assert(LocalRunner.run(prog, Seq(db(below)), noParams, None).toOutputs.head("$n") == 2L)
    assert(onSpark(below).toOutputs.head("$n") == 2L)
  }
}
