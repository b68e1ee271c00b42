package graft.trck

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession
import graft.engine.TrckSparkRunner
import graft.trck.LocalRunner.{Db, RawEvent}

/** Run-scoped fcall lifecycle hooks (≙ reference src/match_traildb.c:
  * 1221-1229 weak initialize/finalize, invoked once around the whole query
  * run at :1248/:1256): an extended test_ffi-style case where initialize
  * loads the "model" the fcall reads and finalize tears it down — hooks
  * must fire exactly once per run, strictly around all fcall invocations,
  * and finalize must fire even when the run fails.
  */
object FcallLifecycleSpec {
  // stateful "external module" globals (single-JVM in local mode, like the
  // reference's linked .tr.c globals); object members so the fcall closures
  // capture nothing non-serializable
  @volatile var model: Option[String] = None
  val logQ = new java.util.concurrent.CopyOnWriteArrayList[String]()
}

class FcallLifecycleSpec extends AnyFunSuite with BeforeAndAfterAll {
  import FcallLifecycleSpec._

  private lazy val spark = GraftSession.builder("4").appName("fcall-lifecycle").getOrCreate()
  override def afterAll(): Unit = spark.stop()

  private def log: Vector[String] = {
    import scala.jdk.CollectionConverters._
    logQ.asScala.toVector
  }

  private def freshModule(): Fsm.FcallModule = {
    model = None; logQ.clear()
    Fsm.FcallModule(
      fcalls = Map("stamp" -> { args =>
        FcallLifecycleSpec.logQ.add("call")
        FcallLifecycleSpec.model
          .getOrElse(sys.error("fcall ran outside initialize/finalize scope")) + ":" + args.head
      }),
      onInitialize = () => { logQ.add("init"); model = Some("m1") },
      onFinalize = () => { logQ.add("fin"); model = None },
    )
  }

  private val program = Ir.Program(
    Vector(
      Ir.Rule(None, None, None, entrypoint = false, List(
        Ir.Clause(Map("type" -> List("cli")), negated = false, Some("repeat"),
          List(Ir.Yield("#s", List(Ir.FcallTerm("stamp", List(Ir.FieldTerm("advertisable_eid"))))))),
        Ir.Clause(Map.empty, negated = false, Some("repeat"), Nil)), None),
    ),
    None,
  )

  private val db = Db(Seq(
    "u1" -> Seq(RawEvent(1L, Map("type" -> "cli", "advertisable_eid" -> "a1")),
      RawEvent(2L, Map("type" -> "imp", "advertisable_eid" -> "a2"))),
    "u2" -> Seq(RawEvent(3L, Map("type" -> "cli", "advertisable_eid" -> "a3"))),
  ))

  private def renderedSet(out: LocalRunner.RunOutput): Set[String] =
    out.toOutputs.head("#s").asInstanceOf[Vector[String]].toSet

  test("LocalRunner.runModule: hooks fire once, around all fcalls, model visible") {
    val module = freshModule()
    val prog = Compiled.compile(program)
    val out = LocalRunner.runModule(module, prog, Seq(db))
    assert(renderedSet(out) == Set("m1:a1", "m1:a3"))
    assert(log.head == "init" && log.last == "fin")
    assert(log.count(_ == "init") == 1 && log.count(_ == "fin") == 1)
    assert(log.count(_ == "call") == 2)
    assert(model.isEmpty, "finalize must tear the model down")
  }

  test("engine runRawModule: same hooks, identical output to LocalRunner") {
    val prog = Compiled.compile(program)
    val local = LocalRunner.runModule(freshModule(), prog, Seq(db))
    val s = spark
    import s.implicits._
    val df = db.trails.flatMap { case (u, evs) =>
      evs.zipWithIndex.map { case (e, i) =>
        (u, e.ts, i.toLong, e.fields("type"), e.fields("advertisable_eid")) }
    }.toDF("uuid", "ts", "seq", "type", "advertisable_eid")
    val module = freshModule()
    val engine = TrckSparkRunner.runRaw(prog, df, "uuid", "ts", Seq("seq"), module = module)
    assert(OutputJson.render(engine.toOutputs, grouped = false) ==
      OutputJson.render(local.toOutputs, grouped = false))
    assert(log.head == "init" && log.last == "fin")
    assert(log.count(_ == "init") == 1 && log.count(_ == "fin") == 1)
  }

  test("finalize fires even when the run fails") {
    // non-exhaustive program: the 'imp' event matches no clause
    val bad = Ir.Program(Vector(
      Ir.Rule(None, None, None, entrypoint = false, List(
        Ir.Clause(Map("type" -> List("cli")), negated = false, Some("repeat"), Nil)), None)), None)
    val module = freshModule()
    intercept[Fsm.NonExhaustiveException] {
      LocalRunner.runModule(module, Compiled.compile(bad), Seq(db))
    }
    assert(log.count(_ == "fin") == 1, "finalize must run on the failure path")
  }
}
