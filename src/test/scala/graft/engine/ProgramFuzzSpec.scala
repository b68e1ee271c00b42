package graft.engine

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession
import graft.trck._
import graft.trck.LocalRunner.{Db, ForeachTuple, RawEvent}

/** Randomized program × trail equivalence (the spirit of the reference's
  * trick.py generator, re-aimed at our seam): generate random-but-valid
  * trck programs over a small vocabulary plus random multi-source trails,
  * and require the distributed engine's results to equal the golden-tested
  * LocalRunner byte-for-byte (rendered JSON). Exercises transitions,
  * windows + after, every yield kind, params, foreach modes and the
  * min_ts cut in combination, far beyond the hand-written specs.
  *
  * The program generator lives in the companion so the streaming arm
  * (graft.streaming.TrailStreamFuzzSpec) drives the SAME program space
  * through micro-batches.
  */
class ProgramFuzzSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession =
    GraftSession.builder("4").appName("program-fuzz").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  import ProgramFuzzSpec.{eids, randomProgram, types}

  private def randomDb(rnd: scala.util.Random, nTrails: Int, nEvents: Int, tsBase: Long): Db =
    Db((0 until nTrails).map { u =>
      var ts = tsBase + rnd.nextInt(200)
      val evs = (0 until nEvents).map { _ =>
        ts += rnd.nextInt(400).toLong // repeats possible
        RawEvent(ts, Map(
          "type" -> types(rnd.nextInt(types.length)),
          "advertisable_eid" -> eids(rnd.nextInt(eids.length)),
        ))
      }
      s"user$u" -> evs
    })

  private def dbToDf(db: Db) = {
    val s = spark
    import s.implicits._
    db.trails.flatMap { case (uuid, evs) =>
      evs.zipWithIndex.map { case (e, i) =>
        (uuid, e.ts, i.toLong, e.fields("type"), e.fields("advertisable_eid"))
      }
    }.toDF("uuid", "ts", "seq", "type", "advertisable_eid")
  }

  // two sources with min_ts cuts and explicit foreach tuples; the
  // one-source seeds run a single source without cuts and sweep the
  // foreach values implicitly (the perftest1 shape)
  private val twoSourceSeeds = Seq(101L, 202L, 303L, 404L, 505L, 606L, 1717L, 2828L, 3939L,
    4041L, 5152L, 6263L, 7374L)
  private val oneSourceSeeds = Seq(1212L, 2323L, 3434L, 4545L)

  for ((seed, oneSource) <- twoSourceSeeds.map(_ -> false) ++ oneSourceSeeds.map(_ -> true)) {
    val shape = if (oneSource) ", one source" else ""
    test(s"random program equivalence, Spark == LocalRunner (seed=$seed$shape)") {
      val rnd = new scala.util.Random(seed)
      val program = randomProgram(rnd)
      val prog = Compiled.compile(program)
      val db1 = randomDb(rnd, nTrails = 12, nEvents = 20, tsBase = 0L)
      val db1Max = db1.trails.flatMap(_._2.map(_.ts)).max
      val db2 = randomDb(rnd, nTrails = 12, nEvents = 15, tsBase = db1Max - 500)
      val params = Fsm.Bindings(
        scalars = Map("p" -> eids(rnd.nextInt(3))),
        sets = Map("ts" -> Set(types(rnd.nextInt(types.length)), types(rnd.nextInt(types.length)))),
      )
      val tuples: Option[Vector[ForeachTuple]] =
        if (prog.groupbyVars.isEmpty || oneSource) None
        else Some(Vector("a1", "a2", "zz").map(v => ForeachTuple(Vector(Left(v)))))

      val (local, engine) =
        if (oneSource)
          (LocalRunner.run(prog, Seq(db1), params, tuples),
            TrckSparkRunner.runRaw(prog, dbToDf(db1), "uuid", "ts", Seq("seq"), params, tuples))
        else {
          val (unioned, cuts) = TrckSparkRunner.unionSources(Seq(dbToDf(db1), dbToDf(db2)), "ts")
          (LocalRunner.run(prog, Seq(db1, db2), params, tuples),
            TrckSparkRunner.runRaw(
              prog, unioned, "uuid", "ts", Seq("seq"), params, tuples, srcCuts = cuts))
        }

      val grouped = prog.groupbyVars.nonEmpty && !prog.mergeResults
      val localJson = OutputJson.render(local.toOutputs, grouped)
      val engineJson = OutputJson.render(engine.toOutputs, grouped)
      assert(engineJson == localJson,
        s"seed=$seed program=${program.rules.mkString("; ")}")
      ProgramFuzzSpec.nonTrivial += (if (localJson.replaceAll("[^1-9]", "").nonEmpty) 1 else 0)
    }
  }

  for (seed <- Seq(711L, 822L, 933L, 1044L, 1155L)) {
    test(s"random program + window-file equivalence (seed=$seed)") {
      val rnd = new scala.util.Random(seed)
      val program = randomProgram(rnd)
      val prog = Compiled.compile(program)
      val db1 = randomDb(rnd, nTrails = 12, nEvents = 18, tsBase = 0L)
      val db1Max = db1.trails.flatMap(_._2.map(_.ts)).max
      val db2 = randomDb(rnd, nTrails = 12, nEvents = 12, tsBase = db1Max - 400)
      val allMax = db2.trails.flatMap(_._2.map(_.ts)).max
      // random window list: some cookies multi-window with ids, some plain,
      // some unlisted, one ghost
      val entries = (0 until 12).flatMap { u =>
        val cookie = s"user$u"
        rnd.nextInt(4) match {
          case 0 => Nil // unlisted → dropped
          case 1 => Seq(LocalRunner.WindowEntry(cookie, cookie,
            rnd.nextInt(500).toLong, allMax - rnd.nextInt(500)))
          case 2 => Seq(
            LocalRunner.WindowEntry(s"w$u-a", cookie, 0L, (allMax * 2) / 3),
            LocalRunner.WindowEntry(s"w$u-b", cookie, allMax / 3, allMax))
          case 3 => Seq(LocalRunner.WindowEntry(s"w$u", cookie, 0L, 0L))
        }
      } :+ LocalRunner.WindowEntry("ghost", "ghost", 0L, allMax)
      val ws = LocalRunner.WindowSet(entries)
      val params = Fsm.Bindings(
        scalars = Map("p" -> eids(rnd.nextInt(3))),
        sets = Map("ts" -> Set(types(rnd.nextInt(types.length)))),
      )
      val tuples: Option[Vector[ForeachTuple]] =
        if (prog.groupbyVars.isEmpty) None
        else Some(Vector("a1", "zz").map(v => ForeachTuple(Vector(Left(v)))))

      val local = LocalRunner.run(prog, Seq(db1, db2), params, tuples, windows = Some(ws))

      val (unioned, cuts) = TrckSparkRunner.unionSources(Seq(dbToDf(db1), dbToDf(db2)), "ts")
      val engine = TrckSparkRunner.runRaw(
        prog, unioned, "uuid", "ts", Seq("seq"), params, tuples,
        filters = TrckSparkRunner.EngineFilters(windows = Some(ws)), srcCuts = cuts)

      val grouped = prog.groupbyVars.nonEmpty && !prog.mergeResults
      val localJson = OutputJson.render(local.toOutputs, grouped)
      val engineJson = OutputJson.render(engine.toOutputs, grouped)
      assert(engineJson == localJson, s"seed=$seed program=${program.rules.mkString("; ")}")
    }
  }

  test("fuzz corpus was not vacuous") {
    // at least half the seeds must have produced a non-zero result value
    assert(ProgramFuzzSpec.nonTrivial >= 3, s"only ${ProgramFuzzSpec.nonTrivial} non-trivial runs")
  }
}

object ProgramFuzzSpec {
  @volatile var nonTrivial: Int = 0

  val types = Vector("cli", "imp", "pxl", "ct2", "vis")
  val eids = Vector("a1", "a2", "a3", "")

  def randomProgram(rnd: scala.util.Random): Ir.Program = {
    val nRules = 2 + rnd.nextInt(2) // 2-3
    def randomYields(): List[Ir.Yield] =
      List.fill(rnd.nextInt(3))(rnd.nextInt(5) match {
        case 0 => Ir.Yield("$c" + rnd.nextInt(2), Nil)
        case 1 => Ir.Yield("#s" + rnd.nextInt(2),
          List(Ir.FieldTerm(if (rnd.nextBoolean()) "type" else "cookie")))
        case 2 => Ir.Yield("&m0", List(Ir.FieldTerm("type")))
        case 3 => Ir.Yield("^h0", List(Ir.FieldTerm("advertisable_eid")))
        // the foreach var ITSELF — in an after-clause this makes
        // finalization binding-sensitive, exercising the identity-aware
        // finalizeTrail's snapshot branch under random programs (unbound
        // %g renders "" identically in both engines)
        case 4 => Ir.Yield("#sg", List(Ir.ParamTerm("%g")))
      })
    def randomAction(ri: Int): String = rnd.nextInt(5) match {
      case 0 => "repeat"
      case 1 => if (ri + 1 < nRules) "break" else "repeat"
      case 2 => "quit"
      case 3 => s"restart-from-next(${rnd.nextInt(nRules)})"
      case 4 =>
        // forward-only: a backward restart-from-here can re-dispatch the
        // same event in a cycle (a non-terminating program — legal to
        // write, guarded by the interpreter's stall check)
        if (ri + 1 < nRules) s"restart-from-here(${ri + 1 + rnd.nextInt(nRules - ri - 1)})"
        else "repeat"
    }
    def randomAttrs(): Map[String, List[String]] = rnd.nextInt(5) match {
      case 0 => Map.empty
      case 1 => Map("type" -> List(types(rnd.nextInt(types.length))))
      case 2 => Map("advertisable_eid" -> List("%p"))
      case 3 => Map("type" -> List("#ts"))
      case 4 => Map(
        "type" -> List(types(rnd.nextInt(types.length))),
        "advertisable_eid" -> List(eids(rnd.nextInt(3))))
    }
    val rules = Vector.tabulate(nRules) { ri =>
      val window = if (ri > 0 && rnd.nextInt(3) == 0) Some(500L + rnd.nextInt(1500).toLong) else None
      val nClauses = 1 + rnd.nextInt(2)
      val clauses = List.fill(nClauses)(
        Ir.Clause(randomAttrs(), negated = false, Some(randomAction(ri)), randomYields())
      ) :+ Ir.Clause(Map.empty, negated = false, Some("repeat"), Nil) // exhaustive
      val after = window.filter(_ => rnd.nextBoolean()).map(_ =>
        Ir.Clause(Map.empty, negated = false,
          Some(if (rnd.nextBoolean()) "quit" else "restart-from-here(0)"), randomYields()))
      Ir.Rule(None, window, None, entrypoint = false, clauses, after)
    }
    val groupby = rnd.nextInt(3) match {
      case 0 => None
      case 1 => Some(Ir.GroupBy(List("%g"), Some("@arr"), mergeResults = false))
      case 2 => Some(Ir.GroupBy(List("%g"), Some("@arr"), mergeResults = true))
    }
    // bind %g to a field via a condition so varFields resolves
    val p0 = Ir.Program(rules, groupby)
    if (groupby.isEmpty) p0
    else {
      val r0 = rules.head
      val bindClause = Ir.Clause(Map("advertisable_eid" -> List("%g")), negated = false,
        Some("repeat"), List(Ir.Yield("$g_hit", Nil)))
      p0.copy(rules = rules.updated(0, r0.copy(clauses = bindClause :: r0.clauses)))
    }
  }
}
