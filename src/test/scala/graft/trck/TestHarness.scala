package graft.trck

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.json4s._
import org.json4s.jackson.JsonMethods

import Fsm.Bindings
import LocalRunner._

/** Harness for the reference's embedded golden tests (reference:
  * test/run_test.sh + test/ddiff.py): parse the tests JSON, build in-memory
  * DBs, run LocalRunner, compare with ddiff's semantics (groupby rows
  * matched by %/# param keys; sets compared order-insensitively; counters
  * and multisets exact). We additionally compare `^hll` hex strings, which
  * ddiff silently skips — stricter than the reference harness.
  */
object TestHarness {

  final case class GoldenTest(
      desc: String,
      dbs: Seq[Db],
      expected: JValue,
      cnf: Option[CnfFilter],
  )

  final case class GoldenFile(
      program: Ir.Program,
      tests: Seq[GoldenTest],
      params: Bindings,
      foreachTuples: Option[Vector[ForeachTuple]],
  )

  def parseFile(jv: JValue, groupbyValues: Option[String]): GoldenFile = {
    val program = Ir.fromJValue(jv)
    val (binds, tuples) = parseParams(jv \ "params", program)
    val tests = (jv \ "tests") match {
      case JArray(ts) => ts.map(parseTest)
      case _          => Nil
    }
    GoldenFile(program, tests, binds, tuples)
  }

  def parseTest(jv: JValue): GoldenTest = {
    val desc = (jv \ "desc") match { case JString(s) => s; case _ => "" }
    val dbs = (jv \ "trails") match {
      case JArray(ds) => ds.map(parseDb)
      case _          => Nil
    }
    GoldenTest(desc, dbs, jv \ "expected", parseFilter(jv \ "filter"))
  }

  private def parseDb(jv: JValue): Db = jv match {
    case JObject(trails) =>
      Db(trails.map { case (cookie, JArray(events)) =>
        cookie -> events.map(parseEvent)
      case (cookie, _) => cookie -> Nil
      })
    case _ => Db(Nil)
  }

  private def str(v: JValue): String = v match {
    case JString(s)  => s
    case JInt(i)     => i.toString
    case JLong(l)    => l.toString
    case JDouble(d)  => d.toString
    case JBool(b)    => b.toString
    case _           => ""
  }

  private def parseEvent(jv: JValue): RawEvent = graft.TrckParams.parseEvent(jv)

  def parseFilter(jv: JValue): Option[CnfFilter] = graft.TrckParams.parseFilter(jv)

  /** params JSON → base bindings + foreach tuples (shared with the CLI). */
  def parseParams(jv: JValue, program: Ir.Program): (Bindings, Option[Vector[ForeachTuple]]) =
    graft.TrckParams.parse(jv, program)

  // ------------------------------------------------------------- comparison

  /** Render a RunOutput into JSON-comparable values. */
  def outputToJValues(out: RunOutput): Vector[JObject] =
    out.toOutputs.map { m =>
      JObject(m.toList.map {
        case (k, v: Long)   => k -> (JInt(v): JValue)
        case (k, v: String) => k -> (JString(v): JValue)
        case (k, OutputJson.Mset(es)) =>
          k -> JObject(es.toList.map { case (s, c) => s -> (JInt(c): JValue) })
        case (k, v: Vector[_]) => k -> (JArray(v.toList.map(x => JString(x.toString))): JValue)
        case (k, v) => k -> (JString(v.toString): JValue)
      })
    }

  /** ddiff obj_equals (reference: test/ddiff.py:6-27) over given prefixes,
    * plus strict `^` handling.
    */
  def objEquals(a: JObject, b: JObject, prefixes: Set[Char]): Boolean = {
    val keys = (a.obj.map(_._1) ++ b.obj.map(_._1)).filter(k => k.nonEmpty && prefixes(k.head))
    keys.forall { k =>
      val av = a \ k
      val bv = b \ k
      if (av == JNothing || bv == JNothing) false
      else
        (av, bv) match {
          case (JArray(x), JArray(y)) => x.map(str).toSet == y.map(str).toSet
          case (JObject(x), JObject(y)) =>
            x.map { case (k2, v2) => k2 -> str(v2) }.toMap ==
              y.map { case (k2, v2) => k2 -> str(v2) }.toMap
          case (x, y) => str(x) == str(y)
        }
    }
  }

  /** Full ddiff compare: expected vs actual. Returns error description or None. */
  def compare(expected: JValue, actual: Vector[JObject], strictHll: Boolean = true): Option[String] = {
    val resultPrefixes = if (strictHll) Set('$', '#', '&', '^') else Set('$', '#', '&')
    expected match {
      case e: JObject =>
        // single-result tests list only a SUBSET of result keys (the
        // reference's ddiff never actually compares the dict case — the
        // obj_equals return value is discarded and compare_dicts is
        // commented out, test/ddiff.py:68-72 — so its corpus never had to
        // list every key). We compare one-sided: every expected key must
        // match; extra actual keys are fine.
        val a = actual.head
        val errs = e.obj.filter { case (k, _) => k.nonEmpty && resultPrefixes(k.head) }.flatMap {
          case (k, v) =>
            val got = a \ k
            val ok = (v, got) match {
              case (JArray(x), JArray(y)) => x.map(str).toSet == y.map(str).toSet
              case (JObject(x), JObject(y)) =>
                x.map { case (k2, v2) => k2 -> str(v2) }.toMap ==
                  y.map { case (k2, v2) => k2 -> str(v2) }.toMap
              case (x, y) => str(x) == str(y)
            }
            if (ok) None else Some(s"$k: expected ${JsonMethods.compact(v)} got ${JsonMethods.compact(got)}")
        }
        if (errs.isEmpty) None
        else Some(errs.mkString("; ") + s" in ${JsonMethods.compact(a)}")
      case JArray(rows) =>
        val errs = rows.flatMap { r =>
          val ro = r.asInstanceOf[JObject]
          actual.find(a => objEquals(ro, a, Set('%', '#'))) match {
            case None => Some(s"not found: ${JsonMethods.compact(r)}")
            case Some(a) =>
              if (objEquals(ro, a, resultPrefixes)) None
              else Some(s"expected ${JsonMethods.compact(r)} got ${JsonMethods.compact(a)}")
          }
        }
        if (errs.isEmpty) None else Some(errs.mkString("; "))
      case _ => Some("bad expected value")
    }
  }

  private def hexCookieToString(hex: String): String = {
    val bytes = hex.trim.grouped(2).map(h => Integer.parseInt(h, 16).toByte).toArray
    val end = bytes.lastIndexWhere(_ != 0) + 1
    new String(bytes, 0, end, "ISO-8859-1")
  }

  /** A `.tr` file's window and exclude sidecars (`<file>.window.csv`:
    * `hex cookie,start,end[,hex id]` per line; `<file>.exclude.csv`: one
    * hex cookie per line; reference: src/window_set.c, src/exclude_set.c),
    * each empty when its file is absent.
    */
  def sidecars(tr: Path): (Option[WindowSet], Set[String]) = {
    def lines(p: Path) = Files.readAllLines(p).asScala.filter(_.nonEmpty).toSeq
    val win = Paths.get(tr.toString + ".window.csv")
    val ex = Paths.get(tr.toString + ".exclude.csv")
    val windows = Option.when(Files.exists(win))(WindowSet(lines(win).map { line =>
      val cols = line.trim.split(",")
      val cookie = hexCookieToString(cols(0))
      val id = if (cols.length > 3) hexCookieToString(cols(3)) else cookie
      WindowEntry(id, cookie, cols(1).toLong, cols(2).toLong)
    }))
    (windows, if (Files.exists(ex)) lines(ex).map(hexCookieToString).toSet else Set.empty)
  }

  /** Run one golden test end-to-end through LocalRunner. */
  def runGolden(file: GoldenFile, test: GoldenTest,
                windows: Option[WindowSet] = None,
                exclude: Set[String] = Set.empty,
                fcalls: Map[String, Fsm.Fcall] = Map.empty): Option[String] = {
    val prog = Compiled.compile(file.program)
    val out = LocalRunner.run(
      prog, test.dbs, file.params, file.foreachTuples, test.cnf, windows, exclude, fcalls)
    compare(test.expected, outputToJValues(out))
  }
}
