package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.json4s.jackson.JsonMethods

import graft.engine.TrckSparkRunner
import graft.parser.TrParser
import graft.trck._
import graft.trck.LocalRunner.{WindowEntry, WindowSet}

/** CLI entry point — the analog of the reference's compiled matcher binary
  * (reference: src/match_traildb.c:1231-1258 main; bin/trck driver):
  *
  * {{{
  * runMain graft.Trck <program.tr|program.json> [options] <input...>
  *   --params <file>         params JSON (%x / #x / @arr)
  *   --filter <json>         CNF filter (reference --filter format)
  *   --window-file <csv>     per-uuid windows (cookieHex,start,end[,idHex])
  *   --exclude-file <file>   uuids to drop (hex, one per line)
  *   --uuid-col / --ts-col   column mapping for parquet inputs
  *   --tiebreak-col <c>      event-order tiebreak for equal timestamps
  *   --output-format <f>     json (default) | msgpack | proto
  *   --fcall-class <fqcn>    user-fcall module on the classpath
  *                           (graft.trck.FcallProvider) — the analog of the
  *                           reference's sibling .tr.c (bin/trck:55-130)
  * }}}
  *
  * Inputs: `.json` files in the reference's test format
  * ({cookie: [events…]}, one file per TrailDB, processed in order with
  * cross-DB state carry — runs on LocalRunner) or parquet paths (runs on
  * the distributed TrailEngine). Output: reference-format JSON on stdout.
  */
object Trck {

  def main(args: Array[String]): Unit = {
    var programPath: String = null
    var params: String = null
    var filter: String = null
    var windowFile: String = null
    var excludeFile: String = null
    var uuidCol = "uuid"
    var tsCol = "ts"
    var tiebreak: List[String] = Nil
    var outputFormat = "json"
    var fcallClass: String = null
    val inputs = scala.collection.mutable.ListBuffer[String]()

    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--params"       => params = args(i + 1); i += 2
        case "--filter"       => filter = args(i + 1); i += 2
        case "--window-file"  => windowFile = args(i + 1); i += 2
        case "--exclude-file" => excludeFile = args(i + 1); i += 2
        case "--uuid-col"     => uuidCol = args(i + 1); i += 2
        case "--ts-col"       => tsCol = args(i + 1); i += 2
        case "--tiebreak-col" => tiebreak ::= args(i + 1); i += 2
        case "--output-format" => outputFormat = args(i + 1); i += 2
        case "--fcall-class"  => fcallClass = args(i + 1); i += 2
        case a if programPath == null => programPath = a; i += 1
        case a                => inputs += a; i += 1
      }
    }
    require(programPath != null, "usage: Trck <program.tr|program.json> [options] <input...>")
    require(inputs.nonEmpty, "at least one input required")

    val programText = Files.readString(Paths.get(programPath))
    val program =
      if (programPath.endsWith(".tr")) TrParser.parse(TrParser.programText(programText))
      else Ir.parseProgram(programText)
    val prog = Compiled.compile(program)

    val paramsJv =
      if (params == null) org.json4s.JNothing else JsonMethods.parse(Files.readString(Paths.get(params)))
    val (binds, tuples) = TrckParams.parse(paramsJv, program)

    // --filter takes the literal JSON (as the reference does) or a file path
    val cnf: Option[LocalRunner.CnfFilter] =
      Option(filter).filter(_.trim.nonEmpty).flatMap { f =>
        val text = if (f.trim.startsWith("{")) f else Files.readString(Paths.get(f))
        TrckParams.parseFilter(JsonMethods.parse(text))
      }

    val windows: Option[WindowSet] = Option(windowFile).map { p =>
      WindowSet(Files.readAllLines(Paths.get(p)).asScala.filter(_.nonEmpty).map { line =>
        val cols = line.trim.split(",")
        val cookie = hexToCookie(cols(0))
        val id = if (cols.length > 3) hexToCookie(cols(3)) else cookie
        WindowEntry(id, cookie, cols(1).toLong, cols(2).toLong)
      }.toSeq)
    }
    val exclude: Set[String] = Option(excludeFile)
      .map(p => Files.readAllLines(Paths.get(p)).asScala.filter(_.nonEmpty).map(hexToCookie).toSet)
      .getOrElse(Set.empty)

    val module: Fsm.FcallModule = Option(fcallClass)
      .map(FcallProvider.load)
      .getOrElse(Fsm.FcallModule(Map.empty))

    val jsonInputs = inputs.forall(_.endsWith(".json"))
    val rawOutput: LocalRunner.RunOutput =
      if (jsonInputs) {
        // reference test format → exact multi-DB local semantics
        val dbs = inputs.map { p =>
          val jv = JsonMethods.parse(Files.readString(Paths.get(p)))
          jv match {
            case org.json4s.JObject(trails) =>
              LocalRunner.Db(trails.map { case (cookie, events) =>
                cookie -> (events match {
                  case org.json4s.JArray(es) => es.map(TrckParams.parseEvent)
                  case _                     => Nil
                })
              })
            case _ => LocalRunner.Db(Nil)
          }
        }
        LocalRunner.runModule(module, prog, dbs.toSeq, binds, tuples, cnf, windows, exclude)
      } else {
        val spark = GraftSession.builder().getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
        // sequential-DB semantics (min_ts cut, per-source replay order,
        // presence and lexicon over every DB) live in unionSources + runRaw
        val (events, srcCuts) =
          TrckSparkRunner.unionSources(inputs.map(spark.read.parquet(_)).toSeq, tsCol)
        val filters = TrckSparkRunner.EngineFilters(
          cnf = cnf.flatMap(c => TrckSparkRunner.cnfColumn(c.clauses, events)),
          windows = windows,
          exclude =
            if (exclude.isEmpty) None
            else {
              import spark.implicits._
              Some(exclude.toSeq.toDF(uuidCol))
            },
        )
        val out = TrckSparkRunner.runRaw(
          prog, events, uuidCol, tsCol, tiebreak.reverse, binds, tuples, filters, module, srcCuts)
        spark.stop()
        out
      }

    outputFormat match {
      case "json" =>
        val grouped = prog.groupbyVars.nonEmpty && !prog.mergeResults
        println(OutputJson.render(rawOutput.toOutputs, grouped))
      case "msgpack" =>
        System.out.write(OutputMsgpack.render(rawOutput)); System.out.flush()
      case "proto" =>
        System.out.write(OutputProto.render(rawOutput)); System.out.flush()
      case other => sys.error(s"unknown --output-format: $other")
    }
  }

  private def hexToCookie(hex: String): String = {
    val h = hex.trim
    if (h.matches("[0-9a-fA-F]{32}")) {
      val bytes = h.grouped(2).map(x => Integer.parseInt(x, 16).toByte).toArray
      val end = bytes.lastIndexWhere(_ != 0) + 1
      new String(bytes, 0, end, "ISO-8859-1")
    } else h // plain cookie string
  }
}

/** Shared params/filter/event JSON parsing for the CLI (same shapes the
  * golden-test harness consumes — reference: src/match_traildb.c:86-159,
  * 955-1065; src/traildb_filter.c:9-103).
  */
object TrckParams {
  import org.json4s._

  private def str(v: JValue): String = v match {
    case JString(s) => s
    case JInt(x)    => x.toString
    case JLong(x)   => x.toString
    case JDouble(x) => x.toString
    case JBool(x)   => x.toString
    case _          => ""
  }

  def parseEvent(jv: JValue): LocalRunner.RawEvent = jv match {
    case JObject(fields) =>
      val ts = fields.collectFirst { case ("timestamp", v) => str(v).toLong }.getOrElse(0L)
      LocalRunner.RawEvent(ts, fields.collect { case (k, v) if k != "timestamp" => k -> str(v) }.toMap)
    case _ => LocalRunner.RawEvent(0L, Map.empty)
  }

  def parseFilter(jv: JValue): Option[LocalRunner.CnfFilter] = (jv \ "clauses") match {
    case JArray(clauses) =>
      Some(LocalRunner.CnfFilter(clauses.map {
        case JArray(terms) =>
          terms.map { t =>
            val op = (t \ "op") match { case JString(s) => s; case _ => "equal" }
            ((t \ "field") match { case JString(s) => s; case _ => "" }, str(t \ "value"), op == "equal")
          }
        case _ => Nil
      }))
    case _ => None
  }

  def parse(jv: JValue, program: Ir.Program): (Fsm.Bindings, Option[Vector[LocalRunner.ForeachTuple]]) =
    jv match {
      case JObject(fields) =>
        var scalars = Map.empty[String, String]
        var sets = Map.empty[String, Set[String]]
        var arrays = Map.empty[String, Vector[LocalRunner.ForeachTuple]]
        val nVars = program.groupby.map(_.vars.length).getOrElse(0)
        fields.foreach {
          case (k, v) if k.startsWith("%")           => scalars += k.tail -> str(v)
          case (k, JArray(vs)) if k.startsWith("#")  => sets += k.tail -> vs.map(str).toSet
          case (k, JArray(ts)) if k.startsWith("@") =>
            arrays += k -> ts.map {
              case JArray(elems) =>
                LocalRunner.ForeachTuple(elems.map {
                  case JArray(ss) => Right(ss.map(str).toVector)
                  case other      => Left(str(other))
                }.toVector)
              case other if nVars <= 1 => LocalRunner.ForeachTuple(Vector(Left(str(other))))
              case other               => sys.error(s"bad foreach tuple: $other")
            }.toVector
          case _ => ()
        }
        val tuples = program.groupby.flatMap(_.values).flatMap(arrays.get)
          .orElse(arrays.values.headOption.filter(_ => program.groupby.exists(_.values.isDefined)))
        (Fsm.Bindings(scalars, sets), tuples)
      case _ => (Fsm.Bindings(), None)
    }
}
