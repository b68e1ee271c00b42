package trckperf

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.{TrailEngine, TrckSparkRunner}
import graft.parser.TrParser
import graft.trck._
import graft.trck.Compiled.CompiledProgram
import graft.trck.Fsm.{Bindings, TrailEvent}
import graft.trck.LocalRunner.ForeachTuple

/** What one operation (one trck query, as a user issues it) reports. */
final case class OpResult(events: Long, trails: Long, ok: Boolean, detail: String)

/** A trail set for the in-JVM FSM ceiling: the program, its foreach tuples
  * and pre-decoded trails, fields in `prog.fields` slot order.
  */
final case class CeilingInput(
    prog: CompiledProgram,
    tuples: Vector[ForeachTuple],
    trails: Array[(String, Array[TrailEvent])],
)

/** One benchmark workload. `setup` builds the inputs every query reads
  * (timed as set-up); `expect` derives the expected results without the
  * Spark engine (not timed); `op` runs one query through the engine's
  * public entry points and checks it.
  */
trait Workload {
  def setup(spark: SparkSession, dir: String, tr: Tracer): Unit
  def expect(): Unit
  def op(k: Int, tr: Tracer): OpResult
  def ceiling(): CeilingInput
  def release(): Unit = ()
}

object Workload {
  def apply(name: String, seed: Long, scale: Double): Workload = name match {
    case "perftest1"     => new Perftest1(seed, math.max(100, (3000 * scale).toInt))
    case "lake_multidb"  => new LakeMultiDb(seed, math.max(20, (3000 * scale).toInt))
    case "prepared_mix"  => new PreparedMix(seed, math.max(20, (1000 * scale).toInt))
    case other           => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  val names: Seq[String] = Seq("perftest1", "lake_multidb", "prepared_mix")

  /** parse → compile, each in its own span. */
  def compile(text: String, tr: Tracer): (Ir.Program, CompiledProgram) = {
    val program = tr.span("parse")(TrParser.parse(text))
    (program, tr.span("compile")(Compiled.compile(program)))
  }

  /** The reference-format JSON a trck user reads, as the CLI prints it. */
  def render(out: LocalRunner.RunOutput, tr: Tracer): String = {
    val prog = out.prog
    val json = tr.span("render") {
      OutputJson.render(out.toOutputs, grouped = prog.groupbyVars.nonEmpty && !prog.mergeResults)
    }
    tr.rendered(json.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong)
    json
  }

  /** Decode one trail's events into FSM input, fields in slot order. */
  def decode(prog: CompiledProgram, events: Seq[(Long, Map[String, String])]): Array[TrailEvent] =
    events.map { case (ts, fs) => new TrailEvent(ts, prog.fields.map(f => fs.getOrElse(f, ""))) }.toArray

  /** Stable 64-bit mix of a seed and indices (SplitMix64 finalizer). */
  def mix(xs: Long*): Long = xs.foldLeft(0x9E3779B97F4A7C15L) { (h, x) =>
    var z = h ^ (x + 0x9E3779B97F4A7C15L)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

/** The reference perf fixture (perftest1: `foreach %aeid` over ~101 values,
  * 200 events per trail over two DBs), generated as `graft.PerfFixture`
  * does, persisted in memory, and checked against the generator's analytic
  * counts. The seed picks the cookie-id range.
  */
final class Perftest1(seed: Long, nTrails: Int) extends Workload {
  private val EventsPerDb = 100
  private val base = math.floorMod(seed, 1000000L) * nTrails
  private var events: DataFrame = null
  private var nEvents = 0L
  private var expected: Map[String, Long] = Map.empty

  val text: String =
    """foreach %aeid
      |    start ->
      |        receive
      |            advertisable_eid = %aeid -> yield $r, repeat
      |            * -> repeat
      |""".stripMargin

  private def seg(cookie: Long): Int = ((cookie + 1) % 100 + 1).toInt

  def setup(spark: SparkSession, dir: String, tr: Tracer): Unit = {
    val df = tr.span("generate") {
      spark.range(base, base + nTrails)
        .select(col("id").as("cookie"))
        .withColumn("db", explode(array(lit(0), lit(1))))
        .withColumn("j", explode(sequence(lit(0), lit(EventsPerDb - 1))))
        .select(
          col("cookie").cast("string").as("uuid"),
          (lit(1000000L) + col("db") * 100000L + col("j")).as("ts"),
          pmod(col("j"), pmod(col("cookie") + 1, lit(100)) + 1).cast("string").as("advertisable_eid"),
          (pmod(col("cookie") + 1, lit(100)) + 1).cast("string").as("segment_eid"),
        )
    }
    events = tr.span("prepare") {
      val p = df.repartition(spark.sparkContext.defaultParallelism * 4).persist()
      nEvents = p.count()
      p
    }
  }

  def expect(): Unit = {
    // what perftest1_db.py accumulates while generating
    val counts = mutable.Map[String, Long]().withDefaultValue(0L)
    var i = 0L
    while (i < nTrails) {
      val s = seg(base + i)
      var j = 0
      while (j < EventsPerDb) { counts((j % s).toString) += 2L; j += 1 }
      i += 1
    }
    expected = counts.toMap
    require(nEvents == 2L * EventsPerDb * nTrails, s"generated $nEvents events")
  }

  def op(k: Int, tr: Tracer): OpResult = {
    val (_, prog) = Workload.compile(text, tr)
    val values = tr.span("lexicon")(TrailEngine.lexiconSweep(events, "advertisable_eid"))
    val tuples = ("" +: values).map(v => ForeachTuple(Vector(Left(v))))
    val out = tr.span("runRaw") {
      TrckSparkRunner.runRaw(prog, events, "uuid", "ts", foreachTuples = Some(tuples))
    }
    Workload.render(out, tr)
    val bad = tuples.zip(out.results).collect {
      case (ForeachTuple(Vector(Left(v))), r)
          if r.counters.getOrElse("r", 0L) != (if (v.isEmpty) 0L else expected.getOrElse(v, 0L)) => v
    }
    val lexOk = values.toSet == expected.keySet
    OpResult(nEvents, nTrails, bad.isEmpty && lexOk,
      if (bad.isEmpty && lexOk) "" else s"mismatch on aeid ${bad.take(5).mkString(",")} lexicon ok=$lexOk")
  }

  def ceiling(): CeilingInput = {
    val prog = Compiled.compile(TrParser.parse(text))
    val tuples = ("" +: (0 until 100).map(_.toString).sorted).map(v => ForeachTuple(Vector(Left(v)))).toVector
    val trails = (0 until math.min(nTrails, 300)).map { i =>
      val c = base + i
      val evs = for (db <- 0 until 2; j <- 0 until EventsPerDb) yield
        (1000000L + db * 100000L + j, Map("advertisable_eid" -> (j % seg(c)).toString))
      c.toString -> Workload.decode(prog, evs)
    }.toArray
    CeilingInput(prog, tuples, trails)
  }

  override def release(): Unit = if (events != null) events.unpersist()
}

/** Two seeded parquet "DBs" replayed in order through `unionSources`
  * (min_ts cut), under a CNF filter, with a counter, a set, a multiset and
  * an HLL yield. Expected results come from the generator.
  */
final class LakeMultiDb(seed: Long, nTrails: Int) extends Workload {
  import LakeMultiDb._

  private var paths: Seq[String] = Nil
  private var spark: SparkSession = null
  private var exp: Expected = null
  /** min_ts cut per source: source i keeps events at or after source i-1's max ts */
  private var cuts: Seq[Long] = Nil

  val text: String =
    """start ->
      |    receive
      |        event_type = "buy" -> yield $buys, yield country to #countries, yield product to &products, yield sku to ^skus, repeat
      |        * -> repeat
      |""".stripMargin

  /** device != "bot" AND (country != "aq" OR event_type = "buy") */
  val cnf: Seq[Seq[(String, String, Boolean)]] =
    Seq(Seq(("device", "bot", false)), Seq(("country", "aq", false), ("event_type", "buy", true)))

  private def keep(e: Ev): Boolean =
    cnf.forall(_.exists { case (f, v, eq) => (e.field(f) == v) == eq })

  def setup(s: SparkSession, dir: String, tr: Tracer): Unit = {
    spark = s
    val sd = seed
    val n = nTrails
    val slices = s.sparkContext.defaultParallelism
    paths = (0 until Sources).map { src =>
      val path = s"$dir/lake_src$src"
      val rows = s.sparkContext.range(0L, n.toLong, 1L, slices)
        .flatMap(i => events(sd, i, src).map(_.row))
      tr.span("generate") {
        s.createDataFrame(rows, Schema).write.mode("overwrite").parquet(path)
      }
      path
    }
  }

  def expect(): Unit = {
    val all = (0 until Sources).map(src => (0L until nTrails).flatMap(i => events(seed, i, src)))
    cuts = 0L +: all.init.map(es => es.map(_.ts).max)
    val kept = all.zip(cuts).flatMap { case (es, c) => es.filter(e => e.ts >= c && keep(e)) }
    val buys = kept.filter(_.eventType == "buy")
    exp = Expected(
      events = all.map(_.size.toLong).sum,
      buys = buys.size.toLong,
      countries = buys.map(_.country).toSet,
      products = buys.groupBy(_.product).view.mapValues(_.size.toLong).toMap,
      skus = buys.map(_.sku).distinct.size,
    )
  }

  def op(k: Int, tr: Tracer): OpResult = {
    val (_, prog) = Workload.compile(text, tr)
    val dfs = paths.map(spark.read.parquet(_))
    val (events, cuts) = tr.span("unionSources")(TrckSparkRunner.unionSources(dfs, "ts"))
    val filters = TrckSparkRunner.EngineFilters(cnf = TrckSparkRunner.cnfColumn(cnf, events))
    val out = tr.span("runRaw") {
      TrckSparkRunner.runRaw(prog, events, "uuid", "ts", filters = filters, srcCuts = cuts)
    }
    Workload.render(out, tr)
    val r = out.results.head
    val countries = r.sets("countries").keys.map(Tuple.render).toSet
    val products = r.msets("products").map { case (t, c) => Tuple.render(t) -> c }.toMap
    val est = r.hlls.get("skus").map(_.estimate).getOrElse(0.0)
    val checks = Seq(
      "buys" -> (r.counters.getOrElse("buys", -1L) == exp.buys),
      "countries" -> (countries == exp.countries),
      "products" -> (products == exp.products),
      // a4_hll_estimate_check tolerance
      "skus" -> (math.abs(est - exp.skus) <= 0.04 * exp.skus),
    )
    val bad = checks.filterNot(_._2).map(_._1)
    OpResult(exp.events, nTrails, bad.isEmpty, if (bad.isEmpty) "" else s"mismatch: ${bad.mkString(",")}")
  }

  def ceiling(): CeilingInput = {
    val prog = Compiled.compile(TrParser.parse(text))
    val trails = (0L until math.min(nTrails, 2000).toLong).map { i =>
      val evs = (0 until Sources).flatMap(src => events(seed, i, src).filter(e => e.ts >= cuts(src) && keep(e)))
      s"u$i" -> Workload.decode(prog, evs.map(e => e.ts -> e.fieldMap))
    }.toArray
    CeilingInput(prog, Vector(ForeachTuple(Vector.empty)), trails)
  }
}

object LakeMultiDb {
  val Sources = 2
  val EventsPerSource = 50
  private val T0 = 1600000000L

  final case class Expected(
      events: Long, buys: Long, countries: Set[String], products: Map[String, Long], skus: Int)

  final case class Ev(
      uuid: String, ts: Long, eventType: String, country: String, product: String,
      device: String, sku: String, eventId: String) {
    def field(f: String): String = fieldMap.getOrElse(f, "")
    def fieldMap: Map[String, String] =
      Map("event_type" -> eventType, "country" -> country, "product" -> product,
        "device" -> device, "sku" -> sku, "event_id" -> eventId)
    def row: Row = Row(uuid, ts, eventType, country, product, device, sku, eventId)
  }

  val Schema: StructType = StructType(Seq(
    StructField("uuid", StringType), StructField("ts", LongType),
    StructField("event_type", StringType), StructField("country", StringType),
    StructField("product", StringType), StructField("device", StringType),
    StructField("sku", StringType), StructField("event_id", StringType),
  ))

  private val Types = Array("view", "view", "view", "view", "click", "click", "cart", "buy")
  private val Countries = Array("us", "de", "fr", "jp", "br", "in", "gb", "ca", "mx", "aq")
  private val Devices = Array("ios", "android", "web", "web", "android", "ios", "web", "android",
    "ios", "web", "android", "ios", "web", "android", "ios", "web", "android", "ios", "web", "bot")

  /** One trail's events in one source. Source 0 spans roughly
    * [T0, T0+115k s), source 1 starts from T0+100k s, so the min_ts cut
    * drops part of source 1.
    */
  def events(seed: Long, trail: Long, src: Int): IndexedSeq[Ev] = {
    val rng = new java.util.SplittableRandom(Workload.mix(seed, trail, src))
    val uuid = f"${Workload.mix(seed, trail)}%016x"
    var ts = T0 + src * 100000L + rng.nextLong(90000L)
    (0 until EventsPerSource).map { k =>
      ts += 1 + rng.nextInt(500)
      Ev(uuid, ts,
        Types(rng.nextInt(Types.length)),
        Countries(rng.nextInt(Countries.length)),
        "p" + rng.nextInt(200),
        Devices(rng.nextInt(Devices.length)),
        "s" + rng.nextInt(40000),
        s"$uuid-$src-$k")
    }
  }
}

/** A small trail set prepared once with `TrailEngine.prepare` and
  * persisted; each operation is one short query with `prepared = true`,
  * drawn in seeded order from five program shapes. Expected outputs come
  * from `LocalRunner` over the same events.
  */
final class PreparedMix(seed: Long, nTrails: Int) extends Workload {
  import PreparedMix._

  private var prepared: DataFrame = null
  private var nEvents = 0L
  private val trails: IndexedSeq[(String, IndexedSeq[(Long, Map[String, String])])] =
    (0L until nTrails).map(i => trail(seed, i))
  private val expected = mutable.Map[String, String]()

  /** Operation k's shape, fixed by the seed and k alone: warm-up
    * operations (k < 0) do not shift which shapes the timed ones run.
    */
  private def shape(k: Int): Shape =
    Shapes(java.lang.Math.floorMod(Workload.mix(seed, 7L, k.toLong), Shapes.length.toLong).toInt)

  def setup(spark: SparkSession, dir: String, tr: Tracer): Unit = {
    val df = tr.span("generate") {
      val rows = trails.flatMap { case (u, evs) =>
        evs.map { case (ts, f) => Row(u, ts, f("event_type"), f("event_id").toLong) }
      }
      spark.createDataFrame(spark.sparkContext.parallelize(rows, spark.sparkContext.defaultParallelism), Schema)
    }
    prepared = tr.span("prepare") {
      val p = TrailEngine.prepare(df, "uuid", "ts", Seq("event_id")).persist()
      p.count()
      p
    }
    nEvents = trails.map(_._2.size.toLong).sum
  }

  def expect(): Unit = {
    val db = LocalRunner.Db(trails.map { case (u, evs) =>
      u -> evs.map { case (ts, f) => LocalRunner.RawEvent(ts, f) }
    })
    Shapes.foreach { s =>
      val program = TrParser.parse(s.text)
      val (binds, tuples) = params(program, s)
      val out = LocalRunner.run(Compiled.compile(program), Seq(db), binds, tuples)
      expected(s.name) = Workload.render(out, new Tracer(false))
    }
  }

  def op(k: Int, tr: Tracer): OpResult = {
    val s = shape(k)
    val (program, prog) = Workload.compile(s.text, tr)
    val (binds, tuples) = params(program, s)
    val out = tr.span("runRaw") {
      TrckSparkRunner.runRaw(prog, prepared, "uuid", "ts", Seq("event_id"), binds, tuples, prepared = true)
    }
    val json = Workload.render(out, tr)
    val ok = json == expected(s.name)
    OpResult(nEvents, nTrails, ok, if (ok) "" else s"${s.name}: got $json want ${expected(s.name)}")
  }

  def ceiling(): CeilingInput = {
    val prog = Compiled.compile(TrParser.parse(Shapes.head.text))
    CeilingInput(prog, Vector(ForeachTuple(Vector.empty)),
      trails.map { case (u, evs) => u -> Workload.decode(prog, evs) }.toArray)
  }

  override def release(): Unit = if (prepared != null) prepared.unpersist()
}

object PreparedMix {
  final case class Shape(name: String, text: String, arr: Seq[String] = Nil)

  /** The `TrckQueries` program shapes, as `.tr` text. */
  val Shapes: Vector[Shape] = Vector(
    Shape("count",
      """start ->
        |    receive
        |        event_type = "click" -> yield $clicks, repeat
        |        * -> repeat
        |""".stripMargin),
    Shape("funnel",
      """start ->
        |    receive
        |        event_type = "signup" -> paid
        |        * -> repeat
        |paid ->
        |    receive
        |        event_type = "purchase" -> yield $conv, quit
        |        * -> repeat
        |""".stripMargin),
    Shape("window_after",
      """start ->
        |    receive
        |        * -> yield $in, session
        |session ->
        |    receive
        |        * -> yield $in, repeat
        |    after 30m -> quit
        |""".stripMargin),
    Shape("foreach",
      """foreach %t in @arr
        |    start ->
        |        receive
        |            event_type = %t -> yield $n, repeat
        |            * -> repeat
        |""".stripMargin,
      Seq("click", "view", "purchase")),
    Shape("merged_hll",
      """foreach %t in @arr merged results
        |    start ->
        |        receive
        |            event_type = %t -> yield timestamp to ^hts, repeat
        |            * -> repeat
        |""".stripMargin,
      Seq("click", "purchase")),
  )

  def params(program: Ir.Program, s: Shape): (Bindings, Option[Vector[ForeachTuple]]) =
    if (s.arr.isEmpty) (Bindings(), None)
    else {
      import org.json4s._
      graft.TrckParams.parse(JObject("@arr" -> JArray(s.arr.map(JString(_)).toList)), program)
    }

  val Schema: StructType = StructType(Seq(
    StructField("uuid", StringType), StructField("ts", LongType),
    StructField("event_type", StringType), StructField("event_id", LongType),
  ))

  private val Types = Array("view", "view", "view", "click", "click", "search", "signup", "purchase")

  /** One trail: ~40 events with gaps up to an hour, so sessions break. */
  def trail(seed: Long, i: Long): (String, IndexedSeq[(Long, Map[String, String])]) = {
    val rng = new java.util.SplittableRandom(Workload.mix(seed, i))
    val n = 20 + rng.nextInt(41)
    var ts = 1700000000L + rng.nextLong(86400L)
    val evs = (0 until n).map { k =>
      ts += 1 + (if (rng.nextInt(8) == 0) rng.nextInt(7200) else rng.nextInt(300))
      ts -> Map("event_type" -> Types(rng.nextInt(Types.length)), "event_id" -> (i * 1000 + k).toString)
    }
    f"${Workload.mix(seed, i, 1L)}%016x" -> evs
  }
}
