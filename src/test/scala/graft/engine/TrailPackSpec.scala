package graft.engine

import org.apache.spark.graft.QueryCapture
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession
import graft.parser.TrParser
import graft.trck._
import graft.trck.LocalRunner.{Db, ForeachTuple, RawEvent}

/** The packed trail exchange: map tasks ship each trail's rows as
  * `(__uuid, __rows)` fragments, and `TrailMatch` reads consecutive
  * same-uuid fragments as one trail and orders its rows itself. Every
  * case is checked against LocalRunner, which reads each trail's events
  * in the order given.
  */
class TrailPackSpec extends AnyFunSuite with BeforeAndAfterAll with AdaptiveSparkPlanHelper {

  private lazy val spark: SparkSession =
    GraftSession.builder("4").appName("trail-pack").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def compile(text: String) = Compiled.compile(TrParser.parse(text.stripMargin))

  /** foreach, a window with an after-yield, counter and set yields */
  private val funnel = compile(
    """foreach %a in @arr
      |    start ->
      |        receive
      |            type = "cli", aeid = %a -> seen
      |            * -> repeat
      |    seen ->
      |        window
      |            conv ->
      |                receive
      |                    type = "ct2" -> yield $conv, yield type to &types, repeat
      |                    * -> repeat
      |        after 900s -> yield $expired, start
      |""")
  private val aeids = Vector("a1", "a2", "a3")
  private val tuples = aeids.map(a => ForeachTuple(Vector(Left(a))))

  private val columns = Seq("type", "aeid", "note")
  private val schema = StructType(
    Seq(StructField("uuid", StringType), StructField("ts", LongType), StructField("seq", LongType)) ++
      columns.map(StructField(_, StringType)))

  /** One row per event; `seq` is the event's index in its trail, so it
    * pins LocalRunner's order among equal timestamps when used as the
    * tiebreak. A field absent from an event is null.
    */
  private def toDf(db: Db): DataFrame = {
    val rows = db.trails.flatMap { case (uuid, evs) =>
      evs.zipWithIndex.map { case (e, i) =>
        Row.fromSeq(Seq(uuid, e.ts, i.toLong) ++ columns.map(e.fields.get(_).orNull))
      }
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
  }

  private def randomDb(seed: Long, nTrails: Int, nEvents: Int, note: Int => String = _ => "n",
                       step: Int = 400): Db = {
    val rnd = new scala.util.Random(seed)
    val types = Vector("cli", "imp", "ct2")
    Db((0 until nTrails).map { u =>
      var ts = 0L
      s"user$u" -> (0 until nEvents).map { i =>
        ts += rnd.nextInt(step).toLong // equal timestamps included
        // seq is a column of the frame, so it joins the duplicate compare
        RawEvent(ts, Map("type" -> types(rnd.nextInt(types.length)),
          "aeid" -> aeids(rnd.nextInt(aeids.length)), "note" -> note(i), "seq" -> i.toString))
      }
    })
  }

  private def local(prog: Compiled.CompiledProgram, dbs: Seq[Db], ts: Vector[ForeachTuple] = tuples) =
    LocalRunner.run(prog, dbs, foreachTuples = Some(ts)).toOutputs.map(_.toMap)

  private def spark(prog: Compiled.CompiledProgram, em: DataFrame, ts: Vector[ForeachTuple] = tuples) =
    TrckSparkRunner.aggregateEmits(prog, ts, em).toOutputs.map(_.toMap)

  private def emits(prog: Compiled.CompiledProgram, df: DataFrame, tiebreak: Seq[String] = Seq("seq"),
                    ts: Vector[ForeachTuple] = tuples) =
    TrailEngine.emits(prog, df, "uuid", "ts", tiebreak, foreachTuples = Some(ts))

  /** Run `em` and read its TrailMatch metrics by name. */
  private def matchMetrics(em: DataFrame): Map[String, Long] = {
    em.collect()
    val nodes = collect(em.queryExecution.executedPlan) { case m: TrailMatchExec => m }
    assert(nodes.size == 1, em.queryExecution.executedPlan.toString)
    nodes.head.metrics.map { case (k, v) => k -> v.value }
  }

  test("one map task holding more than the pack budget splits its trails across flushes") {
    // ~300-byte rows, every trail's events interleaved: each flush holds
    // part of every trail
    val pad = "x" * 200
    val db = randomDb(1L, nTrails = 60, nEvents = 400, note = i => s"$pad$i")
    val rows = (0 until 400).flatMap(i => db.trails.map { case (u, evs) =>
      val e = evs(i)
      Row.fromSeq(Seq(u, e.ts, i.toLong) ++ columns.map(e.fields.get(_).orNull))
    })
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val em = emits(funnel, df)
    val m = matchMetrics(em)
    assert(m("trails") == 60)
    assert(m("fragments") > m("trails"), s"every trail should straddle a flush: $m")
    assert(m("eventsIn") == 60 * 400)
    assert(spark(funnel, em) == local(funnel, Seq(db)))
  }

  test("round-robin over 8 partitions with each trail's rows shuffled equals LocalRunner") {
    // one event in three shares its predecessor's timestamp: the seq
    // tiebreak decides their order
    val db = randomDb(2L, nTrails = 40, nEvents = 60, step = 3)
    val df = toDf(db).orderBy(rand(7L)).repartition(8)
    assert(df.rdd.getNumPartitions == 8)
    assert(spark(funnel, emits(funnel, df)) == local(funnel, Seq(db)))
  }

  test("a frame that is not uuid-clustered, run as a prepared layout, equals LocalRunner") {
    // runRaw ignores `prepared`: a round-robin frame splits each trail
    // across partitions, so the plan must exchange it, or each piece
    // would be matched as a trail of its own
    val db = randomDb(8L, nTrails = 30, nEvents = 40)
    val df = toDf(db).repartition(4)
    val got = TrckSparkRunner.runRaw(funnel, df, "uuid", "ts", Seq("seq"), foreachTuples = Some(tuples),
      prepared = true)
    assert(got.toOutputs.map(_.toMap) == local(funnel, Seq(db)))
  }

  test("a prepared layout with uuids contiguous but each trail's rows scrambled equals LocalRunner") {
    val db = randomDb(3L, nTrails = 30, nEvents = 50)
    val scrambled = toDf(db).repartition(4, col("uuid")).sortWithinPartitions(col("uuid"), rand(11L))
    val em = emits(funnel, scrambled)
    assert(spark(funnel, em) == local(funnel, Seq(db)))
    assert(matchMetrics(em)("trails") == 30)
  }

  test("equal timestamps order a null tiebreak first, as the per-partition sort did") {
    val prog = compile(
      """start ->
        |    receive
        |        type = "a" -> seen
        |        * -> repeat
        |seen ->
        |    receive
        |        type = "b" -> yield $ab, repeat
        |        * -> repeat
        |""")
    val tbSchema = StructType(Seq(StructField("uuid", StringType), StructField("ts", LongType),
      StructField("tb", LongType), StructField("type", StringType)))
    // u1: a has the null tiebreak, so a comes first and both b count;
    // u2: a has the larger tiebreak, so only the later b counts. The
    // tiebreak is a column too, so it joins the duplicate compare.
    val rows = Seq(
      Row("u1", 10L, 2L, "b"), Row("u1", 10L, null, "a"), Row("u1", 10L, 1L, "b"),
      Row("u2", 10L, 2L, "a"), Row("u2", 10L, 1L, "b"), Row("u2", 20L, null, "b"))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), tbSchema)
    def ev(ts: Long, tpe: String, tb: String) = RawEvent(ts, Map("type" -> tpe, "tb" -> tb))
    val db = Db(Seq(
      "u1" -> Seq(ev(10, "a", ""), ev(10, "b", "1"), ev(10, "b", "2")),
      "u2" -> Seq(ev(10, "b", "1"), ev(10, "a", "2"), ev(20, "b", ""))))
    val one = Vector(ForeachTuple(Vector.empty))
    val got = spark(prog, emits(prog, df, Seq("tb"), one), one)
    assert(got == local(prog, Seq(db), one))
    assert(got.head("$ab") == 3L)
  }

  test("null and \"\" are equal in the duplicate compare") {
    val prog = compile(
      """start ->
        |    receive
        |        * -> yield $n, repeat
        |""")
    val one = Vector(ForeachTuple(Vector.empty))
    val rows = Seq(
      Row("u1", 5L, 0L, "imp", null, "k"), Row("u1", 5L, 1L, "imp", "", "k"), // one event
      Row("u1", 6L, 2L, "imp", "", null), Row("u1", 6L, 3L, "imp", "", ""), // one event
      Row("u1", 7L, 4L, "imp", "x", null), Row("u1", 7L, 5L, "imp", "", null)) // two events
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema).drop("seq")
    val db = Db(Seq("u1" -> Seq(
      RawEvent(5, Map("type" -> "imp", "note" -> "k")), RawEvent(5, Map("type" -> "imp", "aeid" -> "", "note" -> "k")),
      RawEvent(6, Map("type" -> "imp", "aeid" -> "")), RawEvent(6, Map("type" -> "imp", "aeid" -> "", "note" -> "")),
      RawEvent(7, Map("type" -> "imp", "aeid" -> "x")), RawEvent(7, Map("type" -> "imp", "aeid" -> "")))))
    val em = emits(prog, df, Nil, one)
    val got = spark(prog, em, one)
    assert(got == local(prog, Seq(db), one))
    assert(got.head("$n") == 4L)
    val m = matchMetrics(em)
    assert(m("eventsIn") == 6 && m("eventsKept") == 4, m.toString)
  }

  test("ghost rows and two sources with cuts equal LocalRunner, prepared or not") {
    // the entrypoint enters window blocks, so a trail whose events all
    // fall below its source's cut still finalizes: its ghost row keeps it
    val prog = compile(
      """foreach %a in @arr
        |    start ->
        |        window
        |            mid ->
        |                window
        |                    inner ->
        |                        receive
        |                            type = "cli", aeid = %a -> yield $clicks, quit
        |                            * -> repeat
        |                after 100s -> yield $midexp, quit
        |        after 300s -> yield $outerexp, quit
        |""")
    val db1 = randomDb(4L, nTrails = 12, nEvents = 30)
    val maxTs1 = db1.trails.flatMap(_._2.map(_.ts)).max
    // user12 and user13 are only in DB 2, and like user0 and user1 there
    // they lie wholly below the cut; the rest straddle it
    val below = Set(0, 1, 12, 13)
    val db2 = Db(randomDb(5L, nTrails = 14, nEvents = 30).trails.zipWithIndex.map { case ((u, evs), i) =>
      u -> evs.map(e => e.copy(ts = if (below(i)) e.ts / 100 else e.ts / 4 + maxTs1 - 1500L))
    })
    val want = local(prog, Seq(db1, db2))
    // non-vacuous: the cut-away trails found only in DB 2 change the result
    val withoutGhosts = Db(db2.trails.filterNot { case (u, _) => u == "user12" || u == "user13" })
    assert(local(prog, Seq(db1, withoutGhosts)) != want)
    val (events, cuts) = TrckSparkRunner.unionSources(Seq(toDf(db1), toDf(db2)), "ts")
    assert(cuts.toSeq == Seq(0L, maxTs1))
    val cold = TrckSparkRunner.runRaw(prog, events, "uuid", "ts", Seq("seq"),
      foreachTuples = Some(tuples), srcCuts = cuts).toOutputs.map(_.toMap)
    assert(cold == want)
    val layout = TrailEngine.prepare(events, "uuid", "ts", Seq("seq"))
    val prepared = TrckSparkRunner.runRaw(prog, layout, "uuid", "ts", Seq("seq"),
      foreachTuples = Some(tuples), srcCuts = cuts).toOutputs.map(_.toMap)
    assert(prepared == want)
  }

  /** Order-sensitive: counts b after a, and yields each such b's timestamp
    * and seq (the events' order decides both).
    */
  private val ordered = {
    def clause(tpe: Option[String], action: String, yields: List[Ir.Yield] = Nil) =
      Ir.Clause(tpe.map(t => Map("type" -> List(t))).getOrElse(Map.empty), negated = false, Some(action), yields)
    Compiled.compile(Ir.Program(Vector(
      Ir.Rule(Some("start"), None, None, entrypoint = false,
        List(clause(Some("a"), "break"), clause(None, "repeat")), None),
      Ir.Rule(Some("seen"), None, None, entrypoint = false,
        List(clause(Some("b"), "repeat", List(Ir.Yield("$ab", Nil),
          Ir.Yield("#bs", List(Ir.FieldTerm("timestamp"), Ir.FieldTerm("seq"))))),
          clause(Some("a"), "repeat"), clause(None, "restart-from-next(0)")), None)), None))
  }
  private val one = Vector(ForeachTuple(Vector.empty))

  /** Rows of `db` with its events' `seq` column; `type` and `seq` only. */
  private def seqRows(db: Db): Seq[Row] = db.trails.flatMap { case (u, evs) =>
    evs.map(e => Row(u, e.ts, e.fields("seq").toLong, e.fields("type")))
  }
  private val seqSchema = StructType(Seq(StructField("uuid", StringType), StructField("ts", LongType),
    StructField("seq", LongType), StructField("type", StringType)))

  test("extreme and negative timestamps and equal timestamps under a tiebreak order as LocalRunner reads them") {
    // the largest event timestamp: Compiled.MaxTimestamp is the end of
    // every trail (StallGuardSpec)
    val tss = Vector(Long.MinValue + 1, -86400L, -1L, 0L, 1L, 7L, Long.MaxValue - 3, Long.MaxValue - 2)
    val rnd = new scala.util.Random(12L)
    // each trail's events in (ts, seq) order, as LocalRunner reads them
    val db = Db((0 until 30).map { u =>
      val evs = Vector.fill(24)(tss(rnd.nextInt(tss.length))).sorted.zipWithIndex.map { case (ts, i) =>
        RawEvent(ts, Map("type" -> Vector("a", "b", "c")(rnd.nextInt(3)), "seq" -> i.toString))
      }
      s"t$u" -> evs
    })
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rnd.shuffle(seqRows(db)), 5), seqSchema)
    val got = spark(ordered, emits(ordered, df, Seq("seq"), one), one)
    assert(got == local(ordered, Seq(db), one))
    assert(got.head("$ab").asInstanceOf[Long] > 0L)
  }

  test("without a tiebreak, rows with equal timestamps keep their input order, in order or not") {
    // one partition: one map task packs each trail into one fragment in
    // input order, so the rows TrailMatch reads are in the input's order
    val rnd = new scala.util.Random(13L)
    val db = Db((0 until 20).map { u =>
      var ts = -50L
      s"t$u" -> (0 until 30).map { i =>
        ts += rnd.nextInt(3) // one event in three shares its predecessor's ts
        RawEvent(ts, Map("type" -> Vector("a", "b", "c")(rnd.nextInt(3)), "seq" -> i.toString))
      }
    })
    val df = spark.createDataFrame(spark.sparkContext.parallelize(seqRows(db), 1), seqSchema)
    val want = local(ordered, Seq(db), one)
    assert(spark(ordered, emits(ordered, df, Nil, one), one) == want)
    // the same rows reversed within each equal ts read in reverse, so only
    // the tiebreak restores LocalRunner's order
    val reversed = Db(db.trails.map { case (u, evs) =>
      u -> evs.groupBy(_.ts).toSeq.sortBy(_._1).flatMap(_._2.reverse)
    })
    val rdf = spark.createDataFrame(spark.sparkContext.parallelize(seqRows(reversed), 1), seqSchema)
    assert(spark(ordered, emits(ordered, rdf, Nil, one), one) == local(ordered, Seq(reversed), one))
    assert(spark(ordered, emits(ordered, rdf, Seq("seq"), one), one) == want)
    // each trail's rows shuffled: equal timestamps from different ascending
    // runs of the input keep the input's order (a stable sort by ts)
    val shuffled = Db(db.trails.map { case (u, evs) => u -> rnd.shuffle(evs) })
    val sdf = spark.createDataFrame(spark.sparkContext.parallelize(seqRows(shuffled), 1), seqSchema)
    val stable = Db(shuffled.trails.map { case (u, evs) => u -> evs.sortBy(_.ts) })
    assert(spark(ordered, emits(ordered, sdf, Nil, one), one) == local(ordered, Seq(stable), one))
  }

  test("equal timestamps in two sources order by source") {
    // DB 1 ends at ts 100; DB 2's events at 100 are kept (at the cut) and
    // read after DB 1's
    def ev(ts: Long, tpe: String, seq: Int) = RawEvent(ts, Map("type" -> tpe, "seq" -> seq.toString))
    val db1 = Db(Seq("u1" -> Seq(ev(90, "c", 0), ev(100, "a", 1)), "u2" -> Seq(ev(100, "b", 0), ev(100, "a", 1))))
    val db2 = Db(Seq("u1" -> Seq(ev(100, "b", 0), ev(100, "b", 1), ev(120, "b", 2)),
      "u2" -> Seq(ev(100, "b", 0), ev(100, "c", 1))))
    val want = local(ordered, Seq(db1, db2), one)
    assert(want.head("$ab") == 4L)
    val (events, cuts) = TrckSparkRunner.unionSources(Seq(db1, db2).map(db =>
      spark.createDataFrame(spark.sparkContext.parallelize(seqRows(db).reverse, 2), seqSchema)), "ts")
    assert(cuts.toSeq == Seq(0L, 100L))
    val got = TrckSparkRunner.runRaw(ordered, events, "uuid", "ts", Seq("seq"), srcCuts = cuts)
    assert(got.toOutputs.map(_.toMap) == want)
    // no tiebreak, and DB 2's rows before DB 1's in one map task's input
    // (each DB's rows in their order): only the source key puts DB 1 first
    val db2First = events.orderBy(col("__src").desc, col("seq")).coalesce(1)
    val got2 = TrckSparkRunner.runRaw(ordered, db2First, "uuid", "ts", Nil, srcCuts = cuts)
    assert(got2.toOutputs.map(_.toMap) == want)
  }

  /** perftest1's program: an implicit foreach over advertisable_eid */
  private val perftest1 = compile(
    """foreach %aeid
      |    start ->
      |        receive
      |            advertisable_eid = %aeid -> yield $r, repeat
      |            * -> repeat
      |""")

  /** 120 perftest1-shaped trails of two DBs x 100 events in 8 partitions;
    * trail c cycles through (c + 1) % 100 + 1 values of advertisable_eid
    */
  private def perftest1Df: DataFrame = {
    val rows = for (c <- 0 until 120; db <- 0 until 2; j <- 0 until 100)
      yield Row(c.toString, 1000000L + db * 100000L + j, (j % ((c + 1) % 100 + 1)).toString)
    val ptSchema = StructType(Seq(StructField("uuid", StringType), StructField("ts", LongType),
      StructField("advertisable_eid", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 8), ptSchema)
  }

  test("the event steps metric stays within 2 steps per kept event on perftest1-shaped input, 4 tasks") {
    val df = perftest1Df
    val layout = df.repartition(4, col("uuid"))
    assert(layout.rdd.getNumPartitions == 4)
    for (frame <- Seq(df, layout)) {
      val m = matchMetrics(TrailEngine.emits(perftest1, frame, "uuid", "ts"))
      assert(m("eventsKept") == 120 * 200, m.toString)
      assert(m("eventSteps") > 0 && m("eventSteps") <= 2 * m("eventsKept"), m.toString)
    }
    val em = TrailEngine.emits(perftest1, layout, "uuid", "ts")
    em.collect()
    val node = collect(em.queryExecution.executedPlan) { case m: TrailMatchExec => m }.head
    assert(node.execute().getNumPartitions == 4, "TrailMatch runs one task per layout partition")
  }

  test("runRaw's event steps stay within 2 per kept event and do not grow from 101 to 10k tuples") {
    // the distributed form of MatchCallBoundSpec's bound, read from the
    // one query runRaw runs: 4 TrailMatch tasks, whose folded results the
    // driver merges
    val df = perftest1Df.repartition(4, col("uuid"))
    val lexicon = (0 until 100).map(_.toString)
    val steps = for (extra <- Seq(Nil, (0 until 9899).map(i => s"absent$i"))) yield {
      val tuples = ("" +: (lexicon ++ extra).sorted).map(v => ForeachTuple(Vector(Left(v)))).toVector
      val (out, qes) = QueryCapture(spark)(
        TrckSparkRunner.runRaw(perftest1, df, "uuid", "ts", foreachTuples = Some(tuples)))
      assert(qes.size == 1, s"expected one query, ran ${qes.size}")
      val nodes = collect(qes.head.executedPlan) { case m: TrailMatchExec => m }
      assert(nodes.size == 1, qes.head.executedPlan.toString)
      assert(nodes.head.execute().getNumPartitions == 4)
      val m = nodes.head.metrics.map { case (k, v) => k -> v.value }
      assert(m("eventsKept") == 120 * 200, m.toString)
      assert(m("eventSteps") > 0 && m("eventSteps") <= 2 * m("eventsKept"), m.toString)
      // every event yields $r for the tuple of its own value
      assert(out.results.map(_.counters("r")).sum == 120 * 200)
      m("eventSteps")
    }
    assert(steps(0) == steps(1), "10k tuples must cost the 101-tuple input's steps")
  }

  test("one exchange feeds TrailMatch, and on trail-contiguous input it ships fewer rows than events") {
    val db = randomDb(6L, nTrails = 50, nEvents = 80)
    // each trail's rows contiguous within one of 4 partitions, cached so
    // the plan under test holds no exchange of its input's own; clustered
    // by a hash of uuid, which is not the uuid partitioning TrailMatch
    // requires, so the plan still exchanges
    val df = toDf(db).repartition(4, hash(col("uuid"))).sortWithinPartitions("uuid", "seq").persist()
    df.count()
    val em = emits(funnel, df)
    em.collect()
    val matches = collect(em.queryExecution.executedPlan) { case m: TrailMatchExec => m }
    assert(matches.size == 1)
    val exchanges = collect(matches.head) { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1, matches.head.toString)
    assert(collect(exchanges.head) { case p: TrailPackExec => p }.size == 1,
      "the exchange carries packed fragments")
    val written = exchanges.head.metrics("shuffleRecordsWritten").value
    assert(written > 0 && written < 50 * 80, s"$written rows shuffled for ${50 * 80} events")
    assert(written <= 50 * 4, s"at most one fragment per (trail × map task): $written")
    df.unpersist()
  }
}
