package graft

import org.apache.spark.graft.QueryCapture
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.UnionExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{TrailMatchExec, TrckSparkRunner}
import graft.parser.TrParser
import graft.trck.{Compiled, LocalRunner}

/** Execution pins for TrckSparkRunner.runRaw, beside PlanAuditSpec's plan
  * pins: what a trck query actually runs, seen through a
  * QueryExecutionListener. A run is ONE query — the trail exchange and
  * TrailMatch, whose tasks fold their emit rows into results that the
  * driver merges — with no aggregate, no second exchange and nothing
  * cached, for every yield family. A run whose trail presence is
  * observable keeps its filtered-out rows as `__ghost` rows, so it plans
  * no presence pass of its own.
  */
class RunRawExecutionSpec extends AnyFunSuite with BeforeAndAfterAll with AdaptiveSparkPlanHelper {

  private lazy val spark: SparkSession =
    GraftSession.builder("2").appName("run-raw-execution").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def events = {
    val s = spark
    import s.implicits._
    (0 until 200).map { i =>
      (s"u${i % 20}", i.toLong, if (i % 3 == 0) "buy" else "view", s"c${i % 5}", s"p${i % 7}", s"s${i % 40}")
    }.toDF("uuid", "ts", "event_type", "country", "product", "sku")
  }

  private def runCaptured(text: String) = {
    val prog = Compiled.compile(TrParser.parse(text.stripMargin))
    val df = events
    QueryCapture(spark)(TrckSparkRunner.runRaw(prog, df, "uuid", "ts"))._2
  }

  test("runRaw aggregates counter, set, multiset and HLL yields in one query, uncached") {
    val qes = runCaptured(
      """start ->
        |    receive
        |        event_type = "buy" -> yield $buys, yield country to #countries, yield product to &products, yield sku to ^skus, repeat
        |        * -> repeat
        |""")
    assert(qes.size == 1, s"expected one query, ran ${qes.size}")
    val p = qes.head.executedPlan
    assert(collect(p) { case m: TrailMatchExec => m }.size == 1, s"$p")
    assert(collect(p) { case a: BaseAggregateExec => a }.isEmpty, s"results are folded per task, not aggregated:\n$p")
    assert(collect(p) { case e: ShuffleExchangeExec => e }.size == 1, s"the trail exchange only:\n$p")
    assert(qes.head.optimizedPlan.collect { case r: InMemoryRelation => r }.isEmpty, "emit stream was cached")
  }

  test("a presence-observable runRaw under a window file or CNF plans no Union and no aggregate below the trail exchange") {
    // the entrypoint enters a window block: an empty run is observable
    val prog = Compiled.compile(TrParser.parse(
      """start ->
        |    window
        |        mid ->
        |            window
        |                inner ->
        |                    receive
        |                        event_type = "buy" -> yield $buys, quit
        |                        * -> repeat
        |            after 1d -> yield $idle, quit
        |    after 2d -> yield $closed, quit
        |""".stripMargin))
    val df = events
    val ws = LocalRunner.WindowSet((0 until 10).map(u => LocalRunner.WindowEntry(s"u$u", s"u$u", 50L, 150L)))
    val cnf = TrckSparkRunner.cnfColumn(Seq(Seq(("country", "c1", true))), df)
    for (filters <- Seq(TrckSparkRunner.EngineFilters(windows = Some(ws)), TrckSparkRunner.EngineFilters(cnf = cnf))) {
      val qes = QueryCapture(spark)(TrckSparkRunner.runRaw(prog, df, "uuid", "ts", filters = filters))._2
      assert(qes.size == 1, s"expected one query, ran ${qes.size}")
      val p = qes.head.executedPlan
      assert(collect(p) { case u: UnionExec => u }.isEmpty, s"presence union planned:\n$p")
      val matches = collect(p) { case m: TrailMatchExec => m }
      assert(matches.size == 1)
      assert(collect(matches.head) { case a: BaseAggregateExec => a }.isEmpty, s"aggregate below the trail exchange:\n$p")
      // the trail exchange, nothing else
      assert(collect(p) { case e: ShuffleExchangeExec => e }.size == 1, s"$p")
    }
  }
}
