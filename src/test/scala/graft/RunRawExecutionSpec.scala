package graft

import org.apache.spark.graft.QueryCapture
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec, ObjectHashAggregateExec}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.types.BinaryType
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.TrckSparkRunner
import graft.parser.TrParser
import graft.trck.Compiled

/** Execution pins for TrckSparkRunner.runRaw, beside PlanAuditSpec's plan
  * pins: what a trck query actually runs, seen through a
  * QueryExecutionListener. The emit stream is aggregated in ONE query —
  * every yield family in one pass, nothing cached — and only a program
  * that yields an HLL sketch plans an ObjectHashAggregate.
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
    assert(collect(p) { case a: BaseAggregateExec => a }.nonEmpty, "the one query must be the aggregation")
    assert(qes.head.optimizedPlan.collect { case r: InMemoryRelation => r }.isEmpty, "emit stream was cached")
    assert(collect(p) { case a: ObjectHashAggregateExec => a }.nonEmpty, "HLL merge missing")
  }

  test("a counters-only program plans a plain HashAggregate, no ObjectHashAggregate") {
    val qes = runCaptured(
      """start ->
        |    receive
        |        event_type = "buy" -> yield $buys, repeat
        |        * -> repeat
        |""")
    assert(qes.size == 1, s"expected one query, ran ${qes.size}")
    val p = qes.head.executedPlan
    val hashAggs = collect(p) { case a: HashAggregateExec => a }
    assert(hashAggs.nonEmpty)
    assert(collect(p) { case a: ObjectHashAggregateExec => a }.isEmpty)
    // no set/multiset yields, so no binary item key: a binary grouping key
    // would disable the codegen fast hash map
    assert(hashAggs.forall(_.groupingExpressions.forall(_.dataType != BinaryType)))
  }
}
