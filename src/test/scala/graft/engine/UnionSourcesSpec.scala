package graft.engine

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** `TrckSparkRunner.unionSources`: `cuts(i)` is source i-1's max
  * timestamp, floored at 0, and 0 for an empty or all-null source
  * (reference: src/match_traildb.c:804, LocalRunner's foldLeft(0L)(max)).
  * The last source's max is never read, so it is never computed.
  */
class UnionSourcesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession =
    GraftSession.builder("4").appName("union-sources").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def src(ts: Option[Long]*): DataFrame = {
    val s = spark
    import s.implicits._
    ts.zipWithIndex.map { case (t, i) => (s"u$i", t, "x") }.toDF("uuid", "ts", "f")
  }

  private def perSource(df: DataFrame): Map[Int, Long] =
    df.groupBy("__src").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  test("three sources: hand-computed cuts, negative maxes floor at 0, empty and all-null sources read 0") {
    val high = src(Some(100L), Some(500L), None, Some(-7L))
    val negative = src(Some(-30L), Some(-5L))
    val (df, cuts) = TrckSparkRunner.unionSources(Seq(high, negative, src(Some(1L))), "ts")
    assert(cuts.toSeq == Seq(0L, 500L, 0L))
    assert(perSource(df) == Map(0 -> 4L, 1 -> 2L, 2 -> 1L))

    val empty = src()
    val allNull = src(None, None)
    val (df2, cuts2) = TrckSparkRunner.unionSources(Seq(empty, src(Some(42L), None), src(Some(3L))), "ts")
    assert(cuts2.toSeq == Seq(0L, 0L, 42L))
    assert(perSource(df2) == Map(1 -> 2L, 2 -> 1L))
    val (_, cuts3) = TrckSparkRunner.unionSources(Seq(allNull, src(Some(9L)), empty), "ts")
    assert(cuts3.toSeq == Seq(0L, 0L, 9L))
  }

  test("the last source is never evaluated") {
    val boom = udf { (i: Long) =>
      if (i >= 0) throw new IllegalStateException("last source evaluated")
      i
    }
    val last = spark.range(0, 10, 1, 2)
      .select(concat(lit("u"), col("id").cast("string")).as("uuid"), boom(col("id")).as("ts"),
        lit("x").as("f"))
    // sanity: reading the last source does throw
    intercept[Exception](last.collect())
    val (_, cuts) = TrckSparkRunner.unionSources(Seq(src(Some(7L)), src(Some(3L), Some(11L)), last), "ts")
    assert(cuts.toSeq == Seq(0L, 7L, 11L))
  }

  test("the cuts are one Spark job") {
    val starts = new ConcurrentLinkedQueue[SparkListenerJobStart]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = starts.add(e)
    }
    val sc = spark.sparkContext
    val sources = Seq(src(Some(5L), Some(8L)), src(Some(2L)), src(None), src(Some(1L)))
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("union-group", "caller description")
      val (_, cuts) =
        try TrckSparkRunner.unionSources(sources, "ts")
        finally sc.clearJobGroup()
      assert(cuts.toSeq == Seq(0L, 8L, 2L, 0L))
      // listener events arrive in order: once the marker job is seen,
      // every job unionSources started has been seen
      sc.setJobDescription("marker")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def described(d: String) =
        starts.asScala.filter(_.properties.getProperty("spark.job.description") == d).toSeq
      while (described("marker").isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      assert(described("marker").size == 1)
      val jobs = starts.asScala.filter(_.properties.getProperty("spark.jobGroup.id") == "union-group").toSeq
      assert(jobs.size == 1, s"jobs: ${starts.asScala.map(_.properties).mkString("; ")}")
    } finally sc.removeSparkListener(listener)
  }
}
