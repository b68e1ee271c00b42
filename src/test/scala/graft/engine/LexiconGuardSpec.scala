package graft.engine

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession
import graft.parser.TrParser
import graft.trck.{Compiled, LocalRunner}
import graft.trck.LocalRunner.{Db, RawEvent}

/** The implicit-foreach lexicon sweep is a (reference-sanctioned) driver
  * collect — pointing it at a high-cardinality field must fail fast with a
  * clear message instead of OOMing the driver. The bound is exact, the
  * values come out as strings in LocalRunner's order, and one sweep is one
  * Spark job.
  */
class LexiconGuardSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession =
    GraftSession.builder("4").appName("lexicon-guard").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("sweep fails fast above the configured cardinality bound") {
    val s = spark
    import s.implicits._
    val ev = (1 to 5000).map(i => (s"u${i % 10}", i.toLong, s"val$i")).toDF("uuid", "ts", "f")
    spark.conf.set(TrailEngine.MaxImplicitForeachKey, "1000")
    try {
      val e = intercept[IllegalArgumentException](TrailEngine.lexiconSweep(ev, "f"))
      assert(e.getMessage.contains("high-cardinality"))
    } finally spark.conf.unset(TrailEngine.MaxImplicitForeachKey)
  }

  test("enum-like sweeps are unaffected and sorted with nulls dropped") {
    val s = spark
    import s.implicits._
    val ev = Seq(("u1", 1L, "b"), ("u1", 2L, "a"), ("u2", 3L, null), ("u2", 4L, "b"))
      .toDF("uuid", "ts", "f")
    assert(TrailEngine.lexiconSweep(ev, "f") == Vector("a", "b"))
  }

  private def withBound[T](bound: Long)(body: => T): T = {
    spark.conf.set(TrailEngine.MaxImplicitForeachKey, bound.toString)
    try body
    finally spark.conf.unset(TrailEngine.MaxImplicitForeachKey)
  }

  test("the bound is exact: bound distinct values pass, bound + 1 fail") {
    // n distinct values, each repeated across 8 partitions, plus nulls and
    // "" that the lexicon does not count
    def frame(n: Int) = spark.range(0, 4000, 1, 8)
      .select(concat(lit("v"), (col("id") % n).cast("string")).as("f"))
      .union(spark.range(0, 100, 1, 2)
        .select(when(col("id") % 2 === 0, lit(null).cast("string")).otherwise(lit("")).as("f")))
    withBound(50) {
      assert(TrailEngine.lexiconSweep(frame(50), "f").size == 50)
      val e = intercept[IllegalArgumentException](TrailEngine.lexiconSweep(frame(51), "f"))
      assert(e.getMessage.contains("high-cardinality"))
      assert(e.getMessage.contains("'f'"))
      assert(e.getMessage.contains(TrailEngine.MaxImplicitForeachKey))
    }
  }

  test("an integer column sweeps as cast strings, sorted as strings") {
    val s = spark
    import s.implicits._
    val ev = Seq(9, 10, 2, 10, 1, 9).toDF("n")
    val got = TrailEngine.lexiconSweep(ev, "n")
    assert(got == Vector("1", "10", "2", "9"))
    assert(got.indexOf("10") < got.indexOf("9"))
  }

  test("many partitions repeating the same values give the sorted distinct set") {
    val ev = spark.range(0, 48 * 100, 1, 48)
      .select(when(col("id") % 11 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("k"), (col("id") % 7).cast("string"))).as("f"))
    assert(ev.rdd.getNumPartitions == 48)
    assert(TrailEngine.lexiconSweep(ev, "f") == (0 until 7).map(i => s"k$i").toVector)
  }

  test("unicode values come out in LocalRunner's order, not UTF-8 byte order") {
    // U+1F600 is a surrogate pair (D83D DE00) in UTF-16, so it sorts before
    // U+FF21; its UTF-8 bytes (F0 ...) sort after U+FF21's (EF ...)
    val values = Seq("\uFF21", "\uD83D\uDE00", "z", "\u00E9", "A")
    val s = spark
    import s.implicits._
    val ev = values.zipWithIndex.map { case (v, i) => ("u", i.toLong, v) }.toDF("uuid", "ts", "aeid")
    val got = TrailEngine.lexiconSweep(ev, "aeid")
    assert(got.indexOf("\uD83D\uDE00") < got.indexOf("\uFF21"))

    val prog = Compiled.compile(TrParser.parse(
      """foreach %a
        |    start ->
        |        receive
        |            aeid = %a -> yield $n, repeat
        |            * -> repeat
        |""".stripMargin))
    val db = Db(Seq("u" -> values.zipWithIndex.map { case (v, i) => RawEvent(i.toLong, Map("aeid" -> v)) }))
    val local = LocalRunner.run(prog, Seq(db)).tuples.map(_.items.head)
    assert(local == ("" +: got).map(Left(_)))
  }

  test("one sweep is one Spark job, described, in the caller's job group") {
    val starts = new ConcurrentLinkedQueue[SparkListenerJobStart]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = starts.add(e)
    }
    val sc = spark.sparkContext
    val ev = spark.range(0, 1000, 1, 6).select((col("id") % 5).cast("string").as("f"))
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("caller-group", "caller description")
      try {
        assert(TrailEngine.lexiconSweep(ev, "f") == Vector("0", "1", "2", "3", "4"))
        // the caller's description and group are back in place
        assert(sc.getLocalProperty("spark.job.description") == "caller description")
        assert(sc.getLocalProperty("spark.jobGroup.id") == "caller-group")
      } finally sc.clearJobGroup()
      // listener events arrive in order: once the marker job is seen,
      // every job the sweep started has been seen
      sc.setJobDescription("marker")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def described(d: String) =
        starts.asScala.filter(_.properties.getProperty("spark.job.description") == d).toSeq
      while (described("marker").isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      assert(described("marker").size == 1)
      val sweeps = starts.asScala.filter(_.properties.getProperty("spark.jobGroup.id") == "caller-group").toSeq
      assert(sweeps.size == 1, s"jobs: ${starts.asScala.map(_.properties).mkString("; ")}")
      assert(sweeps.head.properties.getProperty("spark.job.description") == "trck lexicon sweep: f")
    } finally sc.removeSparkListener(listener)
  }
}
