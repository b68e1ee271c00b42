package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `graft.Bench`'s contract on the sf0.001 corpus: one JSON object with
  * per-query min/median/q1/q3 whose medians sum to `value`; unknown query
  * names fail before anything runs; a failing query is recorded, not
  * timed; `mult > 1` replicates the trail tables and links the rest.
  */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession =
    GraftSession.builder("4").appName("bench-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def bench(args: String*) = {
    val line = Bench.run(spark, Bench.parse(args))
    assert(!line.contains('\n'), line)
    new ObjectMapper().readTree(line)
  }

  test("two queries, two reps: one JSON object, medians sum to value") {
    val names = Seq("m1_fsm_count", "g2_fsm_implicit_foreach")
    val js = bench(dir, "1", "2", names.mkString(","))
    assert(js.isObject && js.get("reps").asInt == 2 && js.get("n_failed").asInt == 0, js)
    val qs = js.get("queries")
    assert(qs.fieldNames.asScala.toSeq == names, js)
    for (n <- names) {
      val q = qs.get(n)
      val Seq(mn, q1, med, q3) = Seq("min", "q1", "median", "q3").map(k => q.get(k).asDouble)
      assert(mn > 0 && mn <= q1 && q1 <= med && med <= q3, q)
      assert(q.get("stages").asLong > 0 && q.get("tasks").asLong > 0, q)
    }
    val sum = names.map(n => qs.get(n).get("median").asDouble).sum
    assert(math.abs(js.get("value").asDouble - sum) < 1e-9, js)
  }

  test("an unknown query name throws before any run") {
    val e = intercept[IllegalArgumentException](Bench.parse(Seq(dir, "1", "2", "m1_fsm_count,no_such_q")))
    assert(e.getMessage.contains("no_such_q"))
    intercept[IllegalArgumentException](Bench.parse(Seq(dir, "0")))
  }

  test("mult 2 doubles the trail tables and links the rest") {
    val js = bench(dir, "2", "1", "m1_fsm_count,q5_join_broadcast")
    assert(js.get("n_failed").asInt == 0, js)
    def clicks(d: String) = SparkEntry.queries("m1_fsm_count")(spark, d).head.getLong(0)
    assert(clicks(Bench.ScaledDir) == 2 * clicks(dir))
    assert(Files.isSymbolicLink(Paths.get(Bench.ScaledDir, "lineitem.parquet")))
  }

  test("a failing query records its error, is never timed and adds nothing to value") {
    val partial = Files.createTempDirectory("graft-bench-spec")
    Files.createSymbolicLink(partial.resolve("events.parquet"), Paths.get(dir, "events.parquet"))
    val js = bench(partial.toString, "1", "2", "m1_fsm_count,d_exact_dup")
    assert(js.get("n_failed").asInt == 1, js)
    val bad = js.get("queries").get("d_exact_dup")
    assert(bad.has("error") && !bad.has("min") && !bad.has("median"), bad)
    assert(js.get("value").asDouble == js.get("queries").get("m1_fsm_count").get("median").asDouble, js)
  }
}
