package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Graph

/** Synthetic-graph scale probe for the iterative graph family.
  *
  * The fixture host graph saturates at 23 nodes at EVERY corpus multiple
  * (hosts = doc_id % 23), so [[ScaleProbe]]'s `g_*` arms witness scan
  * growth, never graph growth — the one shape those arms cannot indict is
  * the ranks⋈edges shuffle itself under real |V|/|E| decades and real
  * skew. This probe builds those decades directly: deterministic
  * power-skewed graphs (id arithmetic, no rand — both arms and reruns see
  * identical graphs) where 20% of edges LEAVE one hub src (the rank row
  * that fans out to |E|/5 join partners — the skew AQE's skew-join split
  * must absorb), 10% land on one dst (absorbed by partial aggregation
  * before the exchange), and a third of ids collapse into parallel
  * multiplicities (w=3) so the weighted face exercises its multiplicity
  * collapse + exact div arithmetic at volume.
  *
  * Also runs [[Graph.hyperBallHarmonic]] on a binary de Bruijn graph two
  * decades past the fixture (|V|=2048, diameter exactly 11) and records
  * its returned rounds (`Graph.HyperBall.rounds`) — the early-exit must stop at
  * diameter+1 = 12 rounds, not the 16-hop ceiling, and per-node sketch
  * state is what bounds memory (2048 × 16 KiB ≈ 32 MB/round here).
  *
  * Usage: runMain graft.GraphScaleProbe [baseEdges] [mult]
  * (defaults 1_000_000 and 10; |V| = |E|/33 per arm, both scale by mult).
  * Prints ONE JSON line; writes SPARK_GRAFT_GRAPH_PROBE_OUT (default
  * /tmp/graph_probe_out.json — an untracked path, so a run never dirties
  * the commit stamp).
  */
object GraphScaleProbe {

  /** Deterministic skewed multigraph with `nE` raw links over `nV` hosts. */
  def syntheticEdges(spark: SparkSession, nV: Long, nE: Long): DataFrame =
    spark.range(nE).selectExpr(
      // ids ≡ 4,5 (mod 6) replay the ≡ 0 (mod 6) id → 1/3 of raw links
      // are parallel copies (w = 3 pairs for the weighted face)
      s"CASE WHEN id % 6 IN (4, 5) THEN id - (id % 6) ELSE id END AS eid")
      .selectExpr(
        s"CASE WHEN eid % 5 = 0 THEN CAST(0 AS BIGINT) ELSE pmod(eid * 2654435761, $nV) END AS src",
        s"CASE WHEN eid % 10 = 1 THEN CAST(1 AS BIGINT) ELSE pmod(eid * 48271 + 11, $nV) END AS dst")

  /** Binary de Bruijn graph on n = 2^b nodes: u → 2u, u → 2u+1 (mod n) —
    * b steps shift in any b-bit target, so the diameter is EXACTLY b
    * (11 at n=2048): the HyperBall convergence witness graph, two decades
    * past the fixture with a known round count.
    */
  def deBruijnEdges(spark: SparkSession, n: Long): DataFrame = {
    require((n & (n - 1)) == 0, s"de Bruijn witness needs a power-of-two size, got $n")
    spark.range(n).selectExpr(s"id AS src", s"pmod(id * 2, $n) AS dst")
      .unionByName(spark.range(n).selectExpr(s"id AS src", s"pmod(id * 2 + 1, $n) AS dst"))
  }

  def main(args: Array[String]): Unit = {
    val baseE = args.headOption.map(_.toLong).getOrElse(1000000L)
    val mult = args.lift(1).map(_.toInt).getOrElse(10)
    val spark = GraftSession.builder().appName("graph-scale-probe").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def r2(v: Double) = math.round(v * 100) / 100.0

    def arm(nE: Long): String = {
      val nV = math.max(23L, nE / 33)
      // materialize once so both faces time the ITERATIONS, not the
      // generator (parquet, like the corpus the real queries scan)
      val dir = java.nio.file.Files.createTempDirectory("graft_graph_probe").toString
      syntheticEdges(spark, nV, nE).write.mode("overwrite").parquet(s"$dir/edges.parquet")
      val links = spark.read.parquet(s"$dir/edges.parquet")
      val nDistinct = links.distinct().count()
      def time(df: => DataFrame): (Double, DataFrame) = {
        val d = df
        val t0 = System.nanoTime()
        d.write.format("noop").mode("overwrite").save()
        ((System.nanoTime() - t0) / 1e9, d)
      }
      // maxLocalVertices = 0: these arms MEASURE the distributed
      // iteration (all decades exceed the driver bound anyway — the
      // opt-out just skips the bound-probe jobs)
      val (prSec, pr) = time(Graph.pageRank(links, maxLocalVertices = 0))
      val (wSec, _) = time(Graph.pageRankWeighted(links, maxLocalVertices = 0))
      // the hub (20% of all out-edges point AT its targets via src 0 —
      // but src 0 itself should also be among the best-ranked dsts only
      // by chance; the structural invariant worth pinning is mass
      // conservation-ish sanity: positive ranks, |V| rows, and the
      // 10%-in-degree hub dst 1 at the global top)
      val top = pr.orderBy(col("rank_ppm").desc).select("host", "rank_ppm").head
      s"""{"n_vertices":$nV,"n_raw_edges":$nE,"n_distinct_edges":$nDistinct,""" +
        s""""pagerank_sec":${r2(prSec)},"weighted_sec":${r2(wSec)},""" +
        s""""iterations":5,"top_host":${top.getLong(0)},"top_rank_ppm":${top.getLong(1)}}"""
    }

    val baseJson = arm(baseE)
    val scaledJson = arm(baseE * mult)
    def f(js: String, k: String): Double =
      js.split(s""""$k":""")(1).takeWhile(c => c.isDigit || c == '.').toDouble
    val prRatio = f(scaledJson, "pagerank_sec") / math.max(f(baseJson, "pagerank_sec"), 0.001)
    val wRatio = f(scaledJson, "weighted_sec") / math.max(f(baseJson, "weighted_sec"), 0.001)

    // HyperBall convergence arm: diameter EXACTLY 11 at n=2048 — the
    // early-exit must stop at 12 rounds (11 growth + 1 saturated detect),
    // well under the 16-hop ceiling
    val sw = deBruijnEdges(spark, 2048L).localCheckpoint(true)
    val t0 = System.nanoTime()
    // maxLocalVertices = 0: this arm MEASURES the distributed round loop's
    // convergence — the small-graph driver arm would otherwise absorb the
    // 2048-node fixture
    val hb = Graph.hyperBallHarmonic(sw, maxLocalVertices = 0)
    hb.scores.write.format("noop").mode("overwrite").save()
    val hbSec = (System.nanoTime() - t0) / 1e9

    val commit =
      try scala.sys.process.Process(Seq("git", "describe", "--always", "--dirty")).!!.trim
      catch { case scala.util.control.NonFatal(_) => "unknown" }
    val json =
      s"""{"metric":"graph_scale_probe","commit":"$commit","mult":$mult,""" +
        s""""base":$baseJson,"scaled":$scaledJson,""" +
        s""""ratio":{"pagerank":${r2(prRatio)},"weighted":${r2(wRatio)}},""" +
        s""""hyperball":{"n_vertices":2048,"diameter":11,"max_hops":16,"rounds":${hb.rounds},"sec":${r2(hbSec)}}}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_GRAPH_PROBE_OUT", "/tmp/graph_probe_out.json")
    try {
      val w = new java.io.PrintWriter(outPath, "UTF-8")
      try w.println(json) finally w.close()
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graph-probe] could not write $outPath: $e")
    }
    println(json)
    spark.stop()
  }
}
