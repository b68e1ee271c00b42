package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, Tables}

/** PageRank / degree-stats properties: hand-computed integer exactness on
  * a 3-node graph (the arithmetic contract the staged-CTE oracle
  * replays), fixture-arm liveness on the real documents table (hub,
  * dangling, teleport-only hosts), rank-mass bounds under the sink-loss
  * variant, partition invariance, and seeded-face mass locality
  * (unreachable non-seeds stay at exactly zero).
  */
class GraphSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession =
    GraftSession.builder("4").appName("graph-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val sfDir = "/root/testdata/sf0.001"

  private def edgesOf(rows: (Long, Long)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("src", "dst")
  }

  private def ranksOf(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("hand graph: one iteration is integer-exact") {
    // a->b, a->c, b->a; outdeg a=2, b=1; c dangling.
    // r0 = 1e6 each. contrib(a) = 1e6 div 1; contrib(b) = contrib(c) = 1e6 div 2.
    // r1 = 150000 + (85 * contrib) div 100:
    //   a: 150000 + 850000 = 1000000; b, c: 150000 + 425000 = 575000
    val e = edgesOf(0L -> 1L, 0L -> 2L, 1L -> 0L)
    val r1 = ranksOf(Graph.pageRank(e, iters = 1))
    assert(r1 == Map(0L -> 1000000L, 1L -> 575000L, 2L -> 575000L), s"got $r1")
    // second iteration: contrib(a) = r1(b) div 1 = 575000 ->
    //   a: 150000 + (85*575000) div 100 = 150000 + 488750 = 638750
    //   b = c: 150000 + (85*(1000000 div 2)) div 100 = 575000
    val r2 = ranksOf(Graph.pageRank(e, iters = 2))
    assert(r2 == Map(0L -> 638750L, 1L -> 575000L, 2L -> 575000L), s"got $r2")
  }

  test("weighted face: multiplicities split shares exactly; reduces to uniform at w=1") {
    // a->b twice, a->c once, b->a once. W(a)=3, W(b)=1.
    // share(a->b) = (1e6 * 2) div 3 = 666666; share(a->c) = 333333;
    // share(b->a) = 1e6.
    // r1: a = 150000 + 850000 = 1000000
    //     b = 150000 + (85*666666) div 100 = 150000 + 566666 = 716666
    //     c = 150000 + (85*333333) div 100 = 150000 + 283333 = 433333
    val w = edgesOf(0L -> 1L, 0L -> 1L, 0L -> 2L, 1L -> 0L)
    val r1 = ranksOf(Graph.pageRankWeighted(w, iters = 1))
    assert(r1 == Map(0L -> 1000000L, 1L -> 716666L, 2L -> 433333L), s"got $r1")
    // all multiplicities 1 -> identical to the uniform face
    val single = edgesOf(0L -> 1L, 0L -> 2L, 1L -> 0L)
    assert(ranksOf(Graph.pageRankWeighted(single)) == ranksOf(Graph.pageRank(single)))
  }

  test("HyperBall early-exit is bit-identical to a longer ceiling; rounds = diameter+1") {
    // path 0→1→2→3 plus 3→0 back-edge: strongly connected, diameter 3.
    // maxLocalVertices = 0 keeps this on the DISTRIBUTED loop — the
    // small-graph arm has its own equivalence test below.
    val e = edgesOf(0L -> 1L, 1L -> 2L, 2L -> 3L, 3L -> 0L)
    def run(maxHops: Int): (Map[Long, Double], Int) = {
      val hb = Graph.hyperBallHarmonic(e, maxHops = maxHops, maxLocalVertices = 0)
      (hb.scores.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap, hb.rounds)
    }
    val (atCeil4, r4) = run(4)
    val (atCeil16, r16) = run(16)
    // skipped rounds contribute exactly zero delta (the estimate is a pure
    // function of the registers), so the two ceilings agree bit-for-bit
    assert(atCeil4 == atCeil16, s"$atCeil4 vs $atCeil16")
    assert(r4 == 4 && r16 == 4, s"rounds: $r4 / $r16 (diameter 3 -> 4 rounds)")
  }

  test("HyperBall small-graph arm is bit-identical to the distributed loop") {
    // same contract under the local bound (the Dedup union-find
    // precedent): identical DOUBLES, not just close ones, on the cycle
    // fixture AND the real 23-host link graph — every step is a pure
    // function of the registers, so the driver replay must agree exactly,
    // including the rounds witness
    for (e <- Seq(
        edgesOf(0L -> 1L, 1L -> 2L, 2L -> 3L, 3L -> 0L),
        Graph.syntheticLinks(Tables(spark, sfDir, "documents")))) {
      val distHb = Graph.hyperBallHarmonic(e, maxLocalVertices = 0)
      val dist = distHb.scores.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val localHb = Graph.hyperBallHarmonic(e)
      val local = localHb.scores.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(local == dist, s"local $local vs distributed $dist")
      assert(localHb.rounds == distHb.rounds,
        s"rounds witness: local ${localHb.rounds} vs distributed ${distHb.rounds}")
    }
  }

  test("seeded local arm coerces INT host keys like the distributed isin") {
    val s = spark
    import s.implicits._
    // IntegerType keys with Seq[Long] seeds: the distributed isin coerces
    // numerically; the local arm must not fall back to boxed equals
    val e = Seq((0, 1), (1, 2), (2, 0)).toDF("src", "dst")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.get(0).toString,
        r.getAs[Long]("rank_ppm"), r.getAs[Long]("is_seed"))).toSet
    val dist = rows(Graph.pageRankSeeded(e, seeds = Seq(0L), maxLocalVertices = 0))
    val local = rows(Graph.pageRankSeeded(e, seeds = Seq(0L)))
    assert(local == dist, s"local $local vs distributed $dist")
    assert(local.exists(_._3 == 1L), "seed must be flagged")
  }

  test("harmonic small-graph arm is integer-identical to the doubling face") {
    // includes the horizon cap: on a 5-node path, 2 doubling rounds cover
    // distance 4, but ONE round caps at 2 — the BFS arm must apply the
    // same 2^rounds cap, dropping the longer pairs both faces drop
    val path = edgesOf(0L -> 1L, 1L -> 2L, 2L -> 3L, 3L -> 4L)
    for (rounds <- Seq(1, 2)) {
      val dist = ranksOf(Graph.harmonicExact(path, doublingRounds = rounds,
        maxLocalVertices = 0))
      val local = ranksOf(Graph.harmonicExact(path, doublingRounds = rounds))
      assert(local == dist, s"rounds=$rounds: local $local vs distributed $dist")
    }
    val links = Graph.syntheticLinks(Tables(spark, sfDir, "documents"))
    assert(ranksOf(Graph.harmonicExact(links)) ==
      ranksOf(Graph.harmonicExact(links, maxLocalVertices = 0)))
  }

  test("weighted face on an empty edge set returns empty ranks, not an NPE (r17 advice)") {
    // the domain guard's global max is NULL with no edges — the guard
    // must not apply, and the result is the empty frame (no hosts)
    val out = Graph.pageRankWeighted(edgesOf())
    assert(out.count() == 0, "no edges -> no hosts -> empty ranks")
  }

  test("parallel links dedup before ranking; self-loops never enter") {
    val dup = edgesOf(0L -> 1L, 0L -> 1L, 0L -> 2L, 1L -> 0L)
    val single = edgesOf(0L -> 1L, 0L -> 2L, 1L -> 0L)
    assert(ranksOf(Graph.pageRank(dup)) == ranksOf(Graph.pageRank(single)))
  }

  test("fixture arms live on documents: hub, dangling, teleport-only hosts") {
    val links = Graph.syntheticLinks(Tables(spark, sfDir, "documents"))
    val deg = Graph.degreeStats(links).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(deg.size == 23)
    // dangling arm: host 22 receives but never contributes
    assert(deg(22L).getAs[Long]("is_dangling") == 1L)
    assert(deg(22L).getAs[Long]("out_deg") == 0L && deg(22L).getAs[Long]("in_deg") > 0L)
    // hub arm: host 0 has the max raw in-link count
    val maxIn = deg.values.map(_.getAs[Long]("in_links")).max
    assert(deg(0L).getAs[Long]("in_links") == maxIn && maxIn > deg(1L).getAs[Long]("in_links"))
    // raw >= distinct everywhere
    deg.values.foreach { r =>
      assert(r.getAs[Long]("out_links") >= r.getAs[Long]("out_deg"))
      assert(r.getAs[Long]("in_links") >= r.getAs[Long]("in_deg"))
    }
    val ranks = ranksOf(Graph.pageRank(links))
    val base = 15L * Graph.ScalePpm / 100
    // every rank >= teleport base; total mass <= N * SCALE (sink loss only)
    assert(ranks.values.forall(_ >= base))
    assert(ranks.values.sum <= 23L * Graph.ScalePpm)
    // hub dominates
    assert(ranks(0L) == ranks.values.max)
    // hosts with no in-edges sit at EXACTLY the teleport base: dst 11's
    // only source is 11 itself (self-loop, dropped), dst 19's is host 22
    // (dangling, emits nothing)
    assert(ranks(11L) == base && ranks(19L) == base)
  }

  test("partition invariance: repartitioned links change nothing") {
    val links = Graph.syntheticLinks(Tables(spark, sfDir, "documents"))
    assert(ranksOf(Graph.pageRank(links.repartition(7))) == ranksOf(Graph.pageRank(links)))
  }

  test("harmonic exact: hand graph, doubling convergence, fixture arms") {
    // a->b, b->a, a->c: H(a) = 1/d(b,a) = 1e6 (c has no out-edge);
    // H(b) = 1e6; H(c) = 1/d(a,c) + 1/d(b,c) = 1e6 + 500000
    val e = edgesOf(0L -> 1L, 1L -> 0L, 0L -> 2L)
    val h = ranksOf(Graph.harmonicExact(e))
    assert(h == Map(0L -> 1000000L, 1L -> 1000000L, 2L -> 1500000L), s"got $h")
    // fixture: 4 doubling rounds (16 hops) already past the fixed point —
    // a 5th round changes nothing (measured diameter 12)
    val links = Graph.syntheticLinks(Tables(spark, sfDir, "documents"))
    val h4 = ranksOf(Graph.harmonicExact(links, doublingRounds = 4))
    val h5 = ranksOf(Graph.harmonicExact(links, doublingRounds = 5))
    assert(h4 == h5, "16-hop horizon not converged on the fixture")
    // in-edge-free hosts have harmonic 0; the hub is reached by everyone
    // that has any path, so it holds the maximum
    assert(h4(11L) == 0L && h4(19L) == 0L)
    assert(h4(0L) == h4.values.max)
  }

  test("hyperball estimate tracks exact within the registered tolerance") {
    val links = Graph.syntheticLinks(Tables(spark, sfDir, "documents"))
    val exact = ranksOf(Graph.harmonicExact(links))
    val hb = Graph.hyperBallHarmonic(links).scores.collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(hb.keySet == exact.keySet)
    exact.foreach { case (host, ppm) =>
      val x = ppm / 1e6
      assert(math.abs(hb(host) - x) <= math.max(0.15 * x, 0.5),
        s"host $host: hyperball ${hb(host)} vs exact $x")
    }
    // zero-centrality hosts estimate exactly zero (ball never grows)
    assert(hb(11L) == 0.0 && hb(19L) == 0.0)
  }

  test("host-quality gate: both arms live, flags consistent with the rank table") {
    val docs = Tables(spark, sfDir, "documents")
    val out = Graph.hostQuality(docs).collect()
    assert(out.length == docs.count())
    val ranks = ranksOf(Graph.pageRank(Graph.syntheticLinks(docs)))
    out.foreach { r =>
      val (id, host, rank, kept) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(host == id % 23)
      assert(rank == ranks(host), s"doc $id host $host: $rank != ${ranks(host)}")
      assert(kept == (if (rank >= Graph.QualityRankThresholdPpm) 1L else 0L))
    }
    // the threshold must actually split the corpus (both gate arms live)
    val keptN = out.count(_.getLong(3) == 1L)
    assert(keptN > 0 && keptN < out.length, s"degenerate gate: $keptN/${out.length}")
  }

  test("event transitions: per-user lag walk, consecutive dups drop, order deterministic") {
    val s = spark
    import s.implicits._
    val ev = Seq(
      // user 1: a -> a -> b -> a   (self-transition a->a drops)
      (1L, 1L, 10L, "a"), (2L, 1L, 20L, "a"), (3L, 1L, 30L, "b"), (4L, 1L, 40L, "a"),
      // user 2: same second, event_id breaks the tie: b -> c
      (5L, 2L, 50L, "b"), (6L, 2L, 50L, "c"),
      // user 3: single event, no edge
      (7L, 3L, 60L, "a"),
    ).toDF("event_id", "user_id", "ts_sec", "event_type")
    val got = Graph.eventTransitions(ev).collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(got == Seq("a" -> "b", "b" -> "a", "b" -> "c"), s"got $got")
    // partition invariance: the window re-sorts per user either way
    val rep = Graph.eventTransitions(ev.repartition(5)).collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(rep == got)
  }

  test("seeded face: teleport mass stays on seeds; unreachable non-seeds at zero") {
    val links = Graph.syntheticLinks(Tables(spark, sfDir, "documents"))
    val out = Graph.pageRankSeeded(links).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val base = 15L * Graph.ScalePpm / 100
    Graph.FixtureSeeds.foreach { s =>
      assert(out(s)._2 == 1L && out(s)._1 >= base, s"seed $s below base")
    }
    // in-edge-free hosts are unreachable and non-seed -> exactly 0
    assert(out(11L)._1 == 0L && out(19L)._1 == 0L)
    // total seeded mass strictly below the uniform run's
    val uniform = ranksOf(Graph.pageRank(links)).values.sum
    assert(out.values.map(_._1).sum < uniform)
  }
}
