package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.functions._

import graft.{Q, Tables}

/** Link-graph centrality for corpus curation — the host-quality signal
  * web-scale pipelines rank crawl frontiers and weight sources with
  * (PageRank: Page, Brin, Motwani & Winograd 1999, "The PageRank citation
  * ranking"; Common Crawl publishes exactly this kind of host-level
  * centrality for seed selection). The reference's data model has no
  * graph surface; this module is part of the LLM-pipeline extension, and
  * brings the one plan shape the inventory lacked: a bounded ITERATIVE
  * join+aggregate, the fixed-point family (PageRank, label propagation,
  * Katz) all reduce to.
  *
  * Determinism contract (the module family's rule): ranks are integer
  * fixed-point (ppm units, scale 1,000,000), damping 85/100 applied as
  * `(85 * x) div 100`, per-node shares as `rank div outdeg` — all
  * floor-division on non-negative longs, identical in Spark's `div` and
  * DuckDB's `//`, so a staged-CTE oracle replays every iteration
  * integer-exactly. Dangling nodes (outdeg 0) contribute nothing — the
  * sink-loss PageRank variant (total mass decays; ORDER is what curation
  * consumes, and the decay is uniform). No floats anywhere.
  *
  * Scale shape per iteration: ranks ⋈ edges on src (ranks is |V| rows —
  * host-level graphs are millions of rows at 100 TB, NOT broadcastable;
  * the join shuffles on src and AQE's skew-join splits hub keys), then
  * one groupBy(dst) with map-side partial sums. K iterations compose
  * declaratively into one Catalyst plan (K = 5 here); a long-horizon run
  * (K ≥ ~20) would persist `edges`/`outdeg` once — they are
  * iteration-invariant — and `localCheckpoint` ranks every ~10 rounds to
  * cut lineage, which changes nothing semantically.
  *
  * The synthetic link fixture derives deterministically from `doc_id`
  * residues (the withSyntheticUrls/_syn precedent): hosts are residues
  * mod 23; every doc links its host to a mixed residue, every 4th doc
  * also links to host 0 (the HUB arm — in-degree skew is live), and
  * docs on host 22 emit nothing (the DANGLING arm — host 22 appears
  * only as a destination). Self-loops drop; PageRank runs on DISTINCT
  * edges (host graphs dedup parallel links), while the degree face
  * reports raw link counts alongside.
  */
object Graph {

  /** Fixture constants — single source of truth for the Spark builders
    * AND the oracle SQL below (the synthUrlCte precedent).
    */
  private val NHosts = 23L
  private val Dangling = 22L
  private val HubEvery = 4L
  private val MulA = 7L
  private val AddB = 3L

  /** Rank scale (parts-per-million) and damping numerator/denominator. */
  val ScalePpm = 1000000L
  private val Damp = 85L
  private val Iters = 5

  /** Personalization seeds for [[pageRankSeeded]]'s registered face: two
    * ordinary hosts (neither the hub nor the dangling sink), so seeded
    * mass visibly concentrates on the seeds' out-neighborhoods.
    */
  val FixtureSeeds: Seq[Long] = Seq(3L, 17L)

  /** Deterministic host-link fixture: raw directed edges (self-loops
    * dropped, parallel links preserved) from the doc_id residue rules.
    */
  def syntheticLinks(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val id = col(idCol)
    val src = (id % NHosts).as("src")
    val base = docs.filter(id % NHosts =!= Dangling)
      .select(src, ((id * MulA + AddB) % NHosts).as("dst"))
    val hub = docs.filter(id % NHosts =!= Dangling && id % HubEvery === 0)
      .select(src, lit(0L).as("dst"))
    base.unionAll(hub).filter(col("src") =!= col("dst"))
  }

  /** The raw-edge fixture as a DuckDB CTE body (`raw(src, dst)`). */
  private def rawEdgesSql: String =
    s"""raw AS (
          SELECT src, dst FROM (
            SELECT doc_id % $NHosts AS src,
                   (doc_id * $MulA + $AddB) % $NHosts AS dst
            FROM documents WHERE doc_id % $NHosts <> $Dangling
            UNION ALL
            SELECT doc_id % $NHosts AS src, CAST(0 AS BIGINT) AS dst
            FROM documents WHERE doc_id % $NHosts <> $Dangling
                             AND doc_id % $HubEvery = 0)
          WHERE src <> dst)"""

  /** Shared graph CTE chain: raw → distinct edges → nodes → out-degrees.
    * `rawCte` defaults to the synthetic host-link fixture; the
    * event-transition face injects its own raw-edge source.
    */
  private def graphCtesFrom(rawCte: String): String =
    s"""$rawCte,
        edges AS (SELECT DISTINCT src, dst FROM raw),
        nodes AS (SELECT src AS host FROM edges UNION SELECT dst AS host FROM edges),
        od AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src)"""

  private def graphCtesSql: String = graphCtesFrom(rawEdgesSql)

  /** Per-host degree profile over the link fixture: raw link counts and
    * distinct-neighbor degrees both ways, plus the dangling flag — the
    * first thing a host-graph audit reads (degree skew decides the join
    * strategy downstream). One pass of small aggregations; every join is
    * on the host key.
    */
  /** The node universe of a distinct edge set — the ONE normalization
    * every face shares (a self-loop/dedup policy change lands everywhere
    * or nowhere).
    */
  private def nodesOf(edges: DataFrame): DataFrame =
    edges.select(col("src").as("host"))
      .union(edges.select(col("dst").as("host"))).distinct()

  def degreeStats(links: DataFrame): DataFrame = {
    val edges = links.distinct()
    val nodes = nodesOf(edges)
    val outL = links.groupBy(col("src").as("host")).agg(count(lit(1)).as("out_links"))
    val outD = edges.groupBy(col("src").as("host")).agg(count(lit(1)).as("out_deg"))
    val inL = links.groupBy(col("dst").as("host")).agg(count(lit(1)).as("in_links"))
    val inD = edges.groupBy(col("dst").as("host")).agg(count(lit(1)).as("in_deg"))
    nodes.join(outL, Seq("host"), "left").join(outD, Seq("host"), "left")
      .join(inL, Seq("host"), "left").join(inD, Seq("host"), "left")
      .select(col("host"),
        coalesce(col("out_links"), lit(0L)).as("out_links"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_links"), lit(0L)).as("in_links"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        col("out_deg").isNull.cast("long").as("is_dangling"))
      .orderBy("host")
  }

  /** Integer fixed-point PageRank over the DISTINCT edges of `links`:
    * `iters` rounds of
    * `rank'(v) = 15%·SCALE + (85 · Σ_{u→v} (rank(u) div outdeg(u))) div 100`
    * from a uniform SCALE start, dangling mass dropped. Returns
    * (host, rank_ppm) — the ORDER (hub ≫ ordinary ≫ dangling-fed-only) is
    * the curation signal.
    */
  def pageRank(links: DataFrame, iters: Int = Iters,
               scalePpm: Long = ScalePpm,
               maxLocalVertices: Int = HyperBallLocalMaxVertices): DataFrame =
    pageRankFrom(links, iters, scalePpm, seeds = None,
      maxLocalVertices = maxLocalVertices)

  /** Personalized (seeded) PageRank: teleport mass goes ONLY to `seeds` —
    * the crawl-quality seed-expansion shape (rank mass flows outward from
    * a trusted host set; high non-seed scores are the hosts the seed
    * neighborhood endorses). Same integer arithmetic; emits `is_seed`.
    */
  def pageRankSeeded(links: DataFrame, seeds: Seq[Long] = FixtureSeeds,
                     iters: Int = Iters, scalePpm: Long = ScalePpm,
                     maxLocalVertices: Int = HyperBallLocalMaxVertices): DataFrame = {
    require(seeds.nonEmpty, "seed set must be non-empty")
    pageRankFrom(links, iters, scalePpm, seeds = Some(seeds),
      maxLocalVertices = maxLocalVertices)
  }

  /** WEIGHTED PageRank: parallel links count — share(u→v) =
    * `(rank(u) · w(u,v)) div W(u)` with `w` the raw link multiplicity and
    * `W(u)` its out-total (the host-graph reality: a site linking another
    * 40 times endorses it more than one linking once). Same integer
    * arithmetic, same staged-CTE oracle; reduces to [[pageRank]] when all
    * multiplicities are 1.
    */
  def pageRankWeighted(links: DataFrame, iters: Int = Iters,
                       scalePpm: Long = ScalePpm,
                       maxLocalVertices: Int = HyperBallLocalMaxVertices): DataFrame =
    pageRankFrom(links, iters, scalePpm, seeds = None, weighted = true,
      maxLocalVertices = maxLocalVertices)

  private def pageRankFrom(links: DataFrame, iters: Int, scalePpm: Long,
                           seeds: Option[Seq[Long]],
                           weighted: Boolean = false,
                           maxLocalVertices: Int = HyperBallLocalMaxVertices): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    // weighted: one row per distinct edge with its multiplicity; uniform:
    // the distinct edge set with outdeg. Both keep the iterated side at
    // |E| distinct rows — raw parallel links collapse BEFORE any iteration
    val edges =
      if (weighted) links.groupBy("src", "dst").agg(count(lit(1)).as("w"))
      else links.distinct().withColumn("w", lit(1L))
    // small-graph arm (the harmonic/Dedup precedent): the iteration is
    // `iters` rounds of join+agg stage setup on a graph that — for
    // host-level and event-transition universes — saturates far below the
    // bound. The replay is pure non-negative int64 arithmetic (/, % match
    // Spark's div/mod there), so the output is integer-identical
    // (spec-pinned; fuzz keeps the distributed path via the opt-out).
    // gate order: the EDGE count is the cheap job (no union+distinct
    // shuffle), so it short-circuits first — a corpus-scale graph never
    // pays the distinct-vertex job; the vertex gate still decides before
    // the driver collect of up to 1M boxed edge tuples
    if (maxLocalVertices > 0 && edges.count() <= HyperBallLocalMaxEdges
      && nodesOf(edges).count() <= maxLocalVertices) {
      // keys stay whatever type the caller's graph uses (host ids here,
      // event-type STRINGS in g_event_pagerank) — only the arithmetic is
      // replayed locally
      val eArr = edges.select(col("src"), col("dst"), col("w").cast("long"))
        .collect().map(r => (r.get(0), r.get(1), r.getLong(2)))
      return pageRankLocal(links.sparkSession, edges.schema("src").dataType,
        eArr, iters, scalePpm, seeds, weighted)
    }
    // fail-loud domain guard (the hot-bucket-guard discipline): the
    // weighted share decomposes as q·w + (r·w) div W with r < W, so the
    // arithmetic stays exact in int64 iff max_src(W · max w) < 2^62.
    // Corpus-volume multiplicities that exceed it must pre-aggregate at
    // coarser edge granularity — wrapping silently would rank wrong.
    if (weighted) {
      // the global max is NULL on an empty edge set — no edges means no
      // shares to overflow, so the guard simply doesn't apply there
      val hotRow = edges.groupBy("src")
        .agg(sum("w").as("outw"), max("w").as("mw"))
        .agg(max(col("outw").cast("double") * col("mw").cast("double")))
        .head
      if (!hotRow.isNullAt(0)) {
        val hot = hotRow.getDouble(0)
        require(hot < math.pow(2, 62),
          f"weighted PageRank domain exceeded: max src (W·max w) = $hot%.3g >= 2^62 — " +
            "pre-aggregate edge multiplicities at coarser granularity")
      }
    }
    val nodes = nodesOf(edges)
    val od = edges.groupBy("src").agg(sum("w").as("outw"))
    val isSeed = seeds.map(ss => col("host").isin(ss: _*))
    val baseTerm: org.apache.spark.sql.Column = isSeed match {
      case None    => lit(15L * scalePpm / 100)
      case Some(s) => when(s, lit(15L * scalePpm / 100)).otherwise(lit(0L))
    }
    var ranks = nodes.withColumn("rank_ppm", isSeed match {
      case None    => lit(scalePpm)
      case Some(s) => when(s, lit(scalePpm)).otherwise(lit(0L))
    })
    for (_ <- 1 to iters) {
      val contrib = edges.join(od, "src")
        .join(ranks.withColumnRenamed("host", "src"), "src")
        // share = (rank·w) div W, computed as q·w + (r·w) div W with
        // q = rank div W, r = rank mod W — the exact same value (plain
        // integer identity) without the rank·w product that overflows
        // int64 at corpus-volume multiplicities; the guard above bounds
        // the r·w term. Uniform runs have w = 1, where this IS rank div W.
        .select(col("dst").as("host"),
          expr("(rank_ppm div outw) * w + ((rank_ppm % outw) * w) div outw").as("share"))
        .groupBy("host").agg(sum("share").as("contrib"))
      ranks = nodes.join(contrib, Seq("host"), "left")
        .select(col("host"),
          (baseTerm + expr(s"($Damp * coalesce(contrib, 0)) div 100")).as("rank_ppm"))
    }
    val out = isSeed match {
      case None    => ranks
      case Some(s) => ranks.withColumn("is_seed", s.cast("long"))
    }
    out.orderBy("host")
  }

  /** Fixture threshold for [[hostQuality]]: splits the converged ranks
    * meaningfully (the teleport-only and weakly-linked hosts fall below,
    * the hub / seed-adjacent cluster clears it) so both gate arms are
    * live at every SF.
    */
  val QualityRankThresholdPpm = 260000L

  /** The graph family feeding curation: every document joined to its
    * host's CONVERGED PageRank and gated on a rank threshold — the
    * host-level quality prior web pipelines apply before any per-document
    * scoring (a doc on a spam-ranked host starts distrusted). The rank
    * table is |V| rows — tiny next to the corpus — so it rides an
    * explicit broadcast onto the doc scan: the gate is ONE map-side join,
    * no shuffle of document rows (plan-pinned).
    */
  def hostQuality(docs: DataFrame,
                  thresholdPpm: Long = QualityRankThresholdPpm): DataFrame = {
    val pr = pageRank(syntheticLinks(docs))
    docs.select(col("doc_id"), (col("doc_id") % NHosts).as("host"))
      .join(broadcast(pr), Seq("host"), "left")
      .select(col("doc_id"), col("host"),
        coalesce(col("rank_ppm"), lit(0L)).as("host_rank_ppm"),
        (coalesce(col("rank_ppm"), lit(0L)) >= thresholdPpm).cast("long").as("kept"))
      .orderBy("doc_id")
  }

  /** REAL-data edge source: consecutive event-type transitions within
    * each user's time-ordered trail (the same user-partitioned,
    * (ts, event_id)-ordered pass the FSM engine runs; consecutive
    * SELF-transitions drop, mirroring the matcher's consecutive-dup rule
    * — reference: the M8 dedup semantic). The (ts_sec, event_id)
    * composite is a total order both engines share, so the lag walk is
    * deterministic regardless of sub-second timestamp precision. At
    * 100 TB the window pass is the only corpus-sized stage — the
    * transition graph itself saturates at the event-type universe, with
    * the volume carried entirely in the multiplicities the weighted
    * PageRank consumes.
    */
  def eventTransitions(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts_sec", "event_id")
    events
      .withColumn("prev", lag("event_type", 1).over(w))
      .filter(col("prev").isNotNull && col("prev") =!= col("event_type"))
      .select(col("prev").as("src"), col("event_type").as("dst"))
  }

  /** `raw(src, dst)` CTE mirroring [[eventTransitions]] in DuckDB. */
  private def eventRawCte: String =
    """raw AS (
          SELECT prev AS src, event_type AS dst FROM (
            SELECT event_type,
                   lag(event_type) OVER (
                     PARTITION BY user_id
                     ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS prev
            FROM events)
          WHERE prev IS NOT NULL AND prev <> event_type)"""

  // ---- harmonic centrality: exact audit face + HyperBall scale path ----

  /** All-pairs shortest distances up to 2^`doublingRounds` hops via
    * min-plus DOUBLING (dist ⋈ dist per round, not dist ⋈ edges) —
    * 4 rounds cover 16 hops, comfortably past the fixture's measured
    * diameter of 12. This EXACT face materializes the (u, v, d) pair
    * table, which is |V|²-bounded: it exists as the AUDIT for
    * [[hyperBallHarmonic]], never as the 100 TB path (the same
    * exact-feeder-vs-production-twin split as d_embed_cc / d_embed_cc_lsh).
    */
  private def shortestPathsFromEdges(edges: DataFrame, doublingRounds: Int): DataFrame = {
    require(doublingRounds >= 1, "need at least one doubling round")
    var dist = edges.select(col("src").as("u"), col("dst").as("v"), lit(1L).as("d"))
    for (_ <- 1 to doublingRounds) {
      val comp = dist.as("a").join(dist.as("b"), col("a.v") === col("b.u"))
        .select(col("a.u").as("u"), col("b.v").as("v"),
          (col("a.d") + col("b.d")).as("d"))
      dist = dist.union(comp).groupBy("u", "v").agg(min("d").as("d"))
    }
    dist
  }

  /** EXACT harmonic centrality in ppm: `H(v) = Σ_{u≠v reaching v}
    * SCALE div d(u, v)` (Boldi & Vigna's centrality of choice for host
    * ranking — "Axioms for centrality", 2014; unreachable pairs
    * contribute nothing, which is the property that makes harmonic
    * robust on disconnected crawls where closeness degenerates).
    */
  def harmonicExact(links: DataFrame, doublingRounds: Int = 4,
                    scalePpm: Long = ScalePpm,
                    maxLocalVertices: Int = HyperBallLocalMaxVertices): DataFrame = {
    val edges = links.distinct()
    val nodes = nodesOf(edges)
    if (maxLocalVertices > 0 && nodes.count() <= maxLocalVertices
      && edges.count() <= HyperBallLocalMaxEdges) {
      // small-graph arm (the hyperBallHarmonic/Dedup precedent): BFS from
      // each node, distances CAPPED at 2^doublingRounds — exactly the
      // pair set the staged min-plus table covers — and the same
      // `scalePpm div d` long arithmetic, so the integer output is
      // identical (spec-pinned). The distributed doubling face is 4
      // rounds of self-join stage setup on a fixture-sized graph.
      return harmonicExactLocal(
        links.sparkSession,
        nodes.orderBy("host").collect().map(_.getLong(0)),
        edges.collect().map(r => (r.getLong(0), r.getLong(1))),
        1 << doublingRounds, scalePpm)
    }
    val h = shortestPathsFromEdges(edges, doublingRounds)
      .filter(col("u") =!= col("v"))
      .groupBy(col("v").as("host"))
      .agg(sum(expr(s"$scalePpm div d")).as("hp"))
    nodes.join(h, Seq("host"), "left")
      .select(col("host"), coalesce(col("hp"), lit(0L)).as("harmonic_ppm"))
      .orderBy("host")
  }

  /** HyperBall harmonic-centrality estimate (Boldi & Vigna 2013,
    * "In-core computation of geometric centralities with HyperBall"):
    * per node, an HLL sketch of the ball `B_r(v) = {u : d(u,v) ≤ r}`,
    * grown one hop per round by register-max UNION with the in-neighbor
    * balls — `H(v) ≈ Σ_r (|B_r| − |B_(r−1)|)/r` off the per-round
    * estimates. THE published scale path for centrality on web graphs:
    * state is one fixed-size sketch per node (here the trck p=14 /
    * 16 KiB registers for kernel parity — production would shrink p),
    * each round one self-join + one register-max aggregation, memory
    * NEVER proportional to ball sizes — where the exact face's pair
    * table is |V|². Negative per-round deltas (estimator jitter) clamp
    * to 0, as in the paper's implementation. The returned score is a
    * Double estimate; the registered face hashes only the tolerance
    * FLAG against the exact ppm value (the a4_hll_estimate_check
    * pattern).
    */
  /** A [[hyperBallHarmonic]] result: `scores` (host, hb_centrality) and the
    * number of `rounds` the loop executed before the no-counter-changed
    * termination fired — the convergence witness a scale test reads (as
    * `Dedup.Components.rounds` is for the CC closures): on a graph of
    * diameter d it reads d+1, d growing rounds plus the one saturated round
    * that detects convergence.
    */
  final case class HyperBall(scores: DataFrame, rounds: Int)

  /** Driver-local vertex bound for [[hyperBallHarmonic]]'s small-graph
    * arm: register state is 16 KiB per node, so 4096 nodes is 64 MiB of
    * driver memory — the `Dedup.connectedComponents` union-find precedent
    * (identical contract under a bound, distributed loop above it). Kept
    * well under the edge cap so collecting the adjacency is also bounded.
    */
  val HyperBallLocalMaxVertices = 4096
  val HyperBallLocalMaxEdges = 1000000L

  def hyperBallHarmonic(links: DataFrame, maxHops: Int = 16,
                        maxLocalVertices: Int = HyperBallLocalMaxVertices): HyperBall = {
    require(maxHops >= 1, "need at least one hop")
    val edges = links.distinct()
    val nodes = nodesOf(edges)
    if (maxLocalVertices > 0 && nodes.count() <= maxLocalVertices
      && edges.count() <= HyperBallLocalMaxEdges) {
      // small-graph arm: the round loop below is ~0.5 s of stage setup
      // per hop regardless of |V| — on a fixture-sized graph that fixed
      // cost IS the cost. Every step is a pure function of the registers
      // (trck Hll kernel, register-max merge, clamp-to-0 delta in round
      // order), so the driver replay is BIT-identical (spec-pinned);
      // probes that measure the distributed loop pass maxLocalVertices=0.
      return hyperBallLocal(
        links.sparkSession,
        nodes.orderBy("host").collect().map(_.getLong(0)),
        edges.collect().map(r => (r.getLong(0), r.getLong(1))),
        maxHops)
    }
    val initRegs = udf { (h: Long) =>
      val s = graft.trck.Hll()
      s.add(h.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      s.registers
    }
    val est = udf((r: Array[Byte]) => graft.trck.Hll.wrap(r.clone()).estimate)
    // the baseline estimate is the SINGLETON sketch's own estimate (linear
    // counting gives ~1.00003, not exactly 1.0) — seeding with lit(1.0)
    // would credit every never-growing ball a phantom round-1 delta
    var st = nodes
      .withColumn("regs", initRegs(col("host")))
      .withColumn("est", est(col("regs")))
      .withColumn("hacc", lit(0.0))
      .localCheckpoint(true)
    // the paper's own termination rule: stop once NO node's counter
    // changed in a round — every ball has saturated, so all later deltas
    // are exactly zero (the estimate is a pure function of the registers)
    // and the remaining hops would be pure stage-setup overhead. Output
    // is bit-identical to running all `maxHops` rounds; `maxHops` is the
    // hard ceiling for graphs whose diameter exceeds it. Each round is
    // checkpointed eagerly: plans stay one-round shallow (16 rounds of
    // lazy self-reference used to pile up deep codegen) and the register-
    // equality probe below scans the materialized blocks, not the lineage.
    var r = 1
    var converged = false
    while (r <= maxHops && !converged) {
      val contrib = edges
        .join(st.select(col("host").as("src"), col("regs")), "src")
        .select(col("dst").as("host"), col("regs"))
      val merged = st.select(col("host"), col("regs")).union(contrib)
        .groupBy("host")
        .agg(graft.functions.HllAggregator.trckHllMergeRegs(col("regs")).as("regs"))
      val stepped = merged
        .join(st.select(col("host"), col("regs").as("regs_prev"),
          col("est"), col("hacc")), "host")
        .withColumn("est_new", est(col("regs")))
        .withColumn("hacc",
          col("hacc") + greatest(lit(0.0), col("est_new") - col("est")) / lit(r.toDouble))
        .select(col("host"), col("regs"), col("regs_prev"),
          col("est_new").as("est"), col("hacc"))
        .localCheckpoint(true)
      converged = stepped.filter(col("regs") =!= col("regs_prev")).isEmpty
      st = stepped.select(col("host"), col("regs"), col("est"), col("hacc"))
      r += 1
    }
    HyperBall(st.select(col("host"), col("hacc").as("hb_centrality")), r - 1)
  }

  /** Driver replay of [[pageRankFrom]] for small graphs: same uniform or
    * seeded start, same per-edge share `q·w + (r·w) div W`, same
    * `base + (85·contrib) div 100` fold each round, same overflow guard —
    * every operation on non-negative int64, where Scala's `/`/`%` ARE
    * Spark's `div`/`%`, so the ranks are integer-identical.
    */
  private def pageRankLocal(spark: org.apache.spark.sql.SparkSession,
                            keyType: org.apache.spark.sql.types.DataType,
                            eArr: Array[(Any, Any, Long)],
                            iters: Int, scalePpm: Long, seeds: Option[Seq[Long]],
                            weighted: Boolean): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val hosts: Array[Any] = (eArr.map(_._1) ++ eArr.map(_._2)).distinct
    val idx = hosts.zipWithIndex.toMap
    val n = hosts.length
    val outw = new Array[Long](n)
    eArr.foreach { case (s, _, w) => outw(idx(s)) += w }
    if (weighted && n > 0) {
      val mw = new Array[Long](n)
      eArr.foreach { case (s, _, w) => mw(idx(s)) = math.max(mw(idx(s)), w) }
      val hot = (0 until n).map(i => outw(i).toDouble * mw(i)).foldLeft(0.0)(math.max)
      require(hot < math.pow(2, 62),
        f"weighted PageRank domain exceeded: max src (W·max w) = $hot%.3g >= 2^62 — " +
          "pre-aggregate edge multiplicities at coarser granularity")
    }
    // numeric seed membership, NOT boxed equals: the distributed
    // `isin(seeds)` coerces an INT host column to the long literals, so
    // a boxed Integer-vs-Long comparison here would silently de-seed
    // every host on an int-keyed graph
    val seedSet = seeds.map(_.toSet)
    def isSeed(h: Any): Boolean = seedSet.exists(s => h match {
      case n: java.lang.Number => s.contains(n.longValue)
      case _                   => false
    })
    def base(h: Any): Long =
      if (seedSet.isEmpty || isSeed(h)) 15L * scalePpm / 100 else 0L
    var ranks = hosts.map(h =>
      if (seedSet.isEmpty || isSeed(h)) scalePpm else 0L)
    for (_ <- 1 to iters) {
      val contrib = new Array[Long](n)
      eArr.foreach { case (s, d, w) =>
        val si = idx(s)
        val r = ranks(si)
        contrib(idx(d)) += (r / outw(si)) * w + ((r % outw(si)) * w) / outw(si)
      }
      ranks = Array.tabulate(n)(i => base(hosts(i)) + (Damp * contrib(i)) / 100)
    }
    val baseFields = Seq(StructField("host", keyType, nullable = false),
      StructField("rank_ppm", LongType, nullable = false))
    val (schema, rows) = seedSet match {
      case None =>
        (StructType(baseFields),
          hosts.indices.map(i => Row(hosts(i), ranks(i))))
      case Some(_) =>
        (StructType(baseFields :+ StructField("is_seed", LongType, nullable = false)),
          hosts.indices.map(i =>
            Row(hosts(i), ranks(i), if (isSeed(hosts(i))) 1L else 0L)))
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema).orderBy("host")
  }

  /** Driver BFS replay of [[harmonicExact]] for small graphs: forward BFS
    * from every node with depth capped at `maxDist` (the staged table's
    * horizon), `hp(v) += scalePpm div d(u, v)` in exact long arithmetic —
    * identical output by construction (sums of identical integer terms).
    */
  private def harmonicExactLocal(spark: org.apache.spark.sql.SparkSession,
                                 hosts: Array[Long], edgeArr: Array[(Long, Long)],
                                 maxDist: Int, scalePpm: Long): DataFrame = {
    import spark.implicits._
    val idx = hosts.zipWithIndex.toMap
    val n = hosts.length
    val adj = Array.fill(n)(List.empty[Int])
    edgeArr.foreach { case (s, d) => adj(idx(s)) ::= idx(d) }
    val hp = new Array[Long](n)
    val dist = new Array[Int](n)
    val queue = new Array[Int](n)
    var u = 0
    while (u < n) {
      java.util.Arrays.fill(dist, -1)
      dist(u) = 0
      queue(0) = u
      var head = 0
      var tail = 1
      while (head < tail) {
        val x = queue(head); head += 1
        if (dist(x) < maxDist) adj(x).foreach { y =>
          if (dist(y) < 0) { dist(y) = dist(x) + 1; queue(tail) = y; tail += 1 }
        }
      }
      var v = 0
      while (v < n) {
        if (v != u && dist(v) > 0) hp(v) += scalePpm / dist(v)
        v += 1
      }
      u += 1
    }
    hosts.indices.map(i => (hosts(i), hp(i))).toDF("host", "harmonic_ppm")
  }

  /** The driver replay of the HyperBall loop (see the small-graph arm in
    * [[hyperBallHarmonic]]): same singleton-sketch seeding, same
    * register-max union along in-edges each round, same
    * `max(0, est_new − est) / r` accumulation in the same round order,
    * same no-register-changed termination and rounds witness — the double
    * arithmetic is step-for-step the distributed plan's, so outputs match
    * bit-for-bit.
    */
  private def hyperBallLocal(spark: org.apache.spark.sql.SparkSession,
                             hosts: Array[Long], edgeArr: Array[(Long, Long)],
                             maxHops: Int): HyperBall = {
    import spark.implicits._
    val idx = hosts.zipWithIndex.toMap
    val n = hosts.length
    var regs = Array.tabulate(n) { i =>
      val s = graft.trck.Hll()
      s.add(hosts(i).toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      s.registers
    }
    val est = Array.tabulate(n)(i => graft.trck.Hll.wrap(regs(i).clone()).estimate)
    val hacc = new Array[Double](n)
    val inEdges = edgeArr.map { case (s, d) => (idx(s), idx(d)) }
    var r = 1
    var converged = false
    while (r <= maxHops && !converged) {
      val next = regs.map(_.clone())
      inEdges.foreach { case (si, di) =>
        val a = next(di); val b = regs(si)
        var i = 0
        while (i < a.length) {
          if ((a(i) & 0xff) < (b(i) & 0xff)) a(i) = b(i)
          i += 1
        }
      }
      converged = (0 until n).forall(i => java.util.Arrays.equals(next(i), regs(i)))
      var i = 0
      while (i < n) {
        val eNew = graft.trck.Hll.wrap(next(i).clone()).estimate
        hacc(i) += math.max(0.0, eNew - est(i)) / r.toDouble
        est(i) = eNew
        i += 1
      }
      regs = next
      r += 1
    }
    HyperBall(hosts.indices.map(i => (hosts(i), hacc(i))).toDF("host", "hb_centrality"), r - 1)
  }

  /** Staged-CTE oracle for [[pageRankFrom]]: r0..r`iters` generated
    * mechanically with the same integer arithmetic.
    */
  private def pageRankOracleSql(iters: Int, seeds: Option[Seq[Long]],
                                weighted: Boolean = false): String = {
    val seedCol = seeds.fold("") { ss =>
      s", CAST(CASE WHEN host IN (${ss.mkString(", ")}) THEN 1 ELSE 0 END AS BIGINT) AS is_seed"
    }
    s"""
        WITH ${pageRankCtesSql(iters, seeds, weighted)}
        SELECT host, rank_ppm$seedCol FROM r$iters ORDER BY host"""
  }

  /** The full CTE chain (graph fixture + r0..r`iters`) WITHOUT the final
    * select — shared by [[pageRankOracleSql]] and compositions that join
    * the converged ranks onto other tables (c_host_quality).
    */
  private def pageRankCtesSql(iters: Int, seeds: Option[Seq[Long]],
                              weighted: Boolean,
                              rawCte: String = rawEdgesSql): String = {
    val base = seeds match {
      case None     => (15L * ScalePpm / 100).toString
      case Some(ss) =>
        s"CASE WHEN n.host IN (${ss.mkString(", ")}) THEN ${15L * ScalePpm / 100} ELSE 0 END"
    }
    val r0 = seeds match {
      case None => s"r0 AS (SELECT host, CAST($ScalePpm AS BIGINT) AS rank_ppm FROM nodes)"
      case Some(ss) =>
        s"""r0 AS (SELECT host, CAST(CASE WHEN host IN (${ss.mkString(", ")})
                 THEN $ScalePpm ELSE 0 END AS BIGINT) AS rank_ppm FROM nodes)"""
    }
    // uniform: share = rank // outdeg over DISTINCT edges; weighted:
    // share = (rank * w) // W over multiplicity-weighted edges
    val (edgeCte, shareExpr) =
      if (weighted)
        ("""we AS (SELECT src, dst, COUNT(*) AS w FROM raw GROUP BY src, dst),
        ow AS (SELECT src, SUM(w) AS outw FROM we GROUP BY src)""",
          "SUM((r.rank_ppm // ow.outw) * e.w + ((r.rank_ppm % ow.outw) * e.w) // ow.outw)")
      else ("", "SUM(r.rank_ppm // od.outdeg)")
    val eFrom =
      if (weighted) "we e JOIN ow ON ow.src = e.src"
      else "edges e JOIN od ON od.src = e.src"
    val steps = (1 to iters).map { k =>
      s"""r$k AS (
          SELECT n.host,
                 CAST($base + ($Damp * COALESCE(c.contrib, 0)) // 100 AS BIGINT) AS rank_ppm
          FROM nodes n LEFT JOIN (
            SELECT e.dst AS host, $shareExpr AS contrib
            FROM $eFrom JOIN r${k - 1} r ON r.host = e.src
            GROUP BY e.dst) c ON c.host = n.host)"""
    }.mkString(",\n        ")
    val extraCtes = if (weighted) s",\n        $edgeCte" else ""
    s"""${graphCtesFrom(rawCte)}$extraCtes,
        $r0,
        $steps"""
  }

  /** Oracle for the exact half of `g_harmonic`: min-plus doubling CTEs
    * d1, d2, d4, … (d_{2k} built from d_k ⋈ d_k), then the harmonic sum —
    * the same `//` arithmetic as [[harmonicExact]]. The hb_ok column is
    * the literal 1 the Spark-side tolerance check must reproduce.
    */
  private def harmonicOracleSql(doublingRounds: Int): String = {
    val steps = (1 to doublingRounds).map { k =>
      val (cur, prev) = (1 << k, 1 << (k - 1))
      s"""d$cur AS (
          SELECT u, v, MIN(d) AS d FROM (
            SELECT u, v, d FROM d$prev
            UNION ALL
            SELECT a.u, b.v, a.d + b.d FROM d$prev a JOIN d$prev b ON a.v = b.u)
          GROUP BY u, v)"""
    }.mkString(",\n        ")
    val last = 1 << doublingRounds
    s"""
        WITH $graphCtesSql,
        d1 AS (SELECT src AS u, dst AS v, CAST(1 AS BIGINT) AS d FROM edges),
        $steps,
        h AS (SELECT v AS host, SUM($ScalePpm // d) AS hp
              FROM d$last WHERE u <> v GROUP BY v)
        SELECT n.host, CAST(COALESCE(h.hp, 0) AS BIGINT) AS harmonic_ppm,
               CAST(1 AS BIGINT) AS hb_ok
        FROM nodes n LEFT JOIN h ON h.host = n.host ORDER BY n.host"""
  }

  val queries: Seq[Q] = Seq(
    // Degree profile of the host-link fixture: hub skew, dangling arm,
    // raw-vs-distinct link counts — all live by construction.
    Q(
      "g_degree_stats",
      (s, dir) => degreeStats(syntheticLinks(Tables(s, dir, "documents"))),
      Some(s"""
        WITH $graphCtesSql,
        ol AS (SELECT src AS host, COUNT(*) AS out_links FROM raw GROUP BY src),
        il AS (SELECT dst AS host, COUNT(*) AS in_links FROM raw GROUP BY dst),
        ideg AS (SELECT dst AS host, COUNT(*) AS in_deg FROM edges GROUP BY dst)
        SELECT n.host,
               CAST(COALESCE(ol.out_links, 0) AS BIGINT) AS out_links,
               CAST(COALESCE(od.outdeg, 0) AS BIGINT) AS out_deg,
               CAST(COALESCE(il.in_links, 0) AS BIGINT) AS in_links,
               CAST(COALESCE(ideg.in_deg, 0) AS BIGINT) AS in_deg,
               CAST(CASE WHEN od.outdeg IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_dangling
        FROM nodes n
        LEFT JOIN ol ON ol.host = n.host
        LEFT JOIN od ON od.src = n.host
        LEFT JOIN il ON il.host = n.host
        LEFT JOIN ideg ON ideg.host = n.host
        ORDER BY n.host"""),
    ),
    // Integer fixed-point PageRank, 5 iterations, dangling mass dropped —
    // every iteration replayed in the oracle's staged CTEs.
    Q(
      "g_pagerank",
      (s, dir) => pageRank(syntheticLinks(Tables(s, dir, "documents"))),
      Some(pageRankOracleSql(Iters, None)),
    ),
    // Personalized PageRank from the fixture seed set — the seed-quality
    // expansion face.
    Q(
      "g_pagerank_seeded",
      (s, dir) => pageRankSeeded(syntheticLinks(Tables(s, dir, "documents"))),
      Some(pageRankOracleSql(Iters, Some(FixtureSeeds))),
    ),
    // Weighted PageRank: raw link multiplicities as endorsement weights —
    // the hub's repeated links shift mass vs the uniform face.
    Q(
      "g_pagerank_weighted",
      (s, dir) => pageRankWeighted(syntheticLinks(Tables(s, dir, "documents"))),
      Some(pageRankOracleSql(Iters, None, weighted = true)),
    ),
    // Harmonic centrality: the EXACT ppm value (min-plus doubling, fully
    // replayed by the oracle's staged CTEs) beside the HyperBall
    // estimate's tolerance flag — tolerance evaluated in Spark, oracle
    // row a deterministic (host, exact, TRUE): an end-to-end hash-pinned
    // guard on the published scale-path estimator.
    Q(
      "g_harmonic",
      (s, dir) => {
        val links = syntheticLinks(Tables(s, dir, "documents"))
        val exact = harmonicExact(links)
        val hb = hyperBallHarmonic(links).scores
        exact.join(hb, Seq("host"))
          .select(col("host"), col("harmonic_ppm"),
            (abs(col("hb_centrality") - col("harmonic_ppm") / lit(1e6)) <=
              greatest(col("harmonic_ppm") / lit(1e6) * lit(0.15), lit(0.5)))
              .cast("long").as("hb_ok"))
          .orderBy("host")
      },
      Some(harmonicOracleSql(4)),
    ),
    // The composed curation gate: per-doc host-rank join + threshold —
    // PageRank CTE chain reused verbatim inside the oracle.
    Q(
      "c_host_quality",
      (s, dir) => hostQuality(Tables(s, dir, "documents")),
      Some(s"""
        WITH ${pageRankCtesSql(Iters, None, weighted = false)},
        d AS (SELECT doc_id, doc_id % $NHosts AS host FROM documents)
        SELECT d.doc_id, d.host,
               CAST(COALESCE(r.rank_ppm, 0) AS BIGINT) AS host_rank_ppm,
               CAST(CASE WHEN COALESCE(r.rank_ppm, 0) >= $QualityRankThresholdPpm
                    THEN 1 ELSE 0 END AS BIGINT) AS kept
        FROM d LEFT JOIN r$Iters r ON r.host = d.host ORDER BY d.doc_id"""),
    ),
    // PageRank over REAL data: the per-user event-type transition graph
    // (trck's trail ordering feeding the graph family) — weighted by
    // transition counts, every iteration oracle-replayed.
    Q(
      "g_event_pagerank",
      (s, dir) =>
        pageRankWeighted(eventTransitions(Tables.events(s, dir)))
          .withColumnRenamed("host", "event_type"),
      Some(s"""
        WITH ${pageRankCtesSql(Iters, None, weighted = true, rawCte = eventRawCte)}
        SELECT host AS event_type, rank_ppm FROM r$Iters ORDER BY event_type"""),
    ),
  )
}
