package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an `Array[Float]` embedding
  * column.
  *
  * Baseline: brute-force cosine top-k — broadcast the (small) query set,
  * one narrow pass over the corpus with partition-local bounded top-k
  * heaps, then a global per-query top-k via window rank over the
  * ≤ partitions × Q × k surviving rows.
  *
  * Scale path: random-hyperplane LSH — 16 sign bits from fixed pseudo-
  * random hyperplanes bucket the corpus; queries search only their bucket
  * (and optionally multi-probe neighbors). Corpus bucketing is a narrow
  * map; the join is an equi-join on the bucket id, turning O(N·Q) into
  * O(N·Q/2^bits) with recall traded for probes.
  *
  * NULL-vector contract (mirror of the text operators' null-text stance):
  * every kernel drops rows whose vector column is NULL before its typed
  * pass — a null embedding (e.g. `decodeAndFeaturize`'s features for an
  * undecodable blob) joins no candidate set, scores against nothing, and
  * stays its own connected component, instead of NPE-ing the task mid-job.
  * This matches the SQL oracles by construction: NULL list comparisons
  * and dot products are NULL, never admitted by any threshold or rank.
  */
object Similarity {

  /** cosine similarity between two `array<float>` columns — native
    * codegen'd Catalyst expression (one fused loop inside whole-stage
    * codegen; see [[graft.functions.CosineSimilarity]])
    */
  def cosine(a: Column, b: Column): Column = graft.functions.CosineSimilarity(a, b)

  /** higher-order-function formulation of [[cosine]] — interpreted, kept as
    * the composable reference implementation the native expression is
    * spec-checked against
    */
  def cosineHof(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")), lit(0.0), _ + _)
    val na = sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")), lit(0.0), _ + _))
    val nb = sqrt(aggregate(transform(b, x => x.cast("double") * x.cast("double")), lit(0.0), _ + _))
    dot / (na * nb)
  }

  /** Brute-force cosine top-k: for each query row, the k nearest corpus
    * rows (excluding itself). Queries must be small (collected + broadcast);
    * scoring is a typed flatMap with tight JVM loops and per-row norms
    * computed once — Spark's higher-order array lambdas are interpreted,
    * which on an O(N·Q) pair stream is the dominant cost.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
  ): DataFrame = {
    requireIntegralId(corpus, idCol)
    requireIntegralId(queries, idCol)
    require(k >= 1, "k must be >= 1")
    val spark = corpus.sparkSession
    import spark.implicits._
    val q = queries
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .as[(Long, Array[Float])]
      .collect()
      .map { case (id, v) => (id, (v, norm(v))) }
    val worstFirst = Ordering.by[(Double, Long), (Double, Long)] { case (sim, id) => (-sim, id) }
    val scored = broadcastHeapTopK[(Array[Float], Double), (Array[Float], Double), Double](
      corpus.filter(col(vecCol).isNotNull)
        .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec")).as[(Long, Array[Float])],
      q, k,
      prep = cv => (cv, norm(cv)),
      scoreOf = { case ((qv, nq), (cv, nc)) =>
        val d = nq * nc
        if (d == 0) 0.0 else dot(qv, cv) / d
      },
      worstFirst, "sim")
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  /** Shared broadcast + partition-local-heap top-k scaffold: per corpus
    * row, `prep` runs once, then every query scores it and a bounded
    * per-query heap keeps the k best under `worstFirst` — the same total
    * order the caller's final window rank uses, which is what makes the
    * pruning lossless. The shuffle out carries ≤ partitions × Q × k rows.
    */
  private def broadcastHeapTopK[Q, P, S](
      corpus: org.apache.spark.sql.Dataset[(Long, Array[Float])],
      queries: Array[(Long, Q)],
      k: Int,
      prep: Array[Float] => P,
      scoreOf: (Q, P) => S,
      worstFirst: Ordering[(S, Long)],
      scoreCol: String,
  )(implicit encOut: org.apache.spark.sql.Encoder[(Long, Long, S)]): DataFrame = {
    val qb = corpus.sparkSession.sparkContext.broadcast(queries)
    corpus
      .mapPartitions { it =>
        val qs = qb.value
        val heaps = Array.fill(qs.length)(new scala.collection.mutable.PriorityQueue[(S, Long)]()(worstFirst))
        it.foreach { case (cid, cv) =>
          val p = prep(cv)
          var i = 0
          while (i < qs.length) {
            val (qid, qpayload) = qs(i)
            if (qid != cid) {
              val s = scoreOf(qpayload, p)
              val h = heaps(i)
              if (h.size < k) h.enqueue((s, cid))
              else if (worstFirst.lt((s, cid), h.head)) { h.dequeue(); h.enqueue((s, cid)) }
            }
            i += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, i) =>
          h.iterator.map { case (s, cid) => (qs(i)._1, cid, s) }
        }
      }
      .toDF("query_id", "neighbor_id", scoreCol)
  }

  /** All pairs (id_a < id_b) with cosine ≥ threshold — the exact O(N²)
    * near-dup baseline as a BLOCK-PARTITIONED nested loop, with no driver
    * state: ids hash into `blocks` blocks, every unordered block pair
    * (i ≤ j) becomes one shuffle group holding blocks i and j, and each
    * group cross-scores its two sides with tight JVM loops (norms computed
    * once per replica). Each row is shipped to exactly `blocks` groups, so
    * the shuffle is O(N·blocks) slim rows and task memory is O(2N/blocks)
    * vectors — pick `blocks` so a block fits an executor; the O(N²) score
    * work itself is inherent to the exact variant and spreads evenly over
    * the B(B+1)/2 groups. Use the LSH/IVF variants when a recall trade is
    * acceptable.
    */
  def exactPairsAbove(
      corpus: DataFrame,
      threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      blocks: Int = 16,
  ): DataFrame = {
    requireIntegralId(corpus, idCol)
    require(blocks >= 1, "blocks must be >= 1")
    val spark = corpus.sparkSession
    import spark.implicits._
    val ds = corpus
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .as[(Long, Array[Float])]
      .map { case (id, v) => (id, (v, norm(v))) }
    blockPairsDF[(Array[Float], Double)](ds, blocks, { (a, c) =>
      val d = a._2 * c._2
      val sim = if (d == 0) 0.0 else dot(a._1, c._1) / d
      sim >= threshold
    })
  }

  /** Shared block-partitioned unordered-pair scheme: ids hash into `b`
    * blocks, every unordered block pair (i ≤ j) is one shuffle group
    * holding both blocks, and `keep` decides emission per candidate pair
    * (ids assumed unique; self-pairs never emitted; each unordered pair
    * visited exactly once, output ordered id_a < id_b). Each row ships to
    * exactly `b` groups → O(N·b) slim-row shuffle, O(2N/b) task memory,
    * no driver state.
    */
  private def blockPairsDF[T](
      ds: org.apache.spark.sql.Dataset[(Long, T)],
      b: Int,
      keep: (T, T) => Boolean,
  )(implicit
    encRep: org.apache.spark.sql.Encoder[(Int, Long, T)],
    encOut: org.apache.spark.sql.Encoder[(Long, Long)]): DataFrame = {
    ds
      .flatMap { case (id, payload) =>
        val blk = ((id % b) + b).toInt % b
        // one replica per group this block participates in: (blk, j≥blk)
        // as the left side, (i<blk, blk) as the right side
        Iterator.range(blk, b).map(j => (blk * b + j, id, payload)) ++
          Iterator.range(0, blk).map(i => (i * b + blk, id, payload))
      }
      .groupByKey(_._1)(org.apache.spark.sql.Encoders.scalaInt)
      .flatMapGroups { (key: Int, it: Iterator[(Int, Long, T)]) =>
        val i = key / b; val j = key % b
        val items = it.map { case (_, id, p) => (id, p) }.toArray
        val out = Iterator.newBuilder[(Long, Long)]
        def emit(a: (Long, T), c: (Long, T)): Unit =
          if (a._1 != c._1 && keep(a._2, c._2))
            out += (if (a._1 < c._1) (a._1, c._1) else (c._1, a._1))
        if (i == j) {
          var x = 0
          while (x < items.length) {
            var y = x + 1
            while (y < items.length) { emit(items(x), items(y)); y += 1 }
            x += 1
          }
        } else {
          val left = items.filter(t => (((t._1 % b) + b).toInt % b) == i)
          val right = items.filter(t => (((t._1 % b) + b).toInt % b) == j)
          var x = 0
          while (x < left.length) {
            var y = 0
            while (y < right.length) { emit(left(x), right(y)); y += 1 }
            x += 1
          }
        }
        out.result()
      }
      .toDF("id_a", "id_b")
  }

  /** All pairs with quantized-cosine ≥ tNum/tDen, in EXACT integer
    * arithmetic: over qa = floor(a·scale) vectors, cos(qa,qb) ≥ n/d ⟺
    * dot > 0 ∧ d²·dot² ≥ n²·|qa|²·|qb|² — no square roots, no floats, so
    * every engine computes the identical pair set (the property the float
    * formulation can't give). Same block-partitioned shuffle scheme as
    * [[exactPairsAbove]]: O(N·blocks) shuffle, O(2N/blocks) task memory,
    * no driver state. The squared compare needs ~2×63-bit products, done
    * in BigInt (DuckDB mirrors with HUGEINT).
    */
  def quantizedPairsAbove(
      corpus: DataFrame,
      tNum: Int,
      tDen: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      scale: Double = 1e6,
      blocks: Int = 16,
  ): DataFrame = {
    requireIntegralId(corpus, idCol)
    require(tNum > 0 && tDen > 0, "threshold must be a positive rational")
    require(tDen <= 128, "threshold denominators above 128 can push the " +
      "cross-multiplied compare past DuckDB's HUGEINT range (see quantizeChecked)")
    require(blocks >= 1)
    val spark = corpus.sparkSession
    import spark.implicits._
    val n2 = BigInt(tNum) * tNum
    val d2 = BigInt(tDen) * tDen
    val ds = corpus
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        val q = quantizeChecked(v, scale)
        var nn = 0L; var i = 0
        while (i < q.length) { nn += q(i) * q(i); i += 1 }
        (id, (q, nn))
      }
    blockPairsDF[(Array[Long], Long)](ds, blocks, { (a, c) =>
      var d = 0L; var x = 0
      val qa = a._1; val qc = c._1
      // common-prefix dot on mismatched dims (module NULL/dim contract)
      val nx = math.min(qa.length, qc.length)
      while (x < nx) { d += qa(x) * qc(x); x += 1 }
      d > 0 && d2 * (BigInt(d) * d) >= n2 * (BigInt(a._2) * c._2)
    })
  }

  /** floor(x·scale) with the exact-arithmetic magnitude bound: components
    * are capped at |q_i| ≤ √(2^56/dim), so squared norms and dot products
    * stay ≤ 2^56 (no Long wrap anywhere, including running partial sums)
    * AND the oracle's cross-multiplied compare d²·dot² vs n²·|a|²·|b|²
    * stays ≤ d²·2^112 < 2^126 for rational thresholds with denominators up
    * to 128 — inside DuckDB's 127-bit HUGEINT, which ERRORS on overflow
    * where BigInt on the JVM would keep going, silently breaking the
    * exact-cross-engine contract near the bound. Fails fast with a pointer
    * to lower the scale instead. (At the default scale 1e6 and dim 64 the
    * bound admits |x| ≤ ~33 — far above real embedding magnitudes.)
    */
  private[operators] def quantizeChecked(v: Array[Float], scale: Double): Array[Long] = {
    val limit = math.sqrt((1L << 56).toDouble / math.max(1, v.length)).toLong
    val out = new Array[Long](v.length)
    var i = 0
    while (i < v.length) {
      out(i) = math.floor(v(i).toDouble * scale).toLong
      if (math.abs(out(i)) > limit)
        throw new IllegalArgumentException(
          s"quantized component ${out(i)} exceeds the exact-arithmetic bound ±$limit " +
            s"for ${v.length} dims — lower the quantization scale")
      i += 1
    }
    out
  }

  /** Semantic decontamination (the embedding-space counterpart of the
    * shingle faces c_substr_decon / c_decontaminate): flag every TRAIN
    * vector whose quantized cosine against ANY held-out test vector meets
    * tNum/tDen — paraphrased or re-rendered benchmark items that share no
    * n-gram with the test split but sit next to it in embedding space.
    * Same exact integer arithmetic as [[quantizedPairsAbove]] (cross-
    * multiplied squared compare over floor(x·scale) vectors, no floats
    * cross the oracle), same deterministic md5 split as every other
    * held-out face.
    *
    * Scale shape — and why it differs from the pair kernels: an eval set
    * is SMALL by nature (thousands of items against billions of train
    * docs), so the test side is collected under the
    * [[MaxBroadcastRowsKey]] guard and broadcast, and the train side
    * streams through one map-only pass with a tight per-row loop — no
    * shuffle, no pair materialization, O(train × test) work with the test
    * factor bounded by the guard. Returns one row per CONTAMINATED train
    * vector: (idCol, n_test_hits, first_test_id = lowest matching test
    * id). Clean vectors are absent — the survivor set is the anti-join.
    */
  def semanticDecon(
      vecs: DataFrame,
      tNum: Int = 7,
      tDen: Int = 20,
      testPct: Int = 10,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      scale: Double = 1e6,
  ): DataFrame = {
    requireIntegralId(vecs, idCol)
    require(tNum > 0 && tDen > 0, "threshold must be a positive rational")
    require(tDen <= 128, "threshold denominators above 128 can push the " +
      "cross-multiplied compare past DuckDB's HUGEINT range (see quantizeChecked)")
    require(testPct > 0 && testPct < 100, s"testPct must be in (0,100), got $testPct")
    val spark = vecs.sparkSession
    import spark.implicits._
    val cut = 100 - testPct
    val base = vecs.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"),
        TextAnalysis.splitBucket(col(idCol)).as("bkt"))
    val testDs = base.filter(col("bkt") >= cut).select("id", "vec").as[(Long, Array[Float])]
    val cap = spark.conf.getOption(MaxBroadcastRowsKey).map(_.trim.toLong)
      .getOrElse(MaxBroadcastRowsDefault)
    val nTest = testDs.count()
    if (nTest > cap)
      throw new IllegalArgumentException(
        s"semanticDecon would broadcast $nTest test vectors (bound $cap): an eval " +
          s"split this large is not an eval split — narrow testPct or raise " +
          MaxBroadcastRowsKey)
    val test = spark.sparkContext.broadcast(
      testDs.collect().map { case (id, v) =>
        val q = quantizeChecked(v, scale)
        var nn = 0L; var i = 0
        while (i < q.length) { nn += q(i) * q(i); i += 1 }
        (id, q, nn)
      }.sortBy(_._1))
    val n2 = BigInt(tNum) * tNum
    val d2 = BigInt(tDen) * tDen
    base.filter(col("bkt") < cut).select("id", "vec").as[(Long, Array[Float])]
      .mapPartitions { it =>
        val ts = test.value
        it.flatMap { case (id, v) =>
          val q = quantizeChecked(v, scale)
          var nn = 0L; var i = 0
          while (i < q.length) { nn += q(i) * q(i); i += 1 }
          var hits = 0L
          var first = -1L
          var j = 0
          while (j < ts.length) {
            val (tid, tq, tn) = ts(j)
            var d = 0L; var x = 0
            val nx = math.min(q.length, tq.length)
            while (x < nx) { d += q(x) * tq(x); x += 1 }
            if (d > 0 && d2 * (BigInt(d) * d) >= n2 * (BigInt(nn) * tn)) {
              hits += 1
              if (first < 0) first = tid // test side sorted by id: min match
            }
            j += 1
          }
          if (hits > 0) Iterator.single((id, hits, first)) else Iterator.empty
        }
      }
      .toDF(idCol, "n_test_hits", "first_test_id")
  }

  /** Conf key bounding [[exactPairsAboveBroadcast]]'s driver collect; the
    * same fail-loud posture as [[graft.engine.TrailEngine.lexiconSweep]]'s
    * implicit-foreach bound: a configurable cap that fails loudly instead
    * of a silent driver OOM at production corpus size (here checked by a
    * pre-flight count).
    */
  val MaxBroadcastRowsKey = "graft.similarity.maxBroadcastRows"
  val MaxBroadcastRowsDefault = 2000000L

  /** Broadcast formulation of [[exactPairsAbove]] — collects the corpus to
    * the driver, so only usable when it fits a broadcast. Kept as the
    * reference implementation the block-partitioned kernel is spec-checked
    * against.
    *
    * Guarded: a pre-flight count fails loudly above
    * [[MaxBroadcastRowsKey]] (default 2M rows) — the distributed paths for
    * a corpus past that size are [[exactPairsAbove]] (block-partitioned,
    * still O(n²) work) or the LSH-bucketed twin [[quantizedLshPairsAbove]]
    * (the production shape).
    */
  def exactPairsAboveBroadcast(
      corpus: DataFrame,
      threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
  ): DataFrame = {
    requireIntegralId(corpus, idCol)
    val spark = corpus.sparkSession
    import spark.implicits._
    val ds = corpus
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .as[(Long, Array[Float])]
    val cap = spark.conf.getOption(MaxBroadcastRowsKey)
      .map { v =>
        try v.trim.toLong
        catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"$MaxBroadcastRowsKey must be a long row count, got '$v'")
        }
      }
      .getOrElse(MaxBroadcastRowsDefault)
    // NOTE: the pre-flight count is one extra action per call — acceptable
    // for a reference-implementation kernel that is about to collect() the
    // same rows anyway; the scale paths (exactPairsAbove /
    // quantizedLshPairsAbove) pay nothing.
    val n = ds.count()
    if (n > cap)
      throw new IllegalArgumentException(
        s"exactPairsAboveBroadcast would collect $n corpus rows to the driver " +
          s"(bound $cap): this kernel is the broadcast reference implementation, " +
          s"not a scale path — use quantizedLshPairsAbove (LSH-bucketed) or " +
          s"exactPairsAbove (block-partitioned) for corpora past the bound, or " +
          s"raise $MaxBroadcastRowsKey")
    val side = spark.sparkContext.broadcast(
      ds.collect().map { case (id, v) => (id, v, norm(v)) }.sortBy(_._1))
    ds.flatMap { case (ida, va) =>
      val na = norm(va)
      side.value.iterator
        .filter(_._1 > ida)
        .flatMap { case (idb, vb, nb) =>
          val d = na * nb
          val sim = if (d == 0) 0.0 else dot(va, vb) / d
          if (sim >= threshold) Iterator.single((ida, idb)) else Iterator.empty
        }
    }.toDF("id_a", "id_b")
  }

  /** Top-k by quantized inner product (MIPS over floor(x·scale) integer
    * vectors): exact integer scores, total (score desc, neighbor_id)
    * order — fully deterministic across engines and partitionings. Same
    * physical shape as [[bruteForceTopK]]: broadcast queries,
    * partition-local bounded top-k heaps, global window rank over
    * ≤ partitions × Q × k survivors.
    */
  def quantizedMipsTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      scale: Double = 1e6,
  ): DataFrame = {
    requireIntegralId(corpus, idCol)
    requireIntegralId(queries, idCol)
    require(k >= 1, "k must be >= 1")
    val spark = corpus.sparkSession
    import spark.implicits._
    val q = queries
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .as[(Long, Array[Float])]
      .collect()
      .map { case (id, v) => (id, quantizeChecked(v, scale)) }
    val worstFirst = Ordering.by[(Long, Long), (Long, Long)] { case (sc, id) => (-sc, id) }
    val scored = broadcastHeapTopK[Array[Long], Array[Long], Long](
      corpus.filter(col(vecCol).isNotNull)
        .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec")).as[(Long, Array[Float])],
      q, k,
      prep = cv => quantizeChecked(cv, scale),
      scoreOf = { (qv, cq) =>
        var s = 0L; var j = 0
        while (j < cq.length) { s += qv(j) * cq(j); j += 1 }
        s
      },
      worstFirst, "score")
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "score")
  }

  /** Deterministic integer hyperplane component for the quantized LSH
    * family: splitmix-style mix of (plane, dim) → [-500, 500]. A pure
    * function with no engine arithmetic involved — oracle SQL embeds the
    * VALUES as literals, so cross-engine parity is by construction.
    */
  def lshPlaneComponent(p: Int, i: Int): Long = {
    var z = p.toLong * 0x9E3779B97F4A7C15L + i.toLong * 0xBF58476D1CE4E5B9L
    z ^= z >>> 31; z *= 0x94D049BB133111EBL; z ^= z >>> 29
    Math.floorMod(z, 1001L) - 500L
  }

  /** bucket id = one sign bit per integer hyperplane (object-level so
    * executor closures call it statically — no module capture)
    */
  private def quantizedLshBucket(q: Array[Long], planes: Int): Long = {
    var bkt = 0L; var p = 0
    while (p < planes) {
      var d = 0L; var i = 0
      while (i < q.length) { d += q(i) * lshPlaneComponent(p, i); i += 1 }
      if (d > 0) bkt |= 1L << p
      p += 1
    }
    bkt
  }

  /** LSH-bucketed ANN in exact integer arithmetic: bucket bit p = sign of
    * the quantized vector's dot product with integer hyperplane p — no
    * float signs anywhere, so the bucketing (and therefore the candidate
    * set and the final ranks) is bit-identical across engines, unlike
    * [[lshTopK]]'s float hyperplanes. Same scale shape: one narrow
    * bucketing pass over the corpus, broadcast queries, equi-join on the
    * bucket id, O(N·Q/2^planes) scoring work.
    *
    * `multiProbe = true` additionally probes every bucket at Hamming
    * distance 1 from the query's (the standard multi-probe LSH recall
    * lever: ×(planes+1) candidate volume instead of more tables). Corpus
    * buckets are disjoint, so probing can never duplicate a candidate —
    * the ranked output stays exactly oracle-able.
    */
  def quantizedLshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      planes: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      scale: Double = 1e6,
      multiProbe: Boolean = false,
  ): DataFrame = {
    requireIntegralId(corpus, idCol)
    requireIntegralId(queries, idCol)
    require(k >= 1 && planes >= 1 && planes <= 62)
    val spark = corpus.sparkSession
    import spark.implicits._
    val nPlanes = planes
    val cb = corpus
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        val q = quantizeChecked(v, scale)
        (id, q, quantizedLshBucket(q, nPlanes))
      }
      .toDF("neighbor_id", "c_q", "bucket")
    val qArr = queries
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .as[(Long, Array[Float])]
      .collect()
      .flatMap { case (id, v) =>
        val q = quantizeChecked(v, scale)
        val own = quantizedLshBucket(q, nPlanes)
        val probes =
          if (multiProbe) own +: Array.tabulate(nPlanes)(p => own ^ (1L << p))
          else Array(own)
        probes.map(b => (id, q, b))
      }
    val qdf = spark.createDataset(qArr.toSeq).toDF("query_id", "q_q", "bucket")
    // candidate volume is bucketed-small, so the interpreted zip_with dot
    // is fine here; quantizeChecked's bound keeps the sum within Long
    val scored = cb
      .join(broadcast(qdf), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score",
        aggregate(zip_with(col("c_q"), col("q_q"), (x, y) => x * y), lit(0L), _ + _))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "score")
  }

  /** Float hyperplane component for the float LSH family: the same
    * splitmix mix as [[lshPlaneComponent]], scaled to [-0.5, 0.5). A pure
    * JVM function evaluated in tight typed loops — the previous
    * formulation derived components per ROW via `xxhash64` inside
    * interpreted `transform`/`zip_with` lambdas, recomputing planes × dim
    * hashes for every vector; at corpus scale that interpreted work
    * dominated the bucketing pass. Deterministic across executors with
    * zero driver state to ship.
    */
  def lshPlaneComponentF(p: Int, i: Int): Double = lshPlaneComponent(p, i) / 1000.0

  /** sign-bit bucket id over [[lshPlaneComponentF]] hyperplanes
    * (object-level so executor closures call it statically)
    */
  private def lshBucketJvm(v: Array[Float], planes: Int): Long = {
    var bkt = 0L; var p = 0
    while (p < planes) {
      var d = 0.0; var i = 0
      while (i < v.length) { d += v(i).toDouble * lshPlaneComponentF(p, i); i += 1 }
      if (d > 0) bkt |= 1L << p
      p += 1
    }
    bkt
  }

  /** LSH-bucketed ANN: join queries to corpus on bucket id only. Bucketing
    * is one narrow typed pass ([[lshBucketJvm]]); scoring uses the
    * codegen'd native cosine.
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      planes: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
  ): DataFrame = {
    requireIntegralId(corpus, idCol)
    requireIntegralId(queries, idCol)
    require(k >= 1 && planes >= 1 && planes <= 62)
    val spark = corpus.sparkSession
    import spark.implicits._
    val nPlanes = planes
    val cb = corpus
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .as[(Long, Array[Float])]
      .map { case (id, v) => (id, v, lshBucketJvm(v, nPlanes)) }
      .toDF("neighbor_id", "c_vec", "bucket")
    val qb = queries
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .as[(Long, Array[Float])]
      .map { case (id, v) => (id, v, lshBucketJvm(v, nPlanes)) }
      .toDF("query_id", "q_vec", "bucket")
    val scored = cb
      .join(broadcast(qb), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", cosine(col("q_vec"), col("c_vec")))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  // ------------------------------------------------------------------ IVF

  private def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    // common-prefix dot on mismatched dims — the same documented contract
    // as the native CosineSimilarity expression (zip semantics)
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }
  private def norm(a: Array[Float]): Double = math.sqrt(dot(a, a))
  private def cos(a: Array[Float], b: Array[Float]): Double = {
    val d = norm(a) * norm(b)
    if (d == 0) 0.0 else dot(a, b) / d
  }

  /** Top-`n` cells by cosine, ties to the lower index (the order the
    * oracles mirror with `ORDER BY sim DESC, c`). Tight selection loops
    * instead of `indices.sortBy` — this runs once per corpus row per
    * assignment and once per sample row per k-means iteration, where the
    * boxed sort was the measured dominant cost at probe scale; centroid
    * norms are taken once per call, not once per cell comparison.
    */
  private def centNorms(cent: Array[Array[Float]]): Array[Double] = cent.map(norm)

  private def nearestCells(cent: Array[Array[Float]], cn: Array[Double],
                           v: Array[Float], n: Int): Array[Int] = {
    val m = cent.length
    val nv = norm(v)
    val scores = new Array[Double](m)
    var i = 0
    while (i < m) {
      val d = cn(i) * nv
      scores(i) = if (d == 0) 0.0 else dot(cent(i), v) / d
      i += 1
    }
    val out = new Array[Int](math.min(n, m))
    val taken = new Array[Boolean](m)
    var j = 0
    while (j < out.length) {
      var best = -1
      var bs = Double.NegativeInfinity
      var x = 0
      while (x < m) {
        if (!taken(x) && scores(x) > bs) { best = x; bs = scores(x) }
        x += 1
      }
      if (best < 0) {
        // every remaining score is NaN (NaN vector components) — fall
        // back to the lowest untaken index so selection still totals n
        // deterministically instead of indexing at -1
        var y = 0
        while (best < 0 && y < m) { if (!taken(y)) best = y; y += 1 }
      }
      taken(best) = true
      out(j) = best
      j += 1
    }
    out
  }

  private def requireIntegralId(df: DataFrame, idCol: String): Unit =
    OpChecks.requireIntegralId(df, idCol)

  /** Deterministic k-means-lite coarse quantizer, trained on a bounded
    * driver-side sample — the standard IVF recipe at scale: quantizer
    * quality needs a REPRESENTATIVE sample, not the full corpus, so one
    * ordered `limit(sampleCap)` collect replaces `iters` full distributed
    * passes (each with its own shuffle + collect). The nCells lowest-id
    * sample vectors seed the centroids; iterations then run in tight JVM
    * loops on the driver. Deterministic: ordered sample, sequential
    * accumulation.
    */
  def ivfCentroids(corpus: DataFrame, nCells: Int, iters: Int,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   sampleCap: Int = 65536): Array[Array[Float]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val sample = corpus
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .as[(Long, Array[Float])]
      .orderBy("id")
      .limit(sampleCap)
      .collect()
      .map(_._2)
    require(sample.nonEmpty, "cannot train IVF centroids on an empty corpus")
    var cent = sample.take(nCells).map(_.clone())
    for (_ <- 0 until iters) {
      val dim = cent(0).length
      val sums = Array.ofDim[Double](cent.length, dim)
      val counts = new Array[Long](cent.length)
      val cn = centNorms(cent)
      sample.foreach { v =>
        val c = nearestCells(cent, cn, v, 1)(0)
        counts(c) += 1
        var i = 0
        while (i < dim) { sums(c)(i) += v(i); i += 1 }
      }
      cent = cent.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0) old.clone()
        else {
          val m = new Array[Float](dim)
          var i = 0
          while (i < dim) { m(i) = (sums(c)(i) / counts(c)).toFloat; i += 1 }
          m
        }
      }
    }
    cent
  }

  /** IVF-bucketed ANN: corpus vectors live in their nearest centroid's
    * cell; each query probes its `nProbe` nearest cells only. One narrow
    * assignment pass over the corpus, one equi-join on cell ids —
    * O(N·Q·nProbe/nCells) score work instead of O(N·Q).
    *
    * Sizing at scale: total cost = assignment O(N·nCells) + in-cell scans
    * O(Q·nProbe·N/nCells) + driver training O(min(N, sampleCap)·nCells·
    * iters), minimized around nCells ≈ √N (the published IVF practice —
    * FAISS guidelines' nlist ≈ √N..4√N). Re-size nCells like √corpus, NOT
    * proportionally: cells ∝ N makes assignment and training quadratic-ish
    * (measured 18.5× wall at 10× data in SCALE_PROBE_r14's first cut vs
    * ~1.5× under √-scaling). Training is the amortized one-time step —
    * long-lived services should train once via [[ivfCentroids]] and reuse.
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      nCells: Int = 16,
      nProbe: Int = 4,
      iters: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
  ): DataFrame = {
    // validate BEFORE training — ivfCentroids is the expensive step
    // (driver sample collect + k-means), and a bad id column or k=0
    // must not fail only after it completes
    requireIntegralId(corpus, idCol)
    requireIntegralId(queries, idCol)
    require(k >= 1 && nProbe >= 1 && nCells >= 1 && iters >= 0)
    val cent = ivfCentroids(corpus, nCells, iters, idCol, vecCol)
    ivfTopKWith(cent, corpus, queries, k, nProbe, idCol, vecCol)
  }

  /** [[ivfTopK]] against a PRE-TRAINED coarse quantizer — the production
    * amortization path the sizing note prescribes: a long-lived service
    * trains once with [[ivfCentroids]] (or loads persisted centroids) and
    * serves every query batch from the same quantizer, paying assignment
    * and probing only. Identical results to [[ivfTopK]] given the same
    * centroid array (spec-pinned).
    */
  /** Persist a trained coarse quantizer as a (cell, centroid) parquet —
    * the index artifact of the train-once/serve-forever IVF lifecycle:
    * [[ivfCentroids]] runs at compaction time, every later serving job
    * [[loadCentroids]] + [[ivfTopKWith]]. Floats round-trip bit-exact
    * through parquet, so the reloaded index serves IDENTICAL top-k
    * (spec-pinned in IvfIndexSpec).
    */
  def saveCentroids(spark: org.apache.spark.sql.SparkSession,
                    cent: Array[Array[Float]], outDir: String): Unit = {
    require(cent.nonEmpty, "refusing to persist an empty centroid set")
    import spark.implicits._
    cent.zipWithIndex.map { case (v, i) => (i, v) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(outDir)
  }

  /** Reload a persisted quantizer. Validates the cell ids are exactly
    * 0..n-1 — a dropped or duplicated cell row would silently remap every
    * assignment, so it fails fast instead.
    */
  def loadCentroids(spark: org.apache.spark.sql.SparkSession, dir: String): Array[Array[Float]] = {
    import spark.implicits._
    val rows = spark.read.parquet(dir)
      .select(col("cell").cast("int"), col("centroid"))
      .as[(Int, Array[Float])]
      .collect()
      .sortBy(_._1)
    require(rows.nonEmpty, s"no centroid rows under $dir")
    require(rows.map(_._1).toSeq == (0 until rows.length),
      s"centroid cells must be exactly 0..${rows.length - 1}, got " +
        rows.map(_._1).mkString(","))
    rows.map(_._2)
  }

  def ivfTopKWith(
      cent: Array[Array[Float]],
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      nProbe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
  ): DataFrame = {
    require(cent.nonEmpty, "centroid array must be non-empty")
    require(k >= 1 && nProbe >= 1)
    requireIntegralId(corpus, idCol)
    requireIntegralId(queries, idCol)
    val spark = corpus.sparkSession
    import spark.implicits._
    val cb = spark.sparkContext.broadcast(cent)
    val cnb = spark.sparkContext.broadcast(centNorms(cent))

    val cells = corpus
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .as[(Long, Array[Float])]
      .map { case (id, v) => (nearestCells(cb.value, cnb.value, v, 1)(0), id, v) }
      .toDF("cell", "neighbor_id", "c_vec")
    val probes = queries
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .as[(Long, Array[Float])]
      .flatMap { case (id, v) => nearestCells(cb.value, cnb.value, v, nProbe).map(c => (c, id, v)) }
      .toDF("cell", "query_id", "q_vec")

    val scored = cells
      .join(broadcast(probes), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", cosine(col("q_vec"), col("c_vec")))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  /** Embedding-cosine near-duplicate pairs above a threshold, LSH-bucketed
    * (each pair reported once, a < b). Pairs are expanded inside each
    * bucket's member array rather than via a bucket self-join — the join
    * would recompute the (interpreted, per-component) lshBucket projection
    * once per side and shuffle the corpus twice. Buckets larger than
    * `maxBucket` are dropped BEFORE the member arrays are collected (the
    * windowed count is a spillable sort, the arrays never materialize) —
    * at 100 TB a hot bucket is low-information word-salad and its O(n²)
    * pair expansion would dominate the job anyway.
    */
  def nearDupPairs(corpus: DataFrame, threshold: Double, planes: Int = 8,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   maxBucket: Int = 1000): DataFrame = {
    requireIntegralId(corpus, idCol)
    val spark = corpus.sparkSession
    import spark.implicits._
    val nPlanes = planes
    val w = Window.partitionBy("bucket")
    corpus
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .as[(Long, Array[Float])]
      .map { case (id, v) => (id, v, lshBucketJvm(v, nPlanes)) }
      .toDF("id", "vec", "bucket")
      .withColumn("__n", count(lit(1)).over(w))
      .filter(col("__n").between(2, maxBucket))
      .groupBy("bucket")
      .agg(array_sort(collect_list(struct(col("id"), col("vec")))).as("ms"))
      .select(explode(MinHash.pairExpand("ms")).as("p"))
      .select(
        col("p.a.id").as("id_a"), col("p.b.id").as("id_b"),
        cosine(col("p.a.vec"), col("p.b.vec")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** The plane count is the occupancy knob of every sign-bit LSH path
    * here: 2^planes buckets over N rows ⇒ expected occupancy N/2^planes.
    * Undersized planes fail QUIETLY — every bucket trips the hot-bucket
    * cap and the kernel degenerates to an edgeless no-op (the observed
    * planes=4-at-30× incident) — so size from the corpus, not by hand:
    * planes ≈ log2(N / targetOccupancy), clamped. Feed it a cheap
    * cardinality (`count` on the source table, or
    * `approx_count_distinct(idCol)` when rows duplicate ids).
    */
  def autoPlanes(n: Long, targetOccupancy: Long = 500,
                 minPlanes: Int = 4, maxPlanes: Int = 62): Int = {
    require(targetOccupancy >= 1 && minPlanes >= 1 && maxPlanes >= minPlanes)
    val needed = math.ceil(
      math.log(math.max(n, 1).toDouble / targetOccupancy) / math.log(2)).toInt
    math.min(maxPlanes, math.max(minPlanes, needed))
  }

  /** Near-duplicate pairs with BOTH the bucketing and the threshold in
    * exact integer arithmetic — the fully-oracle-able twin of
    * [[nearDupPairs]]: buckets from [[quantizedLshBucket]] sign bits over
    * integer hyperplanes, pair admission by the cross-multiplied squared
    * compare of [[quantizedPairsAbove]] (cos ≥ tNum/tDen over floor(x·scale)
    * vectors, BigInt / HUGEINT). Same scale posture as the float variant:
    * hot buckets above `maxBucket` are dropped via a windowed count BEFORE
    * any member array materializes, the pair expansion runs inside each
    * bounded bucket group, output is the deterministic (id_a < id_b) set.
    *
    * `maxHotDropFrac` < 1 arms the mis-sizing guard: a pre-flight
    * aggregation measures the fraction of rows living in dropped hot
    * buckets and FAILS LOUDLY (with an [[autoPlanes]] sizing hint) when it
    * exceeds the bound — without it, undersized planes silently shrink
    * the candidate set toward an edgeless no-op. The pre-flight is one
    * extra bucket-count job over the corpus; at any scale that is noise
    * next to the pair expansion it protects.
    */
  def quantizedLshPairsAbove(
      corpus: DataFrame,
      tNum: Int,
      tDen: Int,
      planes: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      scale: Double = 1e6,
      maxBucket: Int = 1000,
      maxHotDropFrac: Double = 1.0,
  ): DataFrame = {
    requireIntegralId(corpus, idCol)
    require(tNum > 0 && tDen > 0, "threshold must be a positive rational")
    require(tDen <= 128, "threshold denominators above 128 can push the " +
      "cross-multiplied compare past DuckDB's HUGEINT range (see quantizeChecked)")
    require(planes >= 1 && planes <= 62)
    val spark = corpus.sparkSession
    import spark.implicits._
    val nPlanes = planes
    val n2 = BigInt(tNum) * tNum
    val d2 = BigInt(tDen) * tDen
    val w = Window.partitionBy("bucket")
    corpus
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        val q = quantizeChecked(v, scale)
        var nn = 0L; var i = 0
        while (i < q.length) { nn += q(i) * q(i); i += 1 }
        (id, q, nn, quantizedLshBucket(q, nPlanes))
      }
      .toDF("id", "qv", "nn", "bucket")
      .withColumn("__n", count(lit(1)).over(w))
      .transform { bucketed =>
        if (maxHotDropFrac < 1.0) {
          val r = bucketed.agg(
            count(lit(1)).as("total"),
            sum(when(col("__n") > maxBucket, 1L).otherwise(0L)).as("dropped")).head
          val (total, dropped) = (r.getLong(0), r.getLong(1))
          if (total > 0 && dropped.toDouble / total > maxHotDropFrac)
            throw new IllegalStateException(
              f"quantizedLshPairsAbove: $dropped of $total rows " +
                f"(${dropped * 100.0 / total}%.1f%%) sit in buckets over the " +
                f"hot cap ($maxBucket) at planes=$planes — undersized planes " +
                f"degenerate to an edgeless no-op; size with autoPlanes" +
                f"(n=$total) = ${autoPlanes(total)}")
        }
        bucketed
      }
      .filter(col("__n").between(2, maxBucket))
      .drop("__n")
      .as[(Long, Array[Long], Long, Long)]
      .groupByKey(_._4)
      .flatMapGroups { (_, it) =>
        val items = it.toArray.sortBy(_._1) // bounded by the maxBucket filter
        val out = Iterator.newBuilder[(Long, Long)]
        var x = 0
        while (x < items.length) {
          var y = x + 1
          while (y < items.length) {
            val (ida, qa, na, _) = items(x)
            val (idb, qb, nb, _) = items(y)
            var d = 0L; var i = 0
            // common-prefix dot on mismatched dims (module contract)
            val nd = math.min(qa.length, qb.length)
            while (i < nd) { d += qa(i) * qb(i); i += 1 }
            if (d > 0 && d2 * (BigInt(d) * d) >= n2 * (BigInt(na) * nb))
              out += ((ida, idb))
            y += 1
          }
          x += 1
        }
        out.result()
      }
      .toDF("id_a", "id_b")
  }

  /** IVF-bucketed ANN in exact integer arithmetic — the fully-oracle-able
    * twin of [[ivfTopK]]. Centroids are NOT float-trained: they are the
    * quantized vectors of the `nCells` lowest-id corpus rows, so any
    * engine can re-derive them from the table itself (stronger than
    * literal-embedding trained floats — there is no training state to
    * drift). Cell assignment maximizes the integer dot product
    * (MIPS-style coarse quantization; ties break toward the lower cell
    * index), queries probe their `nProbe` best cells, candidates score by
    * integer dot — every comparison is exact, so cell membership, the
    * candidate set, and the final ranks are bit-identical across engines.
    * The float [[ivfTopK]] stays the production path (trained quantizer →
    * better recall); this twin pins the IVF mechanism end-to-end.
    */
  def quantizedIvfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      nCells: Int = 8,
      nProbe: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      scale: Double = 1e6,
  ): DataFrame = {
    requireIntegralId(corpus, idCol)
    requireIntegralId(queries, idCol)
    require(k >= 1 && nCells >= 1 && nProbe >= 1)
    val spark = corpus.sparkSession
    import spark.implicits._
    val cent = seedCentroids(corpus, nCells, idCol, vecCol, scale)
    val cb = spark.sparkContext.broadcast(cent)
    def bestCells(q: Array[Long], n: Int): Array[Int] =
      Similarity.bestCells(cb.value, q, n)

    val cells = corpus
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        val q = quantizeChecked(v, scale)
        (bestCells(q, 1)(0), id, q)
      }
      .toDF("cell", "neighbor_id", "c_q")
    val probes = queries
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .as[(Long, Array[Float])]
      .flatMap { case (id, v) =>
        val q = quantizeChecked(v, scale)
        bestCells(q, nProbe).map(c => (c, id, q))
      }
      .toDF("cell", "query_id", "q_q")

    val scored = cells
      .join(broadcast(probes), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score",
        aggregate(zip_with(col("c_q"), col("q_q"), (x, y) => x * y), lit(0L), _ + _))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "score")
  }

  /** IVF-PQ in exact integer arithmetic — the composition a 100 TB ANN
    * deployment actually runs (Jégou et al. 2011 §V: IVFADC): a coarse
    * quantizer routes vectors into cells, and PQ encodes the RESIDUAL
    * v − centroid(cell) — residuals are tighter than raw vectors, so the
    * same code budget buys more precision; queries probe `nProbe` cells
    * and score candidates with a PER-CELL ADC table over the query's
    * residual in that cell. Memory per vector: one cell id + m codes.
    *
    * Determinism contract: coarse centroids are [[quantizedIvfTopK]]'s
    * seeds (quantized `nCells` lowest-id vectors, MIPS assignment, ties
    * to the lower cell); the residual codebook's codewords are the
    * subspace slices of the `ks` lowest-id vectors' OWN-CELL residuals;
    * encoding argmin ties to the lower codeword; ranks ascend by
    * (dist, neighbor_id). Every step is integer, so cell routing, codes,
    * tables, and ranks are bit-identical across engines and the oracle
    * replays the ENTIRE index mechanics. (Float k-means at both levels
    * is the production recall lever, as with the other quantized twins.)
    *
    * Scale shape: centroids + residual codebooks broadcast; one map pass
    * emits (cell, id, m codes) and DROPS the vectors; the bounded query
    * batch broadcasts with one ADC table per probed cell; the cell
    * equi-join bounds score work to O(N·Q·nProbe/nCells) code lookups —
    * the IVF pruning and the PQ compression compose multiplicatively.
    */
  def quantizedIvfPqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      nCells: Int = 8,
      nProbe: Int = 2,
      m: Int = 8,
      ks: Int = 16,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      scale: Double = 1e6,
  ): DataFrame = {
    requireIntegralId(corpus, idCol)
    requireIntegralId(queries, idCol)
    require(k >= 1 && nCells >= 1 && nProbe >= 1 && m >= 1 && ks >= 1)
    val spark = corpus.sparkSession
    import spark.implicits._
    val cent = seedCentroids(corpus, nCells, idCol, vecCol, scale)
    val dim = cent(0).length
    require(cent.forall(_.length == dim),
      s"IVF-PQ requires uniform dimensionality; seed rows disagree with dim=$dim")
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val sub = dim / m

    def residual(q: Array[Long], cell: Int): Array[Long] = {
      val c = cent(cell)
      val out = new Array[Long](q.length)
      var i = 0
      while (i < q.length) { out(i) = q(i) - c(i); i += 1 }
      out
    }
    // residual codebook: subspace slices of the ks lowest-id vectors'
    // own-cell residuals (seedCentroids re-collects the same rows — the
    // shared deterministic seed contract, bounded at ks rows)
    val resSeeds = seedCentroids(corpus, ks, idCol, vecCol, scale).map { q =>
      require(q.length == dim, s"seed dim ${q.length} != $dim")
      residual(q, bestCells(cent, q, 1)(0))
    }
    val codebook: Array[Array[Array[Long]]] =
      Array.tabulate(m, resSeeds.length)((j, c) => resSeeds(c).slice(j * sub, (j + 1) * sub))
    val nCw = resSeeds.length
    val centB = spark.sparkContext.broadcast(cent)
    val cbB = spark.sparkContext.broadcast(codebook)

    def subDist(cw: Array[Long], v: Array[Long], j: Int): Long = {
      var s = 0L; var i = 0
      while (i < cw.length) { val d = v(j * cw.length + i) - cw(i); s += d * d; i += 1 }
      s
    }
    def encode(cb: Array[Array[Array[Long]]], r: Array[Long]): Array[Int] =
      Array.tabulate(cb.length) { j =>
        val cws = cb(j)
        var best = 0; var bd = subDist(cws(0), r, j); var c = 1
        while (c < cws.length) {
          val d = subDist(cws(c), r, j)
          if (d < bd) { best = c; bd = d }
          c += 1
        }
        best
      }

    val cells = corpus
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        val q = quantizeChecked(v, scale)
        require(q.length == dim, s"corpus vector dim ${q.length} != codebook dim $dim")
        val cell = bestCells(centB.value, q, 1)(0)
        (cell, id, encode(cbB.value, residualOf(q, centB.value(cell))))
      }
      .toDF("cell", "neighbor_id", "codes")
    // one ADC table per (query, probed cell) over the query's residual
    val probes: Array[(Int, Long, Array[Long])] = queries
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .as[(Long, Array[Float])]
      .collect()
      .flatMap { case (id, v) =>
        val q = quantizeChecked(v, scale)
        require(q.length == dim, s"IVF-PQ query vector dim ${q.length} != codebook dim $dim")
        bestCells(cent, q, nProbe).map { cell =>
          val r = residualOf(q, cent(cell))
          val table = new Array[Long](m * nCw)
          var j = 0
          while (j < m) {
            var c = 0
            while (c < nCw) { table(j * nCw + c) = subDist(codebook(j)(c), r, j); c += 1 }
            j += 1
          }
          (cell, id, table)
        }
      }
    val qdf = spark.createDataset(probes.toSeq).toDF("cell", "query_id", "q_table")
    val scored = cells
      .join(broadcast(qdf), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("dist",
        aggregate(
          zip_with(col("codes"), sequence(lit(0), lit(m - 1)),
            (code, j) => element_at(col("q_table"), (j * nCw + code + 1).cast("int"))),
          lit(0L), _ + _))
    val w = Window.partitionBy("query_id").orderBy(col("dist"), col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "dist")
  }

  /** q − c, elementwise (object-level so executor closures call it
    * statically without capturing the module).
    */
  private def residualOf(q: Array[Long], c: Array[Long]): Array[Long] = {
    val out = new Array[Long](q.length)
    var i = 0
    while (i < q.length) { out(i) = q(i) - c(i); i += 1 }
    out
  }

  /** Quantized vectors of the `nCells` lowest-id corpus rows — the ONE
    * deterministic seed-centroid contract shared by [[quantizedIvfTopK]]
    * and [[semDedup]] (a bounded ordered collect; any engine re-derives
    * the centroids from the table itself, so there is no training state
    * to drift cross-engine).
    */
  private def seedCentroids(corpus: DataFrame, nCells: Int, idCol: String,
                            vecCol: String, scale: Double): Array[Array[Long]] = {
    import corpus.sparkSession.implicits._
    val cent: Array[Array[Long]] = corpus
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .as[(Long, Array[Float])]
      .orderBy("id")
      .limit(nCells)
      .collect()
      .map { case (_, v) => quantizeChecked(v, scale) }
    require(cent.nonEmpty, "cannot derive seed centroids from an empty corpus")
    cent
  }

  /** The `n` best cells for `q` by integer dot product, ties toward the
    * lower cell index — the shared assignment kernel of the seed-centroid
    * operators. n = 1 takes a linear argmax (the per-row assignment hot
    * path must not pay a k·log k sort when nCells is corpus-scaled).
    */
  private def bestCells(cs: Array[Array[Long]], q: Array[Long], n: Int): Array[Int] = {
    val dots = new Array[Long](cs.length)
    var c = 0
    while (c < cs.length) {
      var d = 0L; var i = 0
      val nd = math.min(q.length, cs(c).length)
      while (i < nd) { d += q(i) * cs(c)(i); i += 1 }
      dots(c) = d; c += 1
    }
    if (n == 1) {
      var best = 0; var bc = 1
      while (bc < cs.length) { if (dots(bc) > dots(best)) best = bc; bc += 1 }
      Array(best)
    } else cs.indices.sortBy(c => (-dots(c), c)).take(n).toArray
  }

  /** Exact top-k by quantized squared-L2 distance (ranks ascend by
    * (dist, neighbor_id)) — the exact-integer distance face
    * [[quantizedPqTopK]] trades against, and the truth its recall is
    * measured on (PqSpec). Same physical shape as [[quantizedMipsTopK]]:
    * broadcast queries, partition-local bounded min-heaps, global window
    * over ≤ partitions × Q × k survivors.
    */
  def quantizedL2TopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      scale: Double = 1e6,
  ): DataFrame = {
    requireIntegralId(corpus, idCol)
    requireIntegralId(queries, idCol)
    require(k >= 1, "k must be >= 1")
    val spark = corpus.sparkSession
    import spark.implicits._
    val q = queries
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .as[(Long, Array[Float])]
      .collect()
      .map { case (id, v) => (id, quantizeChecked(v, scale)) }
    // min-distance top-k: the heap's "worst kept" is the LARGEST (dist, id)
    val worstFirst = Ordering.Tuple2[Long, Long]
    val scored = broadcastHeapTopK[Array[Long], Array[Long], Long](
      corpus.filter(col(vecCol).isNotNull)
        .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec")).as[(Long, Array[Float])],
      q, k,
      prep = cv => quantizeChecked(cv, scale),
      scoreOf = { (qv, cq) =>
        var s = 0L; var j = 0
        val nd = math.min(qv.length, cq.length)
        while (j < nd) { val d = qv(j) - cq(j); s += d * d; j += 1 }
        s
      },
      worstFirst, "dist")
    val w = Window.partitionBy("query_id").orderBy(col("dist"), col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "dist")
  }

  /** Product-quantized ANN (Jégou, Douze & Schmid 2011, "Product
    * Quantization for Nearest Neighbor Search", IEEE TPAMI 33(1)) in
    * exact integer arithmetic — the ANN COMPRESSION path at 100 TB: each
    * corpus vector is stored as `m` sub-codeword indices (m bytes at
    * ks ≤ 256) instead of D floats (64-dim float32 → 8 codes is 32×),
    * and a query scores candidates by Asymmetric Distance Computation:
    * one m×ks lookup table per query, then
    * `dist(candidate) = Σ_j table(j, code_j)` — O(m) per candidate with
    * NO access to the original vector.
    *
    * Codebooks follow [[quantizedIvfTopK]]'s seed contract: subspace j's
    * codewords are the j-th slices of the quantized `ks` lowest-id corpus
    * vectors — re-derivable from the table itself, so encoding, the
    * lookup tables, and the final ranks are bit-identical across engines
    * (a float k-means codebook per subspace is the production recall
    * lever, exactly as trained [[ivfTopK]] twins its quantized face).
    * Distances are squared L2 in the quantized space; ranks ascend by
    * (dist, neighbor_id); ties in codeword assignment break toward the
    * lower codeword index. [[quantizeChecked]]'s magnitude bound keeps
    * every subspace distance sum exact in Long.
    *
    * Scale shape: codebooks broadcast inside the closure (m·ks·subDim
    * longs); encoding is ONE map pass after which the original vectors
    * are dropped — the scoring pass reads m codes per row, not D floats;
    * the bounded query batch broadcasts WITH precomputed tables;
    * partition-local k-heaps prune the exchange to ≤ partitions × Q × k
    * rows. No shuffle touches anything vector-sized.
    */
  def quantizedPqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      m: Int = 8,
      ks: Int = 16,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      scale: Double = 1e6,
  ): DataFrame =
    quantizedPqTopKWith(pqCodebook(corpus, m, ks, idCol, vecCol, scale),
      corpus, queries, k, idCol, vecCol, scale)

  /** The seed-contract PQ codebook of [[quantizedPqTopK]], exposed for
    * the train-once/serve-forever lifecycle: `codebook(j)(c)` = the
    * subspace-j slice of the quantized c-th lowest-id corpus vector.
    */
  def pqCodebook(corpus: DataFrame, m: Int, ks: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding",
                 scale: Double = 1e6): Array[Array[Array[Long]]] = {
    require(m >= 1 && ks >= 1)
    val seeds = seedCentroids(corpus, ks, idCol, vecCol, scale)
    val dim = seeds(0).length
    require(seeds.forall(_.length == dim),
      s"PQ requires uniform dimensionality; seed rows disagree with dim=$dim")
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val sub = dim / m
    Array.tabulate(m, seeds.length)((j, c) => seeds(c).slice(j * sub, (j + 1) * sub))
  }

  /** Persist a PQ codebook as a (subspace, cw, codeword) parquet — the
    * index artifact: encode/serve jobs [[loadPqCodebook]] +
    * [[quantizedPqTopKWith]] without re-deriving from the corpus (and a
    * FLOAT-k-means-trained codebook would flow through the same files).
    * Longs round-trip exactly, so the reloaded index serves IDENTICAL
    * top-k (PqSpec).
    */
  def savePqCodebook(spark: org.apache.spark.sql.SparkSession,
                     codebook: Array[Array[Array[Long]]], outDir: String): Unit = {
    require(codebook.nonEmpty && codebook(0).nonEmpty,
      "refusing to persist an empty codebook")
    import spark.implicits._
    (for {
      j <- codebook.indices
      c <- codebook(j).indices
    } yield (j, c, codebook(j)(c))).toDF("subspace", "cw", "codeword")
      .coalesce(1).write.mode("overwrite").parquet(outDir)
  }

  /** Reload a persisted PQ codebook. Validates the (subspace, cw) grid is
    * complete and uniform — a dropped row would silently remap every code
    * downstream, so it fails fast instead.
    */
  def loadPqCodebook(spark: org.apache.spark.sql.SparkSession,
                     dir: String): Array[Array[Array[Long]]] = {
    import spark.implicits._
    val rows = spark.read.parquet(dir)
      .select(col("subspace").cast("int"), col("cw").cast("int"), col("codeword"))
      .as[(Int, Int, Array[Long])]
      .collect()
    require(rows.nonEmpty, s"no codebook rows under $dir")
    val m = rows.map(_._1).max + 1
    val ks = rows.map(_._2).max + 1
    require(rows.length == m * ks &&
      rows.map(r => (r._1, r._2)).toSet.size == m * ks,
      s"codebook grid must be complete ${m}x$ks, got ${rows.length} rows")
    val sub = rows(0)._3.length
    require(rows.forall(_._3.length == sub), "codeword lengths disagree")
    val out = Array.ofDim[Array[Long]](m, ks)
    rows.foreach { case (j, c, v) => out(j)(c) = v }
    out
  }

  /** [[quantizedPqTopK]] against a PRE-DERIVED codebook — the serving
    * path of the persisted index.
    */
  def quantizedPqTopKWith(
      codebook: Array[Array[Array[Long]]],
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      scale: Double = 1e6,
  ): DataFrame = {
    requireIntegralId(corpus, idCol)
    requireIntegralId(queries, idCol)
    require(k >= 1)
    require(codebook.nonEmpty && codebook(0).nonEmpty, "codebook must be non-empty")
    val spark = corpus.sparkSession
    import spark.implicits._
    val m = codebook.length
    val sub = codebook(0)(0).length
    val dim = m * sub
    val cbB = spark.sparkContext.broadcast(codebook)

    // squared L2 between v's subspace-j slice and codeword cw
    def subDist(cw: Array[Long], v: Array[Long], j: Int): Long = {
      var s = 0L; var i = 0
      while (i < cw.length) { val d = v(j * cw.length + i) - cw(i); s += d * d; i += 1 }
      s
    }
    def encode(cb: Array[Array[Array[Long]]], v: Array[Long]): Array[Int] = {
      require(v.length == cb.length * cb(0)(0).length,
        s"PQ corpus vector dim ${v.length} != codebook dim ${cb.length * cb(0)(0).length}")
      Array.tabulate(cb.length) { j =>
        val cws = cb(j)
        var best = 0; var bd = subDist(cws(0), v, j); var c = 1
        while (c < cws.length) {
          val d = subDist(cws(c), v, j)
          if (d < bd) { best = c; bd = d }
          c += 1
        }
        best
      }
    }

    // query payload: the flattened m×ks ADC lookup table
    val q: Array[(Long, Array[Long])] = queries
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .as[(Long, Array[Float])]
      .collect()
      .map { case (id, v) =>
        val qv = quantizeChecked(v, scale)
        require(qv.length == dim, s"PQ query vector dim ${qv.length} != codebook dim $dim")
        val nk = codebook(0).length
        val table = new Array[Long](m * nk)
        var j = 0
        while (j < m) {
          var c = 0
          while (c < nk) {
            table(j * nk + c) = subDist(codebook(j)(c), qv, j)
            c += 1
          }
          j += 1
        }
        (id, table)
      }
    val nCw = codebook(0).length
    val worstFirst = Ordering.Tuple2[Long, Long]
    val scored = broadcastHeapTopK[Array[Long], Array[Int], Long](
      corpus.filter(col(vecCol).isNotNull)
        .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec")).as[(Long, Array[Float])],
      q, k,
      prep = cv => encode(cbB.value, quantizeChecked(cv, scale)),
      scoreOf = { (table, codes) =>
        var s = 0L; var j = 0
        while (j < codes.length) { s += table(j * nCw + codes(j)); j += 1 }
        s
      },
      worstFirst, "dist")
    val w = Window.partitionBy("query_id").orderBy(col("dist"), col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "dist")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    * clustering the embedding space and deduplicating WITHIN clusters
    * only — the two-level design that makes embedding dedup tractable at
    * corpus scale (the paper runs k-means with k≈50k on LAION; pair work
    * drops from O(N²) to O(Σ cell²) ≈ O(N²/nCells)). Per vector:
    * `(vec_id, cell, keep)` where `keep` is false iff a SMALLER-id
    * cluster-mate sits at-or-above the cosine threshold — the paper's
    * "keep one representative per intra-cluster duplicate group", made
    * deterministic by id order (duplicate ids never dominate each other:
    * the compare is strict on id, not on sort position).
    *
    * Kept integer-exact end-to-end so the DuckDB oracle hash-matches the
    * whole mechanism (centroid assignment INCLUDED, not just the pair
    * predicate): centroids are the shared [[seedCentroids]] contract,
    * assignment is argmax integer dot with ties to the lowest cell index
    * ([[bestCells]]), and the threshold compare is the cross-multiplied
    * d²·dot² ≥ n²·|a|²·|b|² from [[quantizedPairsAbove]] (BigInt on the
    * JVM, HUGEINT in the oracle — [[quantizeChecked]]'s magnitude bound
    * keeps both exact).
    *
    * Scale shape: one broadcast of nCells quantized centroids, one
    * map-side assignment pass, then per-cell pair scans via
    * `groupByKey(cell).flatMapGroups` — each cell is buffered in ONE
    * task (the SemDeDup regime: nCells scales with the corpus so a cell
    * stays executor-sized), sorted by id, and scanned with early exit on
    * the first dominator (a duplicate-heavy cell does ~1 dot per dropped
    * row, not cell²/2). `maxCellRows` fails loudly when an under-sized
    * nCells would silently buffer a corpus-scale cell — the check runs on
    * a bounded `take(maxCellRows + 1)` of the group iterator, so the
    * refusal fires BEFORE an oversized cell is materialized (guarding
    * against the OOM it exists to prevent, not after it). Resize nCells,
    * don't raise the cap, is almost always the fix.
    */
  def semDedup(
      corpus: DataFrame,
      tNum: Int,
      tDen: Int,
      nCells: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      scale: Double = 1e6,
      maxCellRows: Int = 1 << 17,
  ): DataFrame = {
    requireIntegralId(corpus, idCol)
    require(tNum > 0 && tDen > 0, "threshold must be a positive rational")
    require(tDen <= 128, "threshold denominators above 128 can push the " +
      "cross-multiplied compare past DuckDB's HUGEINT range (see quantizeChecked)")
    require(nCells >= 1 && maxCellRows >= 1)
    val spark = corpus.sparkSession
    import spark.implicits._
    val cb = spark.sparkContext.broadcast(
      seedCentroids(corpus, nCells, idCol, vecCol, scale))
    val n2 = BigInt(tNum) * tNum
    val d2 = BigInt(tDen) * tDen

    corpus
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        val q = quantizeChecked(v, scale)
        var nn = 0L; var i = 0
        while (i < q.length) { nn += q(i) * q(i); i += 1 }
        (bestCells(cb.value, q, 1)(0), id, q, nn)
      }
      .groupByKey(_._1)
      .flatMapGroups { (cell, it) =>
        val rows = it.take(maxCellRows + 1).toArray
        if (rows.length > maxCellRows)
          throw new IllegalStateException(
            s"SemDeDup cell $cell holds more than maxCellRows=$maxCellRows rows: " +
              "nCells is undersized for this corpus — scale nCells with N " +
              "(the paper's regime) rather than raising the cap")
        java.util.Arrays.sort(rows, Ordering.by((r: (Int, Long, Array[Long], Long)) => r._2))
        rows.iterator.zipWithIndex.map { case ((_, id, q, nn), k) =>
          var dominated = false
          var j = 0
          while (j < k && !dominated) {
            val (_, aid, qa, na) = rows(j)
            // strict id compare, not sort position: duplicate ids must not
            // dominate each other (they are not SMALLER-id mates)
            if (aid < id) {
              var d = 0L; var x = 0
              val nx = math.min(q.length, qa.length)
              while (x < nx) { d += q(x) * qa(x); x += 1 }
              if (d > 0 && d2 * (BigInt(d) * d) >= n2 * (BigInt(na) * nn))
                dominated = true
            }
            j += 1
          }
          (id, cell, !dominated)
        }
      }
      .toDF(idCol, "cell", "keep")
  }

  /** RECALL@k accounting of an approximate ANN result against its exact
    * twin: per query id, how many results the approximate pass returned
    * (`n_approx` — bucket/cell misses can leave it under k) and how many
    * of them are in the exact top-k (`n_found`). Both inputs are
    * (query_id, neighbor_id, ...) frames as returned by the topK
    * operators. Integer-valued by construction, which is what makes the
    * float-kernel ANN paths ORACLE-able: float sims only ever ORDER
    * candidates, they never appear in the output, so borderline rounding
    * can only flip a result at the exact k-boundary (the same exposure
    * the green ann_brute_topk oracle already carries).
    *
    * Scale: both sides are already ≤ Q·k rows; two small aggregations and
    * broadcast-size joins against the query id list.
    */
  def recallAgainst(approx: DataFrame, exact: DataFrame, queries: DataFrame,
                    idCol: String = "vec_id"): DataFrame = {
    val a = approx.select(col("query_id"), col("neighbor_id"))
    val e = exact.select(col("query_id"), col("neighbor_id"))
    val nA = a.groupBy("query_id").agg(count(lit(1)).as("n_approx"))
    val nF = a.join(e, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_found"))
    queries.select(col(idCol).cast("long").as("query_id")).distinct()
      .join(nA, Seq("query_id"), "left")
      .join(nF, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_approx"), lit(0L)).as("n_approx"),
        coalesce(col("n_found"), lit(0L)).as("n_found"))
  }
}
