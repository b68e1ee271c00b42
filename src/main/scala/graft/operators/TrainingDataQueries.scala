package graft.operators

import org.apache.spark.sql.functions._

import graft.{Q, Tables}

/** Registered queries for the training-data pipeline operators over the
  * `documents` and `embeddings` tables. The text-hash pipelines
  * (minhash-LSH, simhash, n-gram candidate ranking) run in the md5 oracle
  * family (MinHash.md5Hash60 — bit-identical in DuckDB), so banding,
  * hot-bucket policy and canonicalization hash-match a generated SQL twin;
  * production keeps the faster xxhash64/murmur3 family, whose kernels are
  * pinned by unit specs. The FLOAT embedding-space LSH/IVF queries stay
  * rows-only — their bucketing hinges on float dot-product SIGNS, which no
  * cross-engine SQL reproduces bit-for-bit — but each has a fully-oracled
  * quantized-integer twin (ann_quant_lsh_topk, ann_quant_ivf_topk,
  * d_embed_neardup_quant_lsh) that hash-matches the bucketing mechanism
  * itself, plus the exact twins d_embed_neardup_exact / d_embed_cc.
  */
object TrainingDataQueries {

  /** The ONE embedding near-dup edge definition — threshold and SQL shared
    * by d_embed_neardup_exact and BOTH CC closures, so the three queries can
    * only ever verify the same graph (they previously inlined the 0.35 and
    * the 15-line recursive CTE independently; a partial edit would have
    * silently desynchronized them). MUST be declared BEFORE `queries`: the
    * oracle strings are built during that val's initialization, and a
    * later-declared val would still read as 0.0 there (the Spark closures
    * run after init and would see 0.35 — a silent Spark/oracle split).
    */
  private val EmbedSimThreshold = 0.35

  private def embedEdgeSql: String = s"""
          SELECT a.vec_id AS ia, b.vec_id AS ib
          FROM embeddings a, embeddings b
          WHERE a.vec_id < b.vec_id
            AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= $EmbedSimThreshold"""

  private def embedCcOracleSql: String = s"""
        WITH RECURSIVE e AS ($embedEdgeSql
        ),
        sym AS (SELECT ia AS a, ib AS b FROM e UNION ALL SELECT ib, ia FROM e),
        r(a, b) AS (
          SELECT vec_id, vec_id FROM embeddings
          UNION
          SELECT r.a, s.b FROM r JOIN sym s ON r.b = s.a
        )
        SELECT a AS vec_id, min(b) AS component
        FROM r GROUP BY a ORDER BY vec_id"""

  val queries: Seq[Q] = Seq(
    // MinHash+LSH near-dup canonicalization (D2), md5 oracle family —
    // full hash-match against the generated DuckDB twin.
    Q(
      "d_minhash_lsh",
      (s, dir) =>
        MinHash
          .nearDupCanonicalMd5(Tables(s, dir, "documents"))
          .orderBy("doc_id"),
      Some(minhashLshOracleSql),
    ),
    // Incremental ingestion dedup: the 20% incoming id-bucket flagged
    // against the 80% existing corpus via shared LSH band buckets —
    // incoming-vs-incoming dups deliberately unflagged (ingestion-order
    // independence). Same md5 band family as d_minhash_lsh's oracle.
    Q(
      "d_incremental_dedup",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val bkt = TextAnalysis.splitBucket(col("doc_id"))
        MinHash
          .nearDupAgainstMd5(docs.filter(bkt >= 80), docs.filter(bkt < 80))
          .orderBy("doc_id")
      },
      Some(incrementalDedupOracleSql),
    ),
    // SimHash fingerprints + chunk-bucket canonicalization (D3), md5
    // oracle family (32-bit fingerprint, 4 × 8-bit chunks).
    Q(
      "d_simhash",
      (s, dir) =>
        SimHash
          .nearDupCanonicalMd5(Tables(s, dir, "documents"))
          .orderBy("doc_id"),
      Some(simhashOracleSql),
    ),
    // Verified Hamming join over the simhash fingerprints: ALL pairs at
    // bit distance ≤ 3, via the complete 4-chunk pigeonhole candidate
    // filter + exact bit-count verify — sound AND complete, unlike the
    // canonicalization face's chunk sharing. The oracle brute-forces the
    // cross join (fine at oracle sf); the operator's only shuffle is the
    // chunk-bucket exchange.
    Q(
      "d_simhash_hamming",
      (s, dir) =>
        SimHash
          .hammingPairs(
            SimHash.simhashOfMd5(Tables(s, dir, "documents")), r = 3, bits = 32)
          .orderBy("id_a", "id_b"),
      Some(simhashHammingOracleSql),
    ),
    // Corpus-statistics quality signal: per-doc floor-mean corpus
    // frequency of its word bigrams — the integer-exact skeleton of
    // LM-likelihood filtering. One bigram-count pass (map-side combined),
    // one co-partitioned join, one per-doc fold.
    Q(
      "c_bigram_support",
      (s, dir) =>
        Curation
          .bigramSupport(Tables(s, dir, "documents"))
          .orderBy("doc_id"),
      Some(BigramSupportOracleSql),
    ),
    // The skew-immune agg-join shape of the same operator, oracle-gated in
    // its own right: bigramSupport's sampled pre-flight dispatches to this
    // plan on hot-bigram corpora, so the fallback must hold the SAME
    // oracle hash as the windowed default — not just spec-level equality.
    Q(
      "c_bigram_support_aggjoin",
      (s, dir) =>
        Curation
          .bigramSupportAggJoin(Tables(s, dir, "documents"))
          .orderBy("doc_id"),
      Some(BigramSupportOracleSql),
    ),
    // n-gram Jaccard verification of LSH candidates (D4): top-20 candidate
    // pairs by exact 3-gram Jaccard, candidates from the md5-family bands.
    Q(
      "d_ngram_jaccard",
      (s, dir) => {
        val docs = Tables(s, dir, "documents").select("doc_id", "text")
        // estimate-then-verify: rank LSH candidates by how many bands they
        // collide in (pairs expanded inside each small bucket array — the
        // signature pipeline runs ONCE, no self-join), then run the exact
        // shingle-set Jaccard only on the top slice. At scale exact
        // verification of every candidate dominates the job.
        val estimated = MinHash
          .bucketPairCountsMd5(docs)
          .orderBy(col("shared_bands").desc, col("id_a"), col("id_b"))
          .limit(100)
        // 100 candidate rows — broadcast them (and the first join's output)
        // into the text lookups so the doc table is never shuffled
        broadcast(broadcast(estimated)
          .join(docs.select(col("doc_id").as("id_a"), col("text").as("text_a")), Seq("id_a")))
          .join(docs.select(col("doc_id").as("id_b"), col("text").as("text_b")), Seq("id_b"))
          .select(col("id_a"), col("id_b"),
            round(MinHash.exactJaccard(col("text_a"), col("text_b")), 4).as("jaccard"))
          .orderBy(col("jaccard").desc, col("id_a"), col("id_b"))
          .limit(20)
      },
      Some(ngramJaccardOracleSql),
    ),
    // Dedup RECALL oracle: the banded MinHash candidate set measured
    // against the EXACT Jaccard-≥0.5 pair set (shingle inverted index,
    // integer cross-multiplied threshold, fail-loud pair-mass guard) —
    // the dedup twin of ann_lsh_recall/ann_ivf_recall. One integer row
    // (n_true_pairs, n_cand_pairs, n_hit); the DuckDB oracle replays
    // BOTH feeders (md5-60 shingle hashes + the md5 band family) and
    // the full-outer merge. 25 true pairs at sf0.01 — non-vacuous.
    Q(
      "d_minhash_recall",
      (s, dir) => MinHash.minhashRecall(Tables(s, dir, "documents")),
      Some(minhashRecallOracleSql),
    ),
    // Dedup-rate CURVE: exact pair counts and greedy-drop doc counts at
    // six Jaccard thresholds from ONE exact pair frame (computed at the
    // loosest τ=0.3, guard armed) — the τ-tuning report behind the band
    // parameters. Every threshold row always present (zero-filled).
    Q(
      "d_dedup_thresholds",
      (s, dir) => MinHash.dedupThresholdCurve(Tables(s, dir, "documents")),
      Some(dedupThresholdsOracleSql),
    ),
    // The composed RELEASE pipeline over the round-15 selection surface:
    // train split → near-dup canonical keep (train-side bucket sizes —
    // the dedup must not see eval docs) → α=1/2 temperature quotas over
    // the SURVIVORS → per-language token-prefix admission. ONE
    // end-to-end hash: the oracle chains the split rule, the md5 band
    // CTEs restricted to the train side, the shared langBalance CTEs
    // (budget 8000 over survivors), and the per-language cumsum.
    Q(
      "c_pipeline_release",
      (s, dir) => {
        import s.implicits._
        val docs = Tables(s, dir, "documents")
        val train = docs.filter(
          TextAnalysis.splitName(org.apache.spark.sql.functions.col("doc_id")) === "train")
        val canon = MinHash.nearDupCanonicalMd5(train).select("doc_id", "canonical_id")
        // r21: `surv` feeds the langBalance collect AND the final
        // sourceBudgetSample — without a pin the whole MinHash canonical
        // pipeline (signatures + band window + join) executed twice. The
        // frame is survivor-doc-scale; one materialization beats a second
        // LSH pass at any scale (guide §2.4; plan diff in
        // plans/r21/c_pipeline_release_{before,after}.txt).
        val surv = train.join(canon, Seq("doc_id"))
          .filter(org.apache.spark.sql.functions.col("canonical_id") ===
            org.apache.spark.sql.functions.col("doc_id"))
          .drop("canonical_id")
          .localCheckpoint(true)
        val quotas = Curation.langBalance(surv, budget = 8000L)
          .select("lang", "alloc").as[(String, Long)].collect().toMap
        Curation.sourceBudgetSample(surv, quotas, srcCol = "lang").orderBy("doc_id")
      },
      Some(pipelineReleaseOracleSql),
    ),
    // Verified near-dup canonicalization: LSH candidates → EXACT
    // shingle-Jaccard verification (integer cross-multiplied ≥ 1/2) →
    // connected components over the verified edges only. Closes the
    // band-collision false-positive arm the bucket-sharing canonical
    // (d_minhash_lsh) accepts by construction; the oracle replays the
    // band CTEs, the candidate-restricted intersection counts, and the
    // closure as a recursive CTE.
    Q(
      "d_minhash_verified",
      (s, dir) =>
        MinHash
          .verifiedNearDupCanonicalMd5(Tables(s, dir, "documents"))
          .orderBy("doc_id"),
      Some(minhashVerifiedOracleSql),
    ),
    // Curation FUNNEL: the release report a pipeline run ships — one row
    // per stage (raw → near-dup dedup → quality rules) with surviving
    // doc/token counts. ONE aggregation pass: the canonical join and both
    // gate flags are computed per row, the three stages fall out of
    // conditional sums, and stack() unpivots the single row — the corpus
    // is scanned once however many stages the funnel reports. Fully
    // oracled through the md5 canonical + rules CTE chains.
    Q(
      "c_curation_funnel",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val canon = MinHash.nearDupCanonicalMd5(docs).select("doc_id", "canonical_id")
        val toks = TextAnalysis.tokenCount(col("text"))
        docs
          .join(canon, Seq("doc_id"))
          .select(toks.as("toks"),
            (col("canonical_id") === col("doc_id")).as("keep"),
            TextAnalysis.qualityPass(col("text")).as("q"))
          .agg(
            count(lit(1)).as("d1"), sum(col("toks")).as("t1"),
            sum(when(col("keep"), 1L)).as("d2"),
            sum(when(col("keep"), col("toks"))).as("t2"),
            sum(when(col("keep") && col("q"), 1L)).as("d3"),
            sum(when(col("keep") && col("q"), col("toks"))).as("t3"))
          .selectExpr("""stack(3,
            '1_raw', d1, t1,
            '2_dedup', d2, t2,
            '3_quality', d3, t3) AS (stage, n_docs, n_tokens)""")
          .orderBy("stage")
      },
      Some(curationFunnelOracleSql),
    ),
    // Exact 3-gram Jaccard with a full DuckDB oracle: deterministic pair
    // selection (each doc vs the next doc_id inside its n_chars%16 bucket —
    // a partitioned lead(), no global sort), then the same shingle-set
    // Jaccard on both sides. Verifies the exactJaccard kernel end-to-end;
    // the LSH candidate path stays rows-only (xxhash64 isn't in DuckDB).
    Q(
      "d_jaccard_exact",
      (s, dir) => {
        import s.implicits._
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(pmod(col("n_chars"), lit(16)))
          .orderBy("doc_id")
        Tables(s, dir, "documents")
          // null text has no shingles and would NPE the JVM kernel; pair
          // only real documents (the oracle filters identically)
          .filter(col("text").isNotNull)
          .select(col("doc_id"), col("text"), col("n_chars"))
          .withColumn("next_id", lead("doc_id", 1).over(w))
          .withColumn("next_text", lead("text", 1).over(w))
          .filter(col("next_id").isNotNull)
          .select(col("doc_id"), col("next_id"), col("text"), col("next_text"))
          .as[(Long, Long, String, String)]
          .map { case (a, b, ta, tb) =>
            // same rounding as Spark's round(col, 4) on doubles
            val j = java.math.BigDecimal
              .valueOf(MinHash.exactJaccardJvm(ta, tb))
              .setScale(4, java.math.RoundingMode.HALF_UP)
              .doubleValue()
            (a, b, j)
          }
          .toDF("doc_id", "next_id", "jaccard")
          .orderBy("doc_id")
      },
      Some("""
        WITH p AS (
          SELECT doc_id, text,
                 lead(doc_id) OVER (PARTITION BY n_chars % 16 ORDER BY doc_id) AS next_id,
                 lead(text)   OVER (PARTITION BY n_chars % 16 ORDER BY doc_id) AS next_text
          FROM documents WHERE text IS NOT NULL
        ),
        g AS (
          SELECT doc_id, next_id,
                 list_distinct(CASE WHEN len(string_split_regex(trim(text), '\s+')) < 3
                   THEN [array_to_string(string_split_regex(trim(text), '\s+'), ' ')]
                   ELSE list_transform(range(1, len(string_split_regex(trim(text), '\s+')) - 1),
                        i -> array_to_string(string_split_regex(trim(text), '\s+')[i:i+2], ' ')) END) AS sa,
                 list_distinct(CASE WHEN len(string_split_regex(trim(next_text), '\s+')) < 3
                   THEN [array_to_string(string_split_regex(trim(next_text), '\s+'), ' ')]
                   ELSE list_transform(range(1, len(string_split_regex(trim(next_text), '\s+')) - 1),
                        i -> array_to_string(string_split_regex(trim(next_text), '\s+')[i:i+2], ' ')) END) AS sb
          FROM p WHERE next_id IS NOT NULL
        )
        SELECT doc_id, next_id,
               round(len(list_intersect(sa, sb)) * 1.0
                     / (len(sa) + len(sb) - len(list_intersect(sa, sb))), 4) AS jaccard
        FROM g ORDER BY doc_id"""),
    ),
    // Exact embedding near-dup pairs (the brute-force baseline the LSH
    // variant approximates) — ID-only output so float formula differences
    // in the last ulp can't flip the hash; threshold far from the sim bulk.
    Q(
      "d_embed_neardup_exact",
      (s, dir) =>
        Similarity
          .exactPairsAbove(Tables(s, dir, "embeddings"), threshold = EmbedSimThreshold)
          .orderBy("id_a", "id_b"),
      Some(s"""
        SELECT ia AS id_a, ib AS id_b FROM ($embedEdgeSql
        ) ORDER BY id_a, id_b"""),
    ),
    // Connected-components closure of the exact near-dup relation into
    // canonical clusters, oracled against a DuckDB recursive-CTE transitive
    // closure over the same deterministic edge set.
    Q(
      "d_embed_cc",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        val edges = Similarity.exactPairsAbove(emb, threshold = EmbedSimThreshold)
        Dedup.connectedComponents(emb.select("vec_id"), edges).labels
          .select(col("id").as("vec_id"), col("comp").as("component"))
          .orderBy("vec_id")
      },
      Some(embedCcOracleSql),
    ),
    // Same closure through the Kiveris large/small-star contraction — the
    // O(log² n)-rounds-at-any-diameter variant (plain min-label needs
    // O(diameter)); oracled against the identical recursive-CTE closure so
    // the algorithm swap is verified on real data, not just the unit
    // graphs in TrainingOpsSpec.
    Q(
      "d_embed_cc_stars",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        val edges = Similarity.exactPairsAbove(emb, threshold = EmbedSimThreshold)
        Dedup.connectedComponentsStars(emb.select("vec_id"), edges).labels
          .select(col("id").as("vec_id"), col("comp").as("component"))
          .orderBy("vec_id")
      },
      Some(embedCcOracleSql),
    ),
    // THE production-scale CC registration: candidate edges from the
    // quantized-LSH bucket mechanism (O(N·B) pair work inside bounded
    // buckets — never the O(N²) all-pairs kernel) closed with the
    // large/small-star contraction. Both halves were already
    // cross-engine exact (d_embed_neardup_quant_lsh pins the edge set,
    // d_embed_cc_stars pins the closure); this composes them so the
    // 100×-safe shape is what a user gets by name. d_embed_cc /
    // d_embed_cc_stars stay as the exact-edge small-sf twins.
    // planes=8 (256 buckets), not the pair query's 4: bucket count is
    // the occupancy knob, and at the 30× probe scale 16 buckets all
    // blow past the hot cap — the query would "scale" by degenerating
    // to an edgeless no-op instead of doing bounded real work. planes
    // stays PINNED (the oracle SQL derives the same 8-plane buckets);
    // at runtime-sized deployments use Similarity.autoPlanes. The armed
    // maxHotDropFrac guard turns the silent degeneration into a loud
    // failure: if over half the corpus lands in dropped hot buckets,
    // the query dies with a sizing hint instead of returning an
    // edgeless "result".
    Q(
      "d_embed_cc_lsh",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        val edges = Similarity.quantizedLshPairsAbove(
          emb, tNum = 7, tDen = 20, planes = 8, maxHotDropFrac = 0.5)
        Dedup.connectedComponentsStars(emb.select("vec_id"), edges).labels
          .select(col("id").as("vec_id"), col("comp").as("component"))
          .orderBy("vec_id")
      },
      Some(quantLshCcOracleSql),
    ),
    // Quantized-integer near-dup pairs: cos ≥ 7/20 over floor(x·1e6)
    // vectors via the cross-multiplied squared compare — exact integer
    // arithmetic end-to-end (BigInt / HUGEINT), so the pair set
    // hash-matches across engines with no float threshold jitter.
    Q(
      "d_embed_neardup_quant",
      (s, dir) =>
        Similarity
          .quantizedPairsAbove(Tables(s, dir, "embeddings"), tNum = 7, tDen = 20)
          .orderBy("id_a", "id_b"),
      Some("""
        WITH qz AS (
          SELECT vec_id,
                 list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
          FROM embeddings WHERE embedding IS NOT NULL
        ),
        n AS (SELECT vec_id, qv,
                     CAST(list_sum(list_transform(qv, x -> x * x)) AS HUGEINT) AS n2
              FROM qz),
        p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
                       i -> a.qv[i] * b.qv[i])) AS HUGEINT) AS dot,
                     a.n2 AS na2, b.n2 AS nb2
              FROM n a, n b WHERE a.vec_id < b.vec_id)
        SELECT id_a, id_b FROM p
        WHERE dot > 0 AND 400 * dot * dot >= 49 * na2 * nb2
        ORDER BY id_a, id_b"""),
    ),
    // Semantic decontamination: train vectors whose quantized cosine vs
    // ANY md5-held-out test vector reaches 7/20 — the embedding-space
    // counterpart of c_substr_decon, fully integer-exact. The oracle
    // replays split, quantization, and the cross-multiplied compare.
    Q(
      "c_embed_decon",
      (s, dir) =>
        Similarity.semanticDecon(Tables(s, dir, "embeddings"), tNum = 7, tDen = 20)
          .orderBy("vec_id"),
      Some("""
        WITH qz AS (
          SELECT vec_id,
                 list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv,
                 CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 4) AS BIGINT)
                   % 100 AS bkt
          FROM embeddings WHERE embedding IS NOT NULL
        ),
        n AS (SELECT vec_id, qv, bkt,
                     CAST(list_sum(list_transform(qv, x -> x * x)) AS HUGEINT) AS n2
              FROM qz),
        p AS (SELECT tr.vec_id, te.vec_id AS tid,
                     CAST(list_sum(list_transform(range(1, len(tr.qv) + 1),
                       i -> tr.qv[i] * te.qv[i])) AS HUGEINT) AS dot,
                     tr.n2 AS na2, te.n2 AS nb2
              FROM n tr, n te WHERE tr.bkt < 90 AND te.bkt >= 90)
        SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_test_hits,
               CAST(MIN(tid) AS BIGINT) AS first_test_id
        FROM p WHERE dot > 0 AND 400 * dot * dot >= 49 * na2 * nb2
        GROUP BY vec_id ORDER BY vec_id"""),
    ),
    // SemDeDup (Abbas et al. 2023): cluster-then-dedup-within-cluster,
    // whole mechanism integer-exact — deterministic centroid assignment,
    // per-cell smaller-id domination at cosine >= 7/20 — so the oracle
    // hash-matches clustering AND dedup decisions, not just pair scores.
    Q(
      "d_semdedup",
      (s, dir) =>
        Similarity
          .semDedup(Tables(s, dir, "embeddings"), tNum = 7, tDen = 20, nCells = 8)
          .orderBy("vec_id"),
      Some("""
        WITH qz AS (
          SELECT vec_id,
                 list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
          FROM embeddings WHERE embedding IS NOT NULL
        ),
        cent AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, qv AS cqv
          FROM (SELECT vec_id, qv FROM qz ORDER BY vec_id LIMIT 8)
        ),
        asg0 AS (
          SELECT q.vec_id, q.qv, cent.c,
                 CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
                   i -> q.qv[i] * cent.cqv[i])) AS HUGEINT) AS cdot
          FROM qz q CROSS JOIN cent
        ),
        asg AS (
          SELECT vec_id, qv, c AS cell FROM (
            SELECT vec_id, qv, c,
                   row_number() OVER (PARTITION BY vec_id ORDER BY cdot DESC, c) AS rn
            FROM asg0)
          WHERE rn = 1
        ),
        n AS (SELECT vec_id, cell, qv,
                     CAST(list_sum(list_transform(qv, x -> x * x)) AS HUGEINT) AS n2
              FROM asg),
        p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
                       i -> a.qv[i] * b.qv[i])) AS HUGEINT) AS dot,
                     a.n2 AS na2, b.n2 AS nb2
              FROM n a JOIN n b ON a.cell = b.cell AND a.vec_id < b.vec_id),
        dom AS (SELECT DISTINCT id_b FROM p
                WHERE dot > 0 AND 400 * dot * dot >= 49 * na2 * nb2)
        SELECT n.vec_id, CAST(n.cell AS INTEGER) AS cell,
               (dom.id_b IS NULL) AS keep
        FROM n LEFT JOIN dom ON n.vec_id = dom.id_b
        ORDER BY n.vec_id"""),
    ),
    // Near-dup pairs with bucketing AND threshold in exact integer
    // arithmetic: integer-hyperplane LSH buckets (literal-embedded in the
    // oracle SQL) + the cross-multiplied squared threshold compare — the
    // bucketed near-dup MECHANISM hash-matches end-to-end, not just the
    // pair scoring. The float d_embed_neardup below stays the production
    // shape for float corpora.
    Q(
      "d_embed_neardup_quant_lsh",
      (s, dir) =>
        Similarity
          .quantizedLshPairsAbove(
            Tables(s, dir, "embeddings"), tNum = 7, tDen = 20, planes = 4)
          .orderBy("id_a", "id_b"),
      Some(quantLshNearDupOracleSql),
    ),
    // Embedding-cosine near-dup pairs via LSH buckets (D5).
    Q(
      "d_embed_neardup",
      (s, dir) =>
        Similarity
          .nearDupPairs(Tables(s, dir, "embeddings"), threshold = 0.2)
          .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim_r"))
          .orderBy(col("sim_r").desc, col("id_a"), col("id_b"))
          .limit(50),
      None,
    ),
    // Brute-force cosine top-5 for the first 10 vectors — oracle-able via
    // DuckDB list_cosine_similarity; output is the SORTED neighbor-id set
    // per query (robust to float32-vs-float64 rank flips inside the top-5).
    Q(
      "ann_brute_topk",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 10)
        Similarity
          .bruteForceTopK(emb, queries, k = 5)
          .groupBy("query_id")
          .agg(
            array_join(transform(array_sort(collect_list(col("neighbor_id"))), _.cast("string")), ",")
              .as("neighbors"))
          .orderBy("query_id")
      },
      Some("""
        WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
        s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                     list_cosine_similarity(e.embedding, q.qv) AS sim
              FROM embeddings e, q WHERE e.vec_id <> q.query_id),
        r AS (SELECT query_id, neighbor_id,
                     row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
              FROM s)
        SELECT query_id,
               string_agg(CAST(neighbor_id AS VARCHAR), ',' ORDER BY neighbor_id) AS neighbors
        FROM r WHERE rk <= 5 GROUP BY query_id ORDER BY query_id"""),
    ),
    // Quantized integer MIPS top-k: floor(x·1e6) per component, exact
    // integer dot products, total (score desc, id) order — the quantized
    // retrieval variant IS fully oracle-able, unlike the float paths
    // whose last-ulp differences flip ranks across engines. Full rank
    // list in the output, not just the id set.
    Q(
      "ann_quant_topk",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 10)
        Similarity
          .quantizedMipsTopK(emb, queries, k = 5)
          .select(col("query_id"), col("rank"), col("neighbor_id"), col("score"))
          .orderBy("query_id", "rank")
      },
      Some("""
        WITH qz AS (
          SELECT vec_id,
                 list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
          FROM embeddings WHERE embedding IS NOT NULL
        ),
        q AS (SELECT vec_id AS query_id, qv FROM qz WHERE vec_id < 10),
        s AS (SELECT q.query_id, c.vec_id AS neighbor_id,
                     CAST(list_sum(list_transform(range(1, len(c.qv) + 1),
                       i -> q.qv[i] * c.qv[i])) AS BIGINT) AS score
              FROM qz c, q WHERE c.vec_id <> q.query_id),
        r AS (SELECT query_id, neighbor_id, score,
                     row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
              FROM s)
        SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, score
        FROM r WHERE rank <= 5 ORDER BY query_id, rank"""),
    ),
    // Quantized-integer LSH ANN: bucket bit = sign of the quantized
    // vector's dot with an INTEGER hyperplane (literal-embedded in the
    // oracle SQL), so the bucketing itself — not just the scoring — is
    // bit-identical across engines. The float-hyperplane lshTopK below
    // stays rows-only; this is its verifiable twin.
    Q(
      "ann_quant_lsh_topk",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 10)
        Similarity
          .quantizedLshTopK(emb, queries, k = 5, planes = 8)
          .select(col("query_id"), col("rank"), col("neighbor_id"), col("score"))
          .orderBy("query_id", "rank")
      },
      Some(quantLshOracleSql),
    ),
    // Multi-probe variant: each query also probes every Hamming-1 bucket —
    // the standard recall lever at scale (×(planes+1) candidates instead
    // of more hash tables). Corpus buckets are disjoint so the candidate
    // set stays duplicate-free and the ranked output fully oracle-able.
    Q(
      "ann_quant_lsh_mp_topk",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 10)
        Similarity
          .quantizedLshTopK(emb, queries, k = 5, planes = 8, multiProbe = true)
          .select(col("query_id"), col("rank"), col("neighbor_id"), col("score"))
          .orderBy("query_id", "rank")
      },
      Some(quantLshMultiProbeOracleSql),
    ),
    // LSH-bucketed ANN (the scale path) — rows-only; recall vs brute force
    // is asserted in the unit spec.
    Q(
      "ann_lsh_topk",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 10)
        Similarity
          .lshTopK(emb, queries, k = 5, planes = 4)
          .groupBy("query_id")
          .agg(
            array_join(transform(array_sort(collect_list(col("neighbor_id"))), _.cast("string")), ",")
              .as("neighbors"))
          .orderBy("query_id")
      },
      None,
    ),
    // Quantized-integer IVF ANN: deterministic seed centroids re-derived
    // from the table itself (quantized vectors of the nCells lowest ids),
    // integer-dot cell assignment and scoring — cell membership, probes,
    // and ranks are bit-identical across engines. The float ann_ivf_topk
    // below keeps the trained quantizer as the production recall path.
    Q(
      "ann_quant_ivf_topk",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 10)
        Similarity
          .quantizedIvfTopK(emb, queries, k = 5, nCells = 8, nProbe = 2)
          .select(col("query_id"), col("rank"), col("neighbor_id"), col("score"))
          .orderBy("query_id", "rank")
      },
      Some(quantIvfOracleSql),
    ),
    // Exact quantized squared-L2 top-k: the integer distance face the PQ
    // query trades against (and the truth PqSpec measures its recall on).
    Q(
      "ann_quant_l2_topk",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 10)
        Similarity
          .quantizedL2TopK(emb, queries, k = 5)
          .select(col("query_id"), col("rank"), col("neighbor_id"), col("dist"))
          .orderBy("query_id", "rank")
      },
      Some("""
        WITH qz AS (
          SELECT vec_id,
                 list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
          FROM embeddings WHERE embedding IS NOT NULL
        ),
        q AS (SELECT vec_id AS query_id, qv FROM qz WHERE vec_id < 10),
        s AS (SELECT q.query_id, c.vec_id AS neighbor_id,
                     CAST(list_sum(list_transform(range(1, len(c.qv) + 1),
                       i -> (q.qv[i] - c.qv[i]) * (q.qv[i] - c.qv[i]))) AS BIGINT) AS dist
              FROM qz c, q WHERE c.vec_id <> q.query_id),
        r AS (SELECT query_id, neighbor_id, dist,
                     row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
              FROM s)
        SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, dist
        FROM r WHERE rank <= 5 ORDER BY query_id, rank"""),
    ),
    // Product-quantized ANN (Jégou et al. 2011): 64-dim vectors become 8
    // sub-codeword indices, queries score by ADC table lookups — the ANN
    // compression path at 100 TB. Codebooks are seed-derived (subspace
    // slices of the ks lowest-id quantized vectors), so encoding, tables,
    // and ranks are bit-identical across engines; the whole mechanism —
    // codebook build, argmin encoding, ADC — is replayed by the oracle.
    Q(
      "ann_quant_pq_topk",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 10)
        Similarity
          .quantizedPqTopK(emb, queries, k = 5, m = 8, ks = 16)
          .select(col("query_id"), col("rank"), col("neighbor_id"), col("dist"))
          .orderBy("query_id", "rank")
      },
      Some(quantPqOracleSql),
    ),
    // Hard-negative mining (the DPR/contrastive-training data miner:
    // Karpukhin et al. 2020 train retrievers on near-but-not-nearest
    // candidates): per query, the exact-L2 neighbors ranked (k, 2k] —
    // close enough to be informative, far enough to be negatives.
    // Derived from the same integer L2 ranking, so fully hash-oracled.
    Q(
      "ann_hard_negatives",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 10)
        Similarity.quantizedL2TopK(emb, queries, k = 10)
          .filter(col("rank") > 5)
          .select(col("query_id"), (col("rank") - 5).cast("int").as("neg_rank"),
            col("neighbor_id"), col("dist"))
          .orderBy("query_id", "neg_rank")
      },
      Some("""
        WITH qz AS (
          SELECT vec_id,
                 list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
          FROM embeddings WHERE embedding IS NOT NULL
        ),
        q AS (SELECT vec_id AS query_id, qv FROM qz WHERE vec_id < 10),
        s AS (SELECT q.query_id, c.vec_id AS neighbor_id,
                     CAST(list_sum(list_transform(range(1, len(c.qv) + 1),
                       i -> (q.qv[i] - c.qv[i]) * (q.qv[i] - c.qv[i]))) AS BIGINT) AS dist
              FROM qz c, q WHERE c.vec_id <> q.query_id),
        r AS (SELECT query_id, neighbor_id, dist,
                     row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
              FROM s)
        SELECT query_id, CAST(rank - 5 AS INT) AS neg_rank, neighbor_id, dist
        FROM r WHERE rank > 5 AND rank <= 10 ORDER BY query_id, neg_rank"""),
    ),
    // RECALL@5 of the PQ index against the exact quantized-L2 truth —
    // the integer recall face (the ann_lsh_recall precedent), so the
    // compression trade carries a full hash oracle alongside PqSpec's
    // floor assertion.
    Q(
      "ann_pq_recall",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 10 && col("embedding").isNotNull)
        Similarity.recallAgainst(
          Similarity.quantizedPqTopK(emb, queries, k = 5, m = 8, ks = 16),
          Similarity.quantizedL2TopK(emb, queries, k = 5),
          queries).orderBy("query_id")
      },
      Some(pqRecallOracleSql),
    ),
    // IVF-PQ (Jégou et al. 2011 §V, IVFADC) — the full composed index a
    // 100 TB deployment runs: coarse cells route, PQ codes the RESIDUAL
    // v − centroid, queries probe nProbe cells with per-cell ADC tables.
    // Every stage seed-derived and integer, so the oracle replays cell
    // routing, residual codebooks, codes, tables, and ranks end-to-end.
    Q(
      "ann_quant_ivfpq_topk",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 10)
        Similarity
          .quantizedIvfPqTopK(emb, queries, k = 5, nCells = 8, nProbe = 2, m = 8, ks = 16)
          .select(col("query_id"), col("rank"), col("neighbor_id"), col("dist"))
          .orderBy("query_id", "rank")
      },
      Some(quantIvfPqOracleSql),
    ),
    // RECALL@5 of the composed IVF-PQ index vs the same exact L2 truth —
    // completes the oracled recall matrix (LSH, IVF, PQ, IVF-PQ).
    Q(
      "ann_ivfpq_recall",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 10 && col("embedding").isNotNull)
        Similarity.recallAgainst(
          Similarity.quantizedIvfPqTopK(emb, queries, k = 5, nCells = 8, nProbe = 2, m = 8, ks = 16),
          Similarity.quantizedL2TopK(emb, queries, k = 5),
          queries).orderBy("query_id")
      },
      Some(ivfPqRecallOracleSql),
    ),
    // IVF-bucketed ANN (the other scale path: trained coarse quantizer +
    // nProbe cells) — rows-only; recall vs brute force in the unit spec.
    Q(
      "ann_ivf_topk",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 10)
        Similarity
          .ivfTopK(emb, queries, k = 5, nCells = 16, nProbe = 4)
          .groupBy("query_id")
          .agg(
            array_join(transform(array_sort(collect_list(col("neighbor_id"))), _.cast("string")), ",")
              .as("neighbors"))
          .orderBy("query_id")
      },
      None,
    ),
    // RECALL@5 of the float-plane LSH path vs float brute force —
    // integer-valued, so the float ANN machinery gets a full hash oracle:
    // sims only ORDER candidates (the ann_brute_topk precedent), the
    // bucket signs are double dot products with the (integer/1000)
    // hyperplanes that DuckDB reproduces literally, and the output is
    // (n_approx, n_found) counts per query.
    Q(
      "ann_lsh_recall",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 10 && col("embedding").isNotNull)
        Similarity.recallAgainst(
          Similarity.lshTopK(emb, queries, k = 5, planes = 4),
          Similarity.bruteForceTopK(emb, queries, k = 5),
          queries).orderBy("query_id")
      },
      Some(lshRecallOracleSql),
    ),
    // RECALL@5 of the float IVF path (iters=0 seed centroids — the
    // deterministic-quantizer twin of ann_ivf_topk, whose trained k-means
    // means stay rows-only by documented necessity) vs float brute force.
    Q(
      "ann_ivf_recall",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val queries = emb.filter(col("vec_id") < 10 && col("embedding").isNotNull)
        Similarity.recallAgainst(
          Similarity.ivfTopK(emb, queries, k = 5, nCells = 16, nProbe = 4, iters = 0),
          Similarity.bruteForceTopK(emb, queries, k = 5),
          queries).orderBy("query_id")
      },
      Some(ivfRecallOracleSql),
    ),
    // Multimodal decode, REAL codec round-trip: deterministic tiny PNGs
    // rendered per doc (dims derived from doc_id — SQL-derivable), then
    // javax.imageio header-only decode. The oracle asserts the real
    // decoder returns exactly the encoded width/height/components/format;
    // any header-parse or encode regression breaks the hash.
    Q(
      "mm_decode_meta",
      (s, dir) => {
        val blobs = Multimodal.synthesizeImages(
          Tables(s, dir, "documents").select(col("doc_id")), "doc_id")
        // header-only decode: the metadata pass must not pay the pixel
        // decompression the feature path (mm_features) requires
        Multimodal
          .decodeMeta(blobs, "blob")
          .select(
            col("doc_id"),
            col("meta.width").as("width"),
            col("meta.height").as("height"),
            col("meta.channels").as("channels"),
            col("meta.format").as("format"),
          )
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id,
               CAST(8 + doc_id % 32 AS INT) AS width,
               CAST(8 + (doc_id // 3) % 32 AS INT) AS height,
               CAST(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 3 END AS INT) AS channels,
               'png' AS format
        FROM documents ORDER BY doc_id"""),
    ),
    // REAL perceptual features end-to-end: synthesize PNGs, pixel-decode
    // them back, and compute aHash/dHash — while DuckDB re-derives the
    // SAME hashes from first principles (the LCG pixel stream in closed
    // form a_n·seed + b_n, the PNG round-trip being lossless, the integer
    // luminance/grid/threshold pipeline). img_id = 4·doc_id+1 is never
    // ≡ 0 (mod 4), so every image takes the 3-channel path whose stored
    // samples are exactly the LCG bytes; the gray path's samples go
    // through the JDK's ICC gray conversion — deterministic and
    // spec-covered, but not SQL-re-derivable.
    Q(
      "mm_features",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"), (col("doc_id") * 4 + 1).as("img_id"))
        val blobs = Multimodal.synthesizeImages(docs, "img_id")
        Multimodal
          .decodeAndFeaturize(blobs, "blob")
          .select(col("doc_id"), col("ahash"), col("dhash"))
          .orderBy("doc_id")
      },
      Some(mmFeaturesOracleSql),
    ),
    // The multimodal → similarity COMPOSITION, fully oracled: synthesized
    // images → perceptual 64-cell luminance-grid features → quantized
    // integer MIPS top-k over those feature vectors. Pins that the
    // feature output really is a usable embedding-operator input (the
    // stated point of emitting the grid), end-to-end across engines:
    // DuckDB re-derives the grid from the LCG closed form, quantizes the
    // identical float32 division (IEEE single division is deterministic),
    // and ranks by exact integer dot products.
    Q(
      "mm_feature_ann",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"), (col("doc_id") * 4 + 1).as("img_id"))
        val feats = Multimodal
          .decodeAndFeaturize(Multimodal.synthesizeImages(docs, "img_id"), "blob")
          .select(col("doc_id").as("vec_id"), col("features").as("embedding"))
        val queries = feats.filter(col("vec_id") < 5)
        Similarity
          .quantizedMipsTopK(feats, queries, k = 3)
          .select(col("query_id"), col("rank"), col("neighbor_id"), col("score"))
          .orderBy("query_id", "rank")
      },
      Some(mmFeatureAnnOracleSql),
    ),
    // Image-level dedup by perceptual hash, fully oracled: every doc
    // renders the image of seed (doc_id % 50)·4+1 — ~10 docs share each
    // exact image (the engineered-duplicate technique of d_passage_dup)
    // — and canonical = min doc_id per ahash64. DuckDB re-derives the
    // hash bits from the LCG closed form over the SAME seed mapping, so
    // the dedup clusters hash-match end-to-end. Uses the SQL expression
    // face (ahash64) — pinning expression, kernel, and grouping in one
    // registered query.
    Q(
      "mm_image_dedup",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"), (col("doc_id") % 50 * 4 + 1).as("img_id"))
        val blobs = Multimodal.synthesizeImages(docs, "img_id")
        val w = org.apache.spark.sql.expressions.Window.partitionBy("ah")
        blobs
          .select(col("doc_id"),
            graft.functions.PerceptualHash64.aHash(col("blob")).as("ah"))
          .withColumn("canonical_id", min("doc_id").over(w))
          .select(col("doc_id"), col("ah"), col("canonical_id"))
          .orderBy("doc_id")
      },
      Some(mmImageDedupOracleSql),
    ),
    // Joint image-text PAIR dedup (the LAION-style rule): duplicates
    // only when BOTH the image ahash64 AND a caption MinHash band bucket
    // agree. Fixture: images cluster at doc_id % 50 (the mm_image_dedup
    // mapping), captions at doc_id % 30, so joint clusters form at
    // doc_id ≡ (mod 150) — strictly finer than either modality alone;
    // matching on one modality only would produce different canonicals,
    // making the composition itself hash-checked. DuckDB re-derives the
    // ahash from the LCG closed form AND the band buckets from the same
    // caption expression, end-to-end.
    Q(
      "mm_pair_dedup",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"), (col("doc_id") % 50 * 4 + 1).as("img_id"))
        val pairs = Multimodal.withSyntheticCaptions(
          Multimodal.synthesizeImages(docs, "img_id"))
        Multimodal.pairDedup(pairs).orderBy("doc_id")
      },
      Some(mmPairDedupOracleSql),
    ),
    // CLIP-style pair FILTER (the LAION construction rule): keep an
    // image–caption pair only when the quantized cosine between the
    // image's perceptual features and the caption's embedding clears
    // 1/10 — integer-exact per pair, so the decision AND the dot
    // hash-match. DuckDB re-derives the image features from the LCG
    // closed form (the mm_feature_ann precedent), quantizes both sides,
    // and replays the cross-multiplied HUGEINT compare. Both keep arms
    // are live at sf0.01.
    Q(
      "mm_pair_filter",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"), (col("doc_id") * 4 + 1).as("img_id"))
        val feats = Multimodal
          .decodeAndFeaturize(Multimodal.synthesizeImages(docs, "img_id"), "blob")
          .select(col("doc_id"), col("features"))
        val caps = Tables(s, dir, "embeddings")
          .filter(col("embedding").isNotNull)
          .select(col("vec_id").as("doc_id"), col("embedding"))
        Multimodal
          .pairCosineGate(feats.join(caps, Seq("doc_id")), tNum = 1, tDen = 10)
          .orderBy("doc_id")
      },
      Some(mmPairFilterOracleSql),
    ),
    // Frame sampling over video-like blobs: every 2nd 1 KiB slice, max 4
    // frames per blob, per-blob frame_idx from the generator. Frames are
    // compared as md5-of-hex (DuckDB cannot slice BLOBs, but hex strings
    // slice on exact byte boundaries at 2 chars/byte; hex is uppercase in
    // both engines).
    Q(
      "mm_frame_sample",
      (s, dir) => {
        val blobs = Tables(s, dir, "documents")
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("blob"))
        Multimodal
          .frameSample(blobs, "blob", everyNth = 2, maxFrames = 4)
          .select(
            col("doc_id"), col("frame_idx"),
            md5(hex(col("frame"))).as("frame_md5"),
            length(col("frame")).cast("long").as("frame_len"))
          .orderBy("doc_id", "frame_idx")
      },
      Some("""
        WITH b AS (
          SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
          FROM documents
        ),
        i AS (
          SELECT doc_id, hx,
                 unnest(range(0, LEAST(CAST(ceil(n / 1024.0) AS INT), 7), 2)) AS frame_idx
          FROM b WHERE n > 0
        )
        SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
               md5(substring(hx, frame_idx * 2048 + 1, 2048)) AS frame_md5,
               CAST(len(substring(hx, frame_idx * 2048 + 1, 2048)) // 2 AS BIGINT) AS frame_len
        FROM i ORDER BY doc_id, frame_idx"""),
    ),
    // REAL multi-frame decode end-to-end: deterministic 2–4-frame animated
    // GIFs per doc (gray LCG rasters written sample-direct, so the gray
    // GIF palette round-trips them exactly), decoded frame-by-frame with
    // javax.imageio, per-frame dims + perceptual aHash. DuckDB re-derives
    // every frame's pixels from the LCG closed form (frame k of doc d
    // seeds (d+1)·1000003+k) and recomputes the identical grid/mean/
    // threshold hash — a codec round-trip per FRAME, not per blob. The
    // per-frame decompression-bomb guard and the byte-slice fallback for
    // undecodable blobs are spec-covered (MultimodalSpec).
    Q(
      "mm_frame_decode",
      (s, dir) => {
        val blobs = Multimodal.synthesizeGifs(
          Tables(s, dir, "documents").select(col("doc_id")), "doc_id")
        Multimodal
          .decodeFrames(blobs, "blob")
          .select(col("doc_id"), col("frame_idx"), col("kind"),
            col("width"), col("height"), col("frame_ahash"), col("n_frames"))
          .orderBy("doc_id", "frame_idx")
      },
      Some(mmFrameDecodeOracleSql),
    ),
    // REAL resize end-to-end: synthesized RGB PNGs → pixel decode →
    // integer area-mean luminance downscale to 6×5 → gray PNG re-encode
    // (sample-direct) → decode BACK and hex the raw samples. DuckDB
    // re-derives the resized pixels from the LCG closed form (the same
    // lum CTE as the hash oracles, grouped on the 6×5 floor partition),
    // so the hash-match pins the whole resize→encode→decode chain
    // bit-exact across engines.
    Q(
      "mm_resize",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"), (col("doc_id") * 4 + 1).as("img_id"))
        val resized = Multimodal.resizeLuma(
          Multimodal.synthesizeImages(docs, "img_id"), "blob", outW = 6, outH = 5)
        val hexUdf = udf((b: Array[Byte]) => Multimodal.graySamplesHex(b))
        resized
          .select(col("doc_id"), lit(6).as("out_w"), lit(5).as("out_h"),
            hexUdf(col("resized")).as("resized_hex"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH RECURSIVE $mmGridCtes,
        rs AS (
          SELECT doc_id, (j * 5) // h AS gy, (i * 6) // w AS gx,
                 SUM(lum) // COUNT(*) AS cell
          FROM lum GROUP BY doc_id, (j * 5) // h, (i * 6) // w
        ),
        hx AS (
          SELECT doc_id,
                 string_agg(lower(right('0' || hex(cell), 2)), ''
                            ORDER BY gy * 6 + gx) AS resized_hex
          FROM rs GROUP BY doc_id
        )
        SELECT doc_id, CAST(6 AS INT) AS out_w, CAST(5 AS INT) AS out_h, resized_hex
        FROM hx ORDER BY doc_id"""),
    ),
    // The Hamming join composed onto the image face: perceptual ahash64
    // over engineered near-duplicate images (seed doc_id % 50 — ~10 docs
    // per exact image, so distance-0 pairs exist at every sf), banded
    // candidates + exact bit-count verify. DuckDB re-derives the hash
    // bits from the LCG closed form and brute-forces the distance join;
    // the operator's only shuffle is the chunk-bucket exchange.
    Q(
      "mm_phash_hamming",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"), (col("doc_id") % 50 * 4 + 1).as("img_id"))
        val blobs = Multimodal.synthesizeImages(docs, "img_id")
        val sh = blobs.select(col("doc_id"),
          graft.functions.PerceptualHash64.aHash(col("blob")).as("ah"))
        SimHash
          .hammingPairs(sh, r = 2, bits = 64, idCol = "doc_id", shCol = "ah")
          .orderBy("id_a", "id_b")
      },
      Some(mmPhashHammingOracleSql),
    ),
    // Audio modality, REAL codec round-trip: deterministic closed-form
    // sawtooth waveforms encoded as RIFF/WAVE PCM per doc, then
    // javax.sound.sampled header-only decode. The oracle asserts the real
    // parser returns exactly the encoded rate/channels/bits/frames; any
    // header regression breaks the hash.
    Q(
      "au_decode_meta",
      (s, dir) => {
        val blobs = Audio.synthesizeAudio(
          Tables(s, dir, "documents").select(col("doc_id")), "doc_id")
        Audio
          .decodeMeta(blobs, "blob")
          .select(
            col("doc_id"),
            col("meta.sample_rate").as("sample_rate"),
            col("meta.channels").as("channels"),
            col("meta.bits").as("bits"),
            col("meta.n_samples").as("n_samples"),
            col("meta.format").as("format"),
          )
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id,
               CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
               CAST(1 AS INT) AS channels,
               CAST(8 AS INT) AS bits,
               CAST(2048 + (doc_id % 5) * 512 AS BIGINT) AS n_samples,
               'wave' AS format
        FROM documents ORDER BY doc_id"""),
    ),
    // Audio-level dedup by banded fingerprint, fully oracled: every doc
    // carries the waveform of seed doc_id % 50 — ~10 docs share each
    // exact waveform (the engineered-duplicate technique of
    // mm_image_dedup) — the REAL decoder streams the PCM back and the
    // 32-band integer fingerprint clusters them; canonical = min doc_id
    // per fingerprint. DuckDB recomputes the fingerprint from the
    // closed-form sawtooth (50 distinct waveforms, derived once and
    // joined back, not per doc).
    Q(
      "au_fingerprint_dup",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"), (col("doc_id") % 50).as("aid"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy("fp")
        Audio
          .fingerprint(Audio.synthesizeAudio(docs, "aid"), "blob")
          .withColumn("canonical_id", min("doc_id").over(w))
          .select(col("doc_id"), col("fp"), col("canonical_id"))
          .orderBy("doc_id")
      },
      Some("""
        WITH a AS (SELECT DISTINCT doc_id % 50 AS aid FROM documents),
        p AS (SELECT aid, CAST(2048 + (aid % 5) * 512 AS BIGINT) AS n,
                     CAST(1 + aid % 16 AS BIGINT) AS st
              FROM a),
        sm AS (SELECT aid, n, st, unnest(range(0, n)) AS i FROM p),
        v AS (SELECT aid, n, CAST(i AS BIGINT) AS i,
                     (CAST(i AS BIGINT) * st + aid) % 256 AS v
              FROM sm),
        bd AS (SELECT aid, (i * 32) // n AS b, SUM(v) // COUNT(*) AS cell
               FROM v GROUP BY aid, (i * 32) // n),
        mn AS (SELECT aid, SUM(cell) // 32 AS mean FROM bd GROUP BY aid),
        f AS (SELECT bd.aid,
                     CAST(SUM(CASE WHEN cell > mean
                              THEN CAST(1 AS BIGINT) << CAST(b AS INT)
                              ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS fp
              FROM bd JOIN mn ON bd.aid = mn.aid GROUP BY bd.aid)
        SELECT d.doc_id, f.fp,
               MIN(d.doc_id) OVER (PARTITION BY f.fp) AS canonical_id
        FROM (SELECT doc_id, doc_id % 50 AS aid FROM documents) d
        JOIN f ON d.aid = f.aid
        ORDER BY doc_id"""),
    ),
  )

  // --------------------------------------------- generated md5-family SQL
  // DuckDB twins of the md5-family pipelines, generated from the same
  // parameters as the Scala defaults (k=3, H=16, 8 bands × 2 rows for
  // minhash; 32 bits / 4 chunks for simhash) so the hash-match compares
  // the full algorithm, not a reimplementation drifted by hand.

  /** `CAST('0x' || substring(md5(x), 1, 15) AS BIGINT)` ≡ MinHash.md5Hash60 */
  private def md5_60(x: String): String =
    s"CAST('0x' || substring(md5($x), 1, 15) AS BIGINT)"

  /** Shared by c_bigram_support and its agg-join twin — one oracle, two
    * physical shapes that must hash-match it identically. Joins on the raw
    * bigram STRINGS (the Spark side groups by native ShingleHash64 keys),
    * so the compare also guards the 64-bit hashes against collisions.
    */
  private def BigramSupportOracleSql: String =
    """
    WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
               FROM documents WHERE text IS NOT NULL),
    bgl AS (SELECT doc_id,
              CASE WHEN len(ws) < 2 THEN [array_to_string(ws, ' ')]
                   ELSE list_transform(range(1, len(ws)), i -> array_to_string(ws[i:i+1], ' ')) END AS bgs
            FROM w),
    e AS (SELECT doc_id, unnest(bgs) AS bg FROM bgl),
    c AS (SELECT bg, COUNT(*) AS n FROM e GROUP BY bg),
    d AS (SELECT e.doc_id, COUNT(*) AS n_bigrams, SUM(c.n) AS tot
          FROM e JOIN c USING (bg) GROUP BY e.doc_id)
    SELECT doc.doc_id,
           CAST(COALESCE(d.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(d.tot // d.n_bigrams AS BIGINT) AS support
    FROM documents doc LEFT JOIN d ON doc.doc_id = d.doc_id
    ORDER BY doc.doc_id"""

  /** CTEs w→bk computing md5-family band memberships (mirrors
    * MinHash.signaturesMd5 + bandKeysMd5 with k=3, h=16, bands=8, rows=2).
    */
  private[operators] def md5BandCtes: String = md5BandCtes("text")

  /** The MinHash md5 band CTEs over an arbitrary text expression —
    * `text` for the document-dedup oracles, the synthetic caption
    * expression for mm_pair_dedup.
    */
  private def md5BandCtes(textExpr: String): String = {
    val h = 16; val bands = 8; val rows = 2
    val gs = (0 until h).map(i =>
      s"min(h1 + $i * h2) AS g$i").mkString(",\n             ")
    val bandRows = (0 until bands).map { b =>
      val vals = (0 until rows).map(r => s"CAST(g${b * rows + r} AS VARCHAR)").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, '$b,' || $vals AS bs FROM m"
    }.mkString("\n             UNION ALL ")
    s"""w AS (SELECT doc_id, string_split_regex(trim($textExpr), '\\s+') AS ws
       |          FROM documents WHERE $textExpr IS NOT NULL),
       |     sh AS (SELECT doc_id, CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
       |              ELSE list_transform(range(1, len(ws) - 1), i -> array_to_string(ws[i:i+2], ' ')) END AS shs
       |            FROM w),
       |     e AS (SELECT doc_id, md5(unnest(shs)) AS sm FROM sh),
       |     e2 AS (SELECT doc_id,
       |              CAST('0x' || substring(sm, 1, 7) AS BIGINT) AS h1,
       |              CAST('0x' || substring(sm, 8, 7) AS BIGINT) AS h2
       |            FROM e),
       |     m AS (SELECT doc_id,
       |             $gs
       |           FROM e2 GROUP BY doc_id),
       |     bk AS (SELECT doc_id, band, ${md5_60("bs")} AS bkv
       |            FROM ($bandRows))""".stripMargin
  }

  /** ≡ MinHash.nearDupAgainstMd5(incoming = bucket ≥ 80, existing =
    * bucket < 80) ORDER BY doc_id — the md5 band family of
    * [[minhashLshOracleSql]] restricted per split side.
    */
  private def incrementalDedupOracleSql: String = {
    val bkt = "CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 100"
    s"""
      WITH $md5BandCtes,
      ex AS (SELECT band, bkv FROM bk WHERE $bkt < 80
             GROUP BY band, bkv HAVING COUNT(*) <= 50),
      hit AS (SELECT DISTINCT bk.doc_id FROM bk JOIN ex USING (band, bkv)
              WHERE $bkt >= 80),
      inc AS (SELECT doc_id FROM documents WHERE $bkt >= 80)
      SELECT inc.doc_id, (hit.doc_id IS NOT NULL) AS dup_of_existing
      FROM inc LEFT JOIN hit ON inc.doc_id = hit.doc_id
      ORDER BY inc.doc_id"""
  }

  /** ≡ MinHash.nearDupCanonicalMd5(documents) ORDER BY doc_id */
  private def minhashLshOracleSql: String =
    s"""
      WITH $md5BandCtes,
      sz AS (SELECT band, bkv, COUNT(*) AS n, MIN(doc_id) AS bmin FROM bk GROUP BY band, bkv),
      cm AS (SELECT bk.doc_id, MIN(CASE WHEN sz.n <= 50 THEN sz.bmin END) AS cmin
             FROM bk JOIN sz USING (band, bkv) GROUP BY bk.doc_id)
      SELECT d.doc_id, COALESCE(cm.cmin, d.doc_id) AS canonical_id
      FROM documents d LEFT JOIN cm ON d.doc_id = cm.doc_id
      ORDER BY d.doc_id"""

  /** ≡ the c_curation_funnel Spark pipeline: md5-family canonical
    * (minhashLshOracleSql's sz/cm CTEs) and the rules flags
    * (TextAnalysis.rulesCteSql) joined per doc, three conditional sums,
    * unpivoted by UNION ALL.
    */
  private def curationFunnelOracleSql: String = s"""
      WITH $md5BandCtes,
      sz AS (SELECT band, bkv, COUNT(*) AS n, MIN(doc_id) AS bmin FROM bk GROUP BY band, bkv),
      cm AS (SELECT bk.doc_id, MIN(CASE WHEN sz.n <= 50 THEN sz.bmin END) AS cmin
             FROM bk JOIN sz USING (band, bkv) GROUP BY bk.doc_id),
      ${TextAnalysis.rulesCteSql()},
      base AS (SELECT d.doc_id,
                      CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT) AS toks,
                      (COALESCE(cm.cmin, d.doc_id) = d.doc_id) AS keep,
                      (f.ok_words * f.ok_mean_len * f.ok_stopwords * f.ok_distinct = 1) AS q
               FROM documents d
               LEFT JOIN cm ON d.doc_id = cm.doc_id
               JOIN f ON d.doc_id = f.doc_id),
      one AS (SELECT COUNT(*) AS d1, CAST(SUM(toks) AS BIGINT) AS t1,
                     CAST(COUNT(*) FILTER (keep) AS BIGINT) AS d2,
                     CAST(SUM(toks) FILTER (keep) AS BIGINT) AS t2,
                     CAST(COUNT(*) FILTER (keep AND q) AS BIGINT) AS d3,
                     CAST(SUM(toks) FILTER (keep AND q) AS BIGINT) AS t3
              FROM base)
      SELECT '1_raw' AS stage, d1 AS n_docs, t1 AS n_tokens FROM one
      UNION ALL SELECT '2_dedup', d2, t2 FROM one
      UNION ALL SELECT '3_quality', d3, t3 FROM one
      ORDER BY stage"""

  /** ≡ MinHash.minhashRecall(documents): exact Jaccard-≥1/2 truth pairs
    * (distinct md5-60 shingle hashes per doc — de-duplicated AFTER
    * hashing, mirroring the operator — inverted-index co-occurrence
    * counts, integer threshold 3·ni ≥ na+nb) full-outer-merged with the
    * md5-family band candidate pairs (h=16, bands=8, buckets 2..20 — the
    * bucketPairCountsMd5 policy).
    */
  private def minhashRecallOracleSql: String = s"""
      WITH $md5BandCtes,
      sz AS (SELECT band, bkv, COUNT(*) AS n FROM bk GROUP BY band, bkv),
      ok AS (SELECT bk.doc_id, bk.band, bk.bkv FROM bk JOIN sz USING (band, bkv)
             WHERE sz.n BETWEEN 2 AND 20),
      cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
               FROM ok a JOIN ok b ON a.band = b.band AND a.bkv = b.bkv AND a.doc_id < b.doc_id
               GROUP BY a.doc_id, b.doc_id),
      th AS (SELECT DISTINCT doc_id, ${md5_60("unnest(list_distinct(shs))")} AS h FROM sh),
      tsz AS (SELECT doc_id, COUNT(*) AS nsz FROM th GROUP BY doc_id),
      co AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ni
             FROM th a JOIN th b ON a.h = b.h AND a.doc_id < b.doc_id
             GROUP BY a.doc_id, b.doc_id),
      tru AS (SELECT co.id_a, co.id_b
              FROM co JOIN tsz sa ON co.id_a = sa.doc_id
                      JOIN tsz sb ON co.id_b = sb.doc_id
              WHERE co.ni * 3 >= sa.nsz + sb.nsz)
      SELECT CAST(COUNT(t.id_a) AS BIGINT) AS n_true_pairs,
             CAST(COUNT(c.id_a) AS BIGINT) AS n_cand_pairs,
             CAST(COUNT(CASE WHEN t.id_a IS NOT NULL AND c.id_a IS NOT NULL THEN 1 END) AS BIGINT) AS n_hit
      FROM tru t FULL OUTER JOIN cand c ON t.id_a = c.id_a AND t.id_b = c.id_b"""

  /** ≡ the c_pipeline_release composition: hash-split train side, md5
    * canonical computed over TRAIN-side bucket memberships only
    * (minhashLshOracleSql's sz/cm restricted through `tr`), survivors =
    * canonical self-claims, then Curation's shared langBalance CTE chain
    * over the survivors and the per-language inclusive-prefix cumsum.
    */
  private def pipelineReleaseOracleSql: String = {
    val bkt = "CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 100"
    s"""
      WITH $md5BandCtes,
      tr AS (SELECT doc_id FROM documents WHERE $bkt < 80),
      bktr AS (SELECT bk.* FROM bk JOIN tr USING (doc_id)),
      sz AS (SELECT band, bkv, COUNT(*) AS n, MIN(doc_id) AS bmin FROM bktr GROUP BY band, bkv),
      cm AS (SELECT b.doc_id, MIN(CASE WHEN sz.n <= 50 THEN sz.bmin END) AS cmin
             FROM bktr b JOIN sz USING (band, bkv) GROUP BY b.doc_id),
      surv AS (SELECT d.* FROM documents d
               JOIN tr ON d.doc_id = tr.doc_id
               LEFT JOIN cm ON d.doc_id = cm.doc_id
               WHERE COALESCE(cm.cmin, d.doc_id) = d.doc_id),
      ${Curation.langBalanceCtes(8000L, "surv")},
      a AS (SELECT lang,
                   CAST(CASE WHEN totq = 0 THEN 0
                             ELSE flr + CASE WHEN rnk <= k THEN 1 ELSE 0 END END AS BIGINT) AS alloc
            FROM g),
      d2 AS (SELECT doc_id, COALESCE(lang, '') AS lang,
                    COALESCE(CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT), 0) AS n,
                    md5(CAST(doc_id AS VARCHAR)) AS h
             FROM surv),
      c AS (SELECT doc_id, lang, n,
                   SUM(n) OVER (PARTITION BY lang ORDER BY h, doc_id) AS cum
            FROM d2)
      SELECT c.doc_id, c.lang, c.n AS n_tokens, CAST(c.cum AS BIGINT) AS cum_tokens
      FROM c JOIN a USING (lang) WHERE c.cum <= a.alloc ORDER BY doc_id"""
  }

  /** ≡ MinHash.dedupThresholdCurve(documents): the exact-pair truth chain
    * (minhashRecallOracleSql's th/tsz/co CTEs) qualified at the loosest
    * τ = 3/10, then per-threshold conditional counts via a LEFT JOIN from
    * the threshold seed (so an empty pair frame still yields six
    * zero-filled rows, matching the Spark side's seed join).
    */
  private def dedupThresholdsOracleSql: String = s"""
      WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
                 FROM documents WHERE text IS NOT NULL),
      sh AS (SELECT doc_id, CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
               ELSE list_transform(range(1, len(ws) - 1), i -> array_to_string(ws[i:i+2], ' ')) END AS shs
             FROM w),
      th AS (SELECT DISTINCT doc_id, ${md5_60("unnest(list_distinct(shs))")} AS h FROM sh),
      tsz AS (SELECT doc_id, COUNT(*) AS nsz FROM th GROUP BY doc_id),
      co AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ni
             FROM th a JOIN th b ON a.h = b.h AND a.doc_id < b.doc_id
             GROUP BY a.doc_id, b.doc_id),
      p AS (SELECT co.id_a, co.id_b, co.ni, sa.nsz AS na, sb.nsz AS nb
            FROM co JOIN tsz sa ON co.id_a = sa.doc_id
                    JOIN tsz sb ON co.id_b = sb.doc_id
            WHERE co.ni * 13 >= (sa.nsz + sb.nsz) * 3),
      t(j_num, j_den) AS (VALUES (3, 10), (1, 2), (3, 5), (7, 10), (4, 5), (9, 10))
      SELECT t.j_num, t.j_den,
             CAST(COUNT(CASE WHEN p.ni * (t.j_den + t.j_num) >= (p.na + p.nb) * t.j_num
                             THEN 1 END) AS BIGINT) AS n_pairs,
             CAST(COUNT(DISTINCT CASE WHEN p.ni * (t.j_den + t.j_num) >= (p.na + p.nb) * t.j_num
                                      THEN p.id_b END) AS BIGINT) AS n_docs_dropped
      FROM t LEFT JOIN p ON true
      GROUP BY t.j_num, t.j_den
      ORDER BY t.j_num * 10000 / t.j_den, t.j_den"""

  /** ≡ MinHash.verifiedNearDupCanonicalMd5(documents) ORDER BY doc_id:
    * the band candidate pairs (buckets 2..20 — bucketPairCountsMd5's
    * policy), exact shingle-set intersections computed ONLY for candidate
    * pairs (th restricted by the joins), the integer threshold
    * 3·ni ≥ na+nb (num/den = 1/2), then the connected-component closure
    * over verified edges as a recursive CTE ([[embedCcOracleSql]]'s
    * shape) with every document a vertex.
    */
  private def minhashVerifiedOracleSql: String = s"""
      WITH RECURSIVE $md5BandCtes,
      sz AS (SELECT band, bkv, COUNT(*) AS n FROM bk GROUP BY band, bkv),
      ok AS (SELECT bk.doc_id, bk.band, bk.bkv FROM bk JOIN sz USING (band, bkv)
             WHERE sz.n BETWEEN 2 AND 20),
      cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
               FROM ok a JOIN ok b ON a.band = b.band AND a.bkv = b.bkv AND a.doc_id < b.doc_id
               GROUP BY a.doc_id, b.doc_id),
      th AS (SELECT DISTINCT doc_id, ${md5_60("unnest(list_distinct(shs))")} AS h FROM sh),
      tsz AS (SELECT doc_id, COUNT(*) AS nsz FROM th GROUP BY doc_id),
      co AS (SELECT c.id_a, c.id_b, COUNT(*) AS ni
             FROM cand c JOIN th a ON a.doc_id = c.id_a
                         JOIN th b ON b.doc_id = c.id_b AND b.h = a.h
             GROUP BY c.id_a, c.id_b),
      ver AS (SELECT co.id_a, co.id_b
              FROM co JOIN tsz sa ON co.id_a = sa.doc_id
                      JOIN tsz sb ON co.id_b = sb.doc_id
              WHERE co.ni * 3 >= sa.nsz + sb.nsz),
      sym AS (SELECT id_a AS a, id_b AS b FROM ver
              UNION ALL SELECT id_b, id_a FROM ver),
      r(a, b) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.a, s.b FROM r JOIN sym s ON r.b = s.a
      )
      SELECT a AS doc_id, MIN(b) AS canonical_id FROM r GROUP BY a ORDER BY doc_id"""

  /** ≡ the d_ngram_jaccard Spark pipeline: md5-family band co-occurrence
    * counts → top-100 candidates → exact 3-gram Jaccard → top-20.
    */
  private def ngramJaccardOracleSql: String = {
    def grams(t: String) =
      s"""list_distinct(CASE WHEN len(string_split_regex(trim($t), '\\s+')) < 3
         |                THEN [array_to_string(string_split_regex(trim($t), '\\s+'), ' ')]
         |                ELSE list_transform(range(1, len(string_split_regex(trim($t), '\\s+')) - 1),
         |                     i -> array_to_string(string_split_regex(trim($t), '\\s+')[i:i+2], ' ')) END)""".stripMargin
    s"""
      WITH $md5BandCtes,
      sz AS (SELECT band, bkv, COUNT(*) AS n FROM bk GROUP BY band, bkv),
      ok AS (SELECT bk.doc_id, bk.band, bk.bkv FROM bk JOIN sz USING (band, bkv)
             WHERE sz.n BETWEEN 2 AND 20),
      pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared_bands
             FROM ok a JOIN ok b ON a.band = b.band AND a.bkv = b.bkv AND a.doc_id < b.doc_id
             GROUP BY a.doc_id, b.doc_id),
      top AS (SELECT id_a, id_b FROM pr ORDER BY shared_bands DESC, id_a, id_b LIMIT 100),
      tx AS (SELECT t.id_a, t.id_b, da.text AS ta, db.text AS tb
             FROM top t JOIN documents da ON t.id_a = da.doc_id
                        JOIN documents db ON t.id_b = db.doc_id),
      g AS (SELECT id_a, id_b, ${grams("ta")} AS sa, ${grams("tb")} AS sb FROM tx)
      SELECT id_a, id_b,
             round(len(list_intersect(sa, sb)) * 1.0
                   / (len(sa) + len(sb) - len(list_intersect(sa, sb))), 4) AS jaccard
      FROM g ORDER BY jaccard DESC, id_a, id_b LIMIT 20"""
  }

  /** ≡ Similarity.quantizedLshTopK(embeddings, vec_id<10, k=5, planes=8):
    * integer hyperplane components embedded as literals (computed by the
    * same Scala function the kernel uses — parity by construction), dim
    * fixed at 64 to match the test corpus (a dim change fails loudly as a
    * hash mismatch, never silently).
    */
  /** Integer-hyperplane sign-bit bucket id over `qv`, plane components as
    * literals computed by the SAME Scala function the kernel uses
    * ([[Similarity.lshPlaneComponent]]) — parity by construction; dim
    * fixed at 64 to match the test corpus (a dim change fails loudly as a
    * hash mismatch, never silently).
    */
  /** Float hyperplane p as a DuckDB list literal of `component / 1000.0`
    * divisions — the SAME double the JVM kernel computes
    * (`Similarity.lshPlaneComponentF`): IEEE division of the same integer
    * by 1000 rounds identically in both engines, so the bucket sign sums
    * are the same doubles in the same order.
    */
  private def floatBucketExpr(planes: Int, dim: Int = 64): String = {
    def planeLit(p: Int): String =
      (0 until dim).map(i => Similarity.lshPlaneComponent(p, i).toString)
        .mkString("[", ", ", "]")
    (0 until planes).map { p =>
      s"(CASE WHEN list_sum(list_transform(range(1, ${dim + 1}), i -> CAST(v[i] AS DOUBLE) * ((${planeLit(p)})[i] / 1000.0))) > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("\n             + ")
  }

  /** Shared brute-force + recall tail: expects `qs(vec_id, embedding)` and
    * an `ap(query_id, neighbor_id)` approximate top-5 CTE to be in scope.
    */
  private def recallTailSql: String = s"""
      bfp AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                     list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) AS sim
              FROM embeddings e, qs q
              WHERE e.vec_id <> q.vec_id AND e.embedding IS NOT NULL),
      bf AS (SELECT query_id, neighbor_id FROM (
               SELECT query_id, neighbor_id,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY sim DESC, neighbor_id) AS rk
               FROM bfp) WHERE rk <= 5),
      na AS (SELECT query_id, COUNT(*) AS c FROM ap GROUP BY query_id),
      nf AS (SELECT l.query_id, COUNT(*) AS c FROM ap l JOIN bf b
               ON l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id
             GROUP BY l.query_id)
      SELECT qs.vec_id AS query_id,
             CAST(COALESCE(na.c, 0) AS BIGINT) AS n_approx,
             CAST(COALESCE(nf.c, 0) AS BIGINT) AS n_found
      FROM qs LEFT JOIN na ON qs.vec_id = na.query_id
              LEFT JOIN nf ON qs.vec_id = nf.query_id
      ORDER BY query_id"""

  /** ≡ recallAgainst(lshTopK(k=5, planes=4), bruteForceTopK(k=5)). */
  private def lshRecallOracleSql: String = s"""
      WITH qs AS (SELECT vec_id, embedding FROM embeddings
                  WHERE vec_id < 10 AND embedding IS NOT NULL),
      cb AS (SELECT vec_id, embedding,
               ${floatBucketExpr(4)} AS bucket
             FROM (SELECT vec_id, embedding, embedding AS v FROM embeddings
                   WHERE embedding IS NOT NULL)),
      qb AS (SELECT vec_id, bucket FROM cb WHERE vec_id < 10),
      lsp AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q2.embedding AS DOUBLE[])) AS sim
              FROM cb c
              JOIN qb q ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
              JOIN qs q2 ON q2.vec_id = q.vec_id),
      ap AS (SELECT query_id, neighbor_id FROM (
               SELECT query_id, neighbor_id,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY sim DESC, neighbor_id) AS rk
               FROM lsp) WHERE rk <= 5),
      $recallTailSql"""

  /** ≡ recallAgainst(ivfTopK(k=5, nCells=16, nProbe=4, iters=0),
    * bruteForceTopK(k=5)) — seed centroids are the 16 lowest-id non-null
    * vectors, cell assignment is argmax cosine with ties to the lower
    * cell index (the kernel's stable sort).
    */
  private def ivfRecallOracleSql: String = s"""
      WITH qs AS (SELECT vec_id, embedding FROM embeddings
                  WHERE vec_id < 10 AND embedding IS NOT NULL),
      cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, embedding AS cv
               FROM (SELECT vec_id, embedding FROM embeddings
                     WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT 16)),
      casg AS (SELECT e.vec_id, e.embedding, cent.c,
                      list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(cent.cv AS DOUBLE[])) AS sim
               FROM (SELECT vec_id, embedding FROM embeddings
                     WHERE embedding IS NOT NULL) e CROSS JOIN cent),
      cells AS (SELECT vec_id, embedding, c AS cell FROM (
                  SELECT vec_id, embedding, c,
                         row_number() OVER (PARTITION BY vec_id
                           ORDER BY sim DESC, c) AS rn
                  FROM casg) WHERE rn = 1),
      probes AS (SELECT vec_id, c AS cell FROM (
                  SELECT vec_id, c,
                         row_number() OVER (PARTITION BY vec_id
                           ORDER BY sim DESC, c) AS rn
                  FROM casg WHERE vec_id < 10) WHERE rn <= 4),
      ivp AS (SELECT p.vec_id AS query_id, cl.vec_id AS neighbor_id,
                     list_cosine_similarity(CAST(cl.embedding AS DOUBLE[]), CAST(q2.embedding AS DOUBLE[])) AS sim
              FROM cells cl
              JOIN probes p ON cl.cell = p.cell AND cl.vec_id <> p.vec_id
              JOIN qs q2 ON q2.vec_id = p.vec_id),
      ap AS (SELECT query_id, neighbor_id FROM (
               SELECT query_id, neighbor_id,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY sim DESC, neighbor_id) AS rk
               FROM ivp) WHERE rk <= 5),
      $recallTailSql"""

  private def quantBucketExpr(planes: Int, dim: Int = 64): String = {
    def planeLit(p: Int): String =
      (0 until dim).map(i => Similarity.lshPlaneComponent(p, i)).mkString("[", ", ", "]")
    (0 until planes).map { p =>
      s"(CASE WHEN list_sum(list_transform(range(1, ${dim + 1}), i -> qv[i] * (${planeLit(p)})[i])) > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("\n               + ")
  }

  private def quantLshOracleSql: String = quantLshTopKSql(multiProbe = false)

  /** ≡ quantizedLshTopK(multiProbe = true): query probes = own bucket plus
    * every Hamming-1 neighbor (`xor(bucket, 1<<p)` literals).
    */
  private def quantLshMultiProbeOracleSql: String = quantLshTopKSql(multiProbe = true)

  private def quantLshTopKSql(multiProbe: Boolean): String = {
    val planes = 8
    val bucketExpr = quantBucketExpr(planes)
    val dim = 64
    val probeList =
      if (multiProbe)
        ("bucket" +: (0 until planes).map(p => s"xor(bucket, ${1L << p})")).mkString("[", ", ", "]")
      else "[bucket]"
    s"""
      WITH qz AS (
        SELECT vec_id,
               list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
        FROM embeddings WHERE embedding IS NOT NULL
      ),
      bk AS (SELECT vec_id, qv,
               $bucketExpr AS bucket
             FROM qz),
      q AS (SELECT vec_id AS query_id, qv AS q_qv, unnest($probeList) AS bucket
            FROM bk WHERE vec_id < 10),
      s AS (SELECT q.query_id, c.vec_id AS neighbor_id,
                   CAST(list_sum(list_transform(range(1, ${dim + 1}),
                     i -> q.q_qv[i] * c.qv[i])) AS BIGINT) AS score
            FROM bk c JOIN q ON c.bucket = q.bucket AND c.vec_id <> q.query_id),
      r AS (SELECT query_id, neighbor_id, score,
                   row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
            FROM s)
      SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, score
      FROM r WHERE rank <= 5 ORDER BY query_id, rank"""
  }

  /** CTE chain qz→…→qe producing the quantized-LSH near-dup edge set of
    * Similarity.quantizedLshPairsAbove(embeddings, 7/20, planes=p):
    * integer-hyperplane buckets, hot-bucket policy, and the
    * cross-multiplied squared threshold compare, all in exact arithmetic.
    * ONE template shared by d_embed_neardup_quant_lsh (planes=4, the pair
    * set itself) and d_embed_cc_lsh (planes=8, its transitive closure) so
    * the two queries can only ever verify the same edge DEFINITION; the
    * plane count is the bucket-count sizing knob (2^planes buckets — the
    * CC registration uses more so expected occupancy stays under the
    * hot-bucket cap as the corpus grows; at 100 TB you would size planes
    * ≈ log2(N/targetOccupancy)).
    */
  private def quantLshEdgeCtes(planes: Int): String = {
    val bucketExpr = quantBucketExpr(planes)
    val (tNum, tDen, maxBucket) = (7, 20, 1000)
    val (n2, d2) = (tNum * tNum, tDen * tDen)
    s"""qz AS (
        SELECT vec_id,
               list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
        FROM embeddings WHERE embedding IS NOT NULL
      ),
      bk AS (SELECT vec_id, qv,
               CAST(list_sum(list_transform(qv, x -> x * x)) AS HUGEINT) AS nn,
               $bucketExpr AS bucket
             FROM qz),
      sz AS (SELECT bucket, COUNT(*) AS cnt FROM bk GROUP BY bucket),
      ok AS (SELECT bk.* FROM bk JOIN sz USING (bucket)
             WHERE sz.cnt BETWEEN 2 AND $maxBucket),
      p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
                     i -> a.qv[i] * b.qv[i])) AS HUGEINT) AS dot,
                   a.nn AS na2, b.nn AS nb2
            FROM ok a JOIN ok b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
      qe AS (SELECT id_a, id_b FROM p
             WHERE dot > 0 AND $d2 * dot * dot >= $n2 * na2 * nb2)"""
  }

  /** ≡ Similarity.quantizedLshPairsAbove(embeddings, 7/20, planes=4). */
  private def quantLshNearDupOracleSql: String =
    s"""
      WITH ${quantLshEdgeCtes(planes = 4)}
      SELECT id_a, id_b FROM qe ORDER BY id_a, id_b"""

  /** ≡ the d_embed_cc_lsh closure: recursive-CTE transitive closure over
    * the same quantized-LSH edge template at planes=8, component label =
    * min member id.
    */
  private def quantLshCcOracleSql: String =
    s"""
      WITH RECURSIVE ${quantLshEdgeCtes(planes = 8)},
      sym AS (SELECT id_a AS a, id_b AS b FROM qe
              UNION ALL SELECT id_b, id_a FROM qe),
      r(a, b) AS (
        SELECT vec_id, vec_id FROM embeddings
        UNION
        SELECT r.a, s.b FROM r JOIN sym s ON r.b = s.a
      )
      SELECT a AS vec_id, min(b) AS component
      FROM r GROUP BY a ORDER BY vec_id"""

  /** ≡ Similarity.quantizedIvfTopK(embeddings, vec_id<10, k=5, nCells=8,
    * nProbe=2): centroids re-derived in-SQL from the 8 lowest-id quantized
    * vectors, integer-dot cell assignment with (dot desc, cell) tie-break,
    * integer candidate scoring.
    */
  private def quantIvfOracleSql: String = {
    val (nCells, nProbe, k) = (8, 2, 5)
    s"""
      WITH qz AS (
        SELECT vec_id,
               list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
        FROM embeddings WHERE embedding IS NOT NULL
      ),
      cent AS (SELECT row_number() OVER (ORDER BY vec_id) AS c, qv AS cv
               FROM qz ORDER BY vec_id LIMIT $nCells),
      asg AS (SELECT z.vec_id, z.qv, c.c,
                     CAST(list_sum(list_transform(range(1, len(z.qv) + 1),
                       i -> z.qv[i] * c.cv[i])) AS BIGINT) AS d
              FROM qz z CROSS JOIN cent c),
      cell AS (SELECT vec_id, qv, c AS cell FROM
                 (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, c) AS rk
                  FROM asg)
               WHERE rk = 1),
      qp AS (SELECT vec_id AS query_id, qv AS q_qv, c AS cell FROM
                 (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, c) AS rk
                  FROM asg WHERE vec_id < 10)
             WHERE rk <= $nProbe),
      s AS (SELECT qp.query_id, cl.vec_id AS neighbor_id,
                   CAST(list_sum(list_transform(range(1, len(cl.qv) + 1),
                     i -> qp.q_qv[i] * cl.qv[i])) AS BIGINT) AS score
            FROM cell cl JOIN qp ON cl.cell = qp.cell AND cl.vec_id <> qp.query_id),
      r AS (SELECT query_id, neighbor_id, score,
                   row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
            FROM s)
      SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, score
      FROM r WHERE rank <= $k ORDER BY query_id, rank"""
  }

  /** ≡ Similarity.quantizedPqTopK(embeddings, vec_id<10, k=5, m=8, ks=16):
    * the codebook re-derived in-SQL (subspace slices of the 16 lowest-id
    * quantized vectors), per-(vector, subspace) argmin codeword with
    * (dist, cw) tie-break, ADC via the same distance rows restricted to
    * query ids, summed over the 8 joined subspace lookups.
    */
  private def quantPqOracleSql: String = {
    val k = 5
    s"""
      WITH $quantPqCtesSql,
      r AS (SELECT query_id, neighbor_id, dist,
                   row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
            FROM sc)
      SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, dist
      FROM r WHERE rank <= $k ORDER BY query_id, rank"""
  }

  /** The quantized-PQ oracle chain up through the scored candidates `sc`
    * — shared by the top-k and recall oracles (no WITH, no final rank).
    */
  private def quantPqCtesSql: String = {
    val (m, ks) = (8, 16)
    s"""qz AS (
        SELECT vec_id,
               list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
        FROM embeddings WHERE embedding IS NOT NULL
      ),
      seed AS (SELECT row_number() OVER (ORDER BY vec_id) AS cw, qv AS sv
               FROM qz ORDER BY vec_id LIMIT $ks),
      sdim AS (SELECT len(sv) // $m AS sub FROM seed LIMIT 1),
      js AS (SELECT unnest(range(1, $m + 1)) AS j),
      cb AS (SELECT js.j, seed.cw,
                    list_slice(seed.sv, (js.j - 1) * sdim.sub + 1, js.j * sdim.sub) AS cvec
             FROM seed CROSS JOIN js CROSS JOIN sdim),
      dst AS (SELECT z.vec_id, c.j, c.cw,
                     CAST(list_sum(list_transform(range(1, len(c.cvec) + 1),
                       i -> (z.qv[(c.j - 1) * len(c.cvec) + i] - c.cvec[i])
                          * (z.qv[(c.j - 1) * len(c.cvec) + i] - c.cvec[i]))) AS BIGINT) AS d
              FROM qz z CROSS JOIN cb c),
      enc AS (SELECT vec_id, j, cw FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY d, cw) AS rk
                FROM dst) WHERE rk = 1),
      qt AS (SELECT vec_id AS query_id, j, cw, d FROM dst WHERE vec_id < 10),
      sc AS (SELECT qt.query_id, e.vec_id AS neighbor_id,
                    CAST(SUM(qt.d) AS BIGINT) AS dist
             FROM enc e JOIN qt ON qt.j = e.j AND qt.cw = e.cw
             WHERE e.vec_id <> qt.query_id
             GROUP BY qt.query_id, e.vec_id)"""
  }

  /** ≡ Similarity.recallAgainst(quantizedPqTopK, quantizedL2TopK): the
    * PQ chain and an exact quantized-L2 chain side by side, intersected
    * per query — RECALL@5 of the 32×-compressed index against the exact
    * integer distance truth, fully hash-oracled (integer counts, no
    * float rank ambiguity anywhere).
    */
  private def pqRecallOracleSql: String = {
    val k = 5
    s"""
      WITH $quantPqCtesSql,
      r AS (SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
            FROM sc),
      l2 AS (SELECT q.query_id, c.vec_id AS neighbor_id,
                    CAST(list_sum(list_transform(range(1, len(c.qv) + 1),
                      i -> (q.qv[i] - c.qv[i]) * (q.qv[i] - c.qv[i]))) AS BIGINT) AS dist
             FROM qz c JOIN (SELECT vec_id AS query_id, qv FROM qz WHERE vec_id < 10) q
               ON c.vec_id <> q.query_id),
      l2r AS (SELECT query_id, neighbor_id,
                     row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
              FROM l2),
      apx AS (SELECT query_id, neighbor_id FROM r WHERE rank <= $k),
      ex AS (SELECT query_id, neighbor_id FROM l2r WHERE rank <= $k),
      qs AS (SELECT vec_id AS query_id FROM qz WHERE vec_id < 10),
      na AS (SELECT query_id, COUNT(*) AS n_approx FROM apx GROUP BY 1),
      nf AS (SELECT a.query_id, COUNT(*) AS n_found
             FROM apx a JOIN ex e USING (query_id, neighbor_id) GROUP BY 1)
      SELECT qs.query_id,
             CAST(COALESCE(na.n_approx, 0) AS BIGINT) AS n_approx,
             CAST(COALESCE(nf.n_found, 0) AS BIGINT) AS n_found
      FROM qs LEFT JOIN na USING (query_id) LEFT JOIN nf USING (query_id)
      ORDER BY query_id"""
  }

  /** ≡ the mm_features Spark pipeline, re-derived from first principles:
    * the synthesized image's pixel ints come from an LCG whose n-th state
    * has the closed form x_n = a_n·seed + b_n (mod 2^64) with a_n = A^n,
    * b_n = b_{n-1}·A + C — so a 1521-row recursive CTE (max raster is
    * 39×39) gives every pixel of every doc without sequential iteration.
    * Pixel idx (0-based, row-major) uses x_{idx+1} (the generator steps
    * BEFORE each setRGB); the stored int is bits 40..63, split into
    * r/g/b bytes; then the same integer luminance, floor-partition grid,
    * floor-mean, and strict-> threshold as the Scala kernel. Bit 63 is
    * added as the signed long minimum so the packed hash lands in BIGINT
    * exactly like the JVM's Long.
    */
  /** Shared CTE chain d→lcg→px→lum→g8: documents → synthesized-image
    * pixels (closed-form LCG) → integer luminance → 8×8 area-mean grid.
    * Used by both mm_features (hash bits over the grid) and
    * mm_feature_ann (the grid as a feature vector for retrieval).
    */
  private def mmGridCtes: String = mmGridCtes("doc_id * 4 + 1")

  private def mmGridCtes(seedExpr: String): String = {
    val M = "18446744073709551616" // 2^64
    val A = "6364136223846793005"  // syntheticPng LCG multiplier
    val C = "1442695040888963407"  // syntheticPng LCG increment
    s"""d AS (
        SELECT doc_id, CAST($seedExpr AS HUGEINT) AS s,
               CAST(8 + ($seedExpr) % 32 AS BIGINT) AS w,
               CAST(8 + (($seedExpr) // 3) % 32 AS BIGINT) AS h
        FROM documents
      ),
      lcg(n, a, b) AS (
        SELECT 1, CAST($A AS HUGEINT), CAST($C AS HUGEINT)
        UNION ALL
        SELECT n + 1, (a * $A) % CAST($M AS HUGEINT),
               (b * $A + $C) % CAST($M AS HUGEINT)
        FROM lcg WHERE n < 1521
      ),
      px AS (
        SELECT d.doc_id, d.w, d.h,
               CAST((l.n - 1) % d.w AS BIGINT) AS i,
               CAST((l.n - 1) // d.w AS BIGINT) AS j,
               CAST(((l.a * d.s + l.b) % CAST($M AS HUGEINT)) // 1099511627776 AS BIGINT) AS v
        FROM d JOIN lcg l ON l.n <= d.w * d.h
      ),
      lum AS (
        SELECT doc_id, w, h, i, j,
               (77 * (v // 65536) + 151 * ((v // 256) % 256) + 28 * (v % 256)) // 256 AS lum
        FROM px
      ),
      g8 AS (
        SELECT doc_id, (j * 8) // h AS gy, (i * 8) // w AS gx,
               SUM(lum) // COUNT(*) AS cell
        FROM lum GROUP BY doc_id, (j * 8) // h, (i * 8) // w
      )"""
  }

  /** ≡ the mm_feature_ann Spark pipeline: the g8 grid as a 64-dim float
    * feature vector (cell/255 in float32 — IEEE single division, so both
    * engines round identically), quantized floor(x·1e6), ranked by exact
    * integer dot products (the quantizedMipsTopK contract).
    */
  /** ≡ Similarity.quantizedIvfPqTopK(embeddings, vec_id<10, k=5,
    * nCells=8, nProbe=2, m=8, ks=16): coarse seed centroids + MIPS cell
    * routing (the quantIvf CTEs), residual codebook from the 16
    * lowest-id vectors' own-cell residuals, per-(vector, subspace)
    * argmin codes, per-(query, probed cell) ADC tables, summed over the
    * cell-respecting 8-way join.
    */
  private def quantIvfPqOracleSql: String = {
    val k = 5
    s"""
      WITH $quantIvfPqCtesSql,
      r2 AS (SELECT query_id, neighbor_id, dist,
                    row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
             FROM sc)
      SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, dist
      FROM r2 WHERE rank <= $k ORDER BY query_id, rank"""
  }

  /** The IVF-PQ oracle chain up through the scored candidates `sc` —
    * shared by the top-k and recall oracles.
    */
  private def quantIvfPqCtesSql: String = {
    val (nCells, nProbe, m, ks) = (8, 2, 8, 16)
    s"""qz AS (
        SELECT vec_id,
               list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
        FROM embeddings WHERE embedding IS NOT NULL
      ),
      cent AS (SELECT row_number() OVER (ORDER BY vec_id) AS c, qv AS cv
               FROM qz ORDER BY vec_id LIMIT $nCells),
      asg AS (SELECT z.vec_id, z.qv, c.c,
                     CAST(list_sum(list_transform(range(1, len(z.qv) + 1),
                       i -> z.qv[i] * c.cv[i])) AS BIGINT) AS d
              FROM qz z CROSS JOIN cent c),
      rka AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, c) AS rk
              FROM asg),
      cellv AS (SELECT a.vec_id, a.c AS cell,
                       list_transform(range(1, len(a.qv) + 1),
                         i -> a.qv[i] - ct.cv[i]) AS rv
                FROM rka a JOIN cent ct ON ct.c = a.c WHERE a.rk = 1),
      rseed AS (SELECT row_number() OVER (ORDER BY vec_id) AS cw, rv AS sv
                FROM cellv ORDER BY vec_id LIMIT $ks),
      sdim AS (SELECT len(sv) // $m AS sub FROM rseed LIMIT 1),
      js AS (SELECT unnest(range(1, $m + 1)) AS j),
      cb AS (SELECT js.j, rseed.cw,
                    list_slice(rseed.sv, (js.j - 1) * sdim.sub + 1, js.j * sdim.sub) AS cvec
             FROM rseed CROSS JOIN js CROSS JOIN sdim),
      encd AS (SELECT v.vec_id, c.j, c.cw,
                      CAST(list_sum(list_transform(range(1, len(c.cvec) + 1),
                        i -> (v.rv[(c.j - 1) * len(c.cvec) + i] - c.cvec[i])
                           * (v.rv[(c.j - 1) * len(c.cvec) + i] - c.cvec[i]))) AS BIGINT) AS d
               FROM cellv v CROSS JOIN cb c),
      enc AS (SELECT vec_id, j, cw FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY d, cw) AS rk
                FROM encd) WHERE rk = 1),
      ecell AS (SELECT e.vec_id, v.cell, e.j, e.cw FROM enc e JOIN cellv v USING (vec_id)),
      qres AS (SELECT q.vec_id AS query_id, q.c AS cell,
                      list_transform(range(1, len(q.qv) + 1),
                        i -> q.qv[i] - ct.cv[i]) AS rv
               FROM rka q JOIN cent ct ON ct.c = q.c
               WHERE q.vec_id < 10 AND q.rk <= $nProbe),
      qt AS (SELECT r.query_id, r.cell, c.j, c.cw,
                    CAST(list_sum(list_transform(range(1, len(c.cvec) + 1),
                      i -> (r.rv[(c.j - 1) * len(c.cvec) + i] - c.cvec[i])
                         * (r.rv[(c.j - 1) * len(c.cvec) + i] - c.cvec[i]))) AS BIGINT) AS d
             FROM qres r CROSS JOIN cb c),
      sc AS (SELECT qt.query_id, e.vec_id AS neighbor_id, CAST(SUM(qt.d) AS BIGINT) AS dist
             FROM ecell e JOIN qt ON qt.cell = e.cell AND qt.j = e.j AND qt.cw = e.cw
             WHERE e.vec_id <> qt.query_id
             GROUP BY qt.query_id, e.vec_id)"""
  }

  /** ≡ Similarity.recallAgainst(quantizedIvfPqTopK, quantizedL2TopK):
    * the pqRecallOracleSql shape over the IVF-PQ chain — the composed
    * index's RECALL@5 against the same exact integer-L2 truth, fully
    * hash-oracled. n_approx can sit below k here: a query's probed
    * cells may hold fewer than k foreign vectors (the IVF pruning
    * showing up in the output, not an error).
    */
  private def ivfPqRecallOracleSql: String = {
    val k = 5
    s"""
      WITH $quantIvfPqCtesSql,
      r2 AS (SELECT query_id, neighbor_id,
                    row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
             FROM sc),
      l2 AS (SELECT q.query_id, c.vec_id AS neighbor_id,
                    CAST(list_sum(list_transform(range(1, len(c.qv) + 1),
                      i -> (q.qv[i] - c.qv[i]) * (q.qv[i] - c.qv[i]))) AS BIGINT) AS dist
             FROM qz c JOIN (SELECT vec_id AS query_id, qv FROM qz WHERE vec_id < 10) q
               ON c.vec_id <> q.query_id),
      l2r AS (SELECT query_id, neighbor_id,
                     row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
              FROM l2),
      apx AS (SELECT query_id, neighbor_id FROM r2 WHERE rank <= $k),
      ex AS (SELECT query_id, neighbor_id FROM l2r WHERE rank <= $k),
      qs AS (SELECT vec_id AS query_id FROM qz WHERE vec_id < 10),
      na AS (SELECT query_id, COUNT(*) AS n_approx FROM apx GROUP BY 1),
      nf AS (SELECT a.query_id, COUNT(*) AS n_found
             FROM apx a JOIN ex e USING (query_id, neighbor_id) GROUP BY 1)
      SELECT qs.query_id,
             CAST(COALESCE(na.n_approx, 0) AS BIGINT) AS n_approx,
             CAST(COALESCE(nf.n_found, 0) AS BIGINT) AS n_found
      FROM qs LEFT JOIN na USING (query_id) LEFT JOIN nf USING (query_id)
      ORDER BY query_id"""
  }

  /** ≡ the mm_pair_filter Spark pipeline: image features from the LCG
    * closed form (the shared mmGridCtes), both sides quantized
    * floor(x·1e6), dot over the common 64-dim prefix, and the
    * cross-multiplied keep compare in HUGEINT (d²·dot² ≥ n²·|qi|²·|qc|²
    * at 1/10, dot strictly positive).
    */
  private def mmPairFilterOracleSql: String =
    s"""
      WITH RECURSIVE $mmGridCtes,
      fq AS (SELECT doc_id, gy * 8 + gx AS idx,
                    CAST(floor(CAST(CAST(cell AS FLOAT) / CAST(255 AS FLOAT) AS DOUBLE) * 1000000.0) AS BIGINT) AS q
             FROM g8),
      img AS (SELECT doc_id, list(q ORDER BY idx) AS qi FROM fq GROUP BY doc_id),
      cap AS (SELECT vec_id AS doc_id,
                     list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qc
              FROM embeddings WHERE embedding IS NOT NULL),
      j AS (SELECT i.doc_id, i.qi, c.qc FROM img i JOIN cap c USING (doc_id)),
      m AS (SELECT doc_id,
                   CAST(list_sum(list_transform(range(1, LEAST(len(qi), len(qc)) + 1),
                     k -> qi[k] * qc[k])) AS BIGINT) AS dot,
                   CAST(list_sum(list_transform(range(1, len(qi) + 1),
                     k -> qi[k] * qi[k])) AS BIGINT) AS ni,
                   CAST(list_sum(list_transform(range(1, len(qc) + 1),
                     k -> qc[k] * qc[k])) AS BIGINT) AS nc
            FROM j)
      SELECT doc_id, dot AS qdot,
             CAST(CASE WHEN dot > 0
                        AND 100 * CAST(dot AS HUGEINT) * dot >= CAST(ni AS HUGEINT) * nc
                  THEN 1 ELSE 0 END AS BIGINT) AS keep
      FROM m ORDER BY doc_id"""

  private def mmFeatureAnnOracleSql: String =
    s"""
      WITH RECURSIVE $mmGridCtes,
      fq AS (SELECT doc_id, gy * 8 + gx AS idx,
                    CAST(floor(CAST(CAST(cell AS FLOAT) / CAST(255 AS FLOAT) AS DOUBLE) * 1000000.0) AS BIGINT) AS qc
             FROM g8),
      vec AS (SELECT doc_id AS vec_id, list(qc ORDER BY idx) AS qv FROM fq GROUP BY doc_id),
      qp AS (SELECT vec_id AS query_id, qv AS q_qv FROM vec WHERE vec_id < 5),
      sc AS (SELECT qp.query_id, c.vec_id AS neighbor_id,
                    CAST(list_sum(list_transform(range(1, 65),
                      i -> qp.q_qv[i] * c.qv[i])) AS BIGINT) AS score
             FROM vec c, qp WHERE c.vec_id <> qp.query_id),
      rk AS (SELECT query_id, neighbor_id, score,
                    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
             FROM sc)
      SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, score
      FROM rk WHERE rank <= 3 ORDER BY query_id, rank"""

  // CAST the SUM back down: DuckDB widens SUM(BIGINT) to HUGEINT, but
  // the packed hash must compare as a 64-bit integer like the JVM Long
  private def packBits(cond: String, idx: String): String =
    s"""CAST(SUM(CASE WHEN $cond THEN
       |             CASE WHEN $idx = 63 THEN CAST(-9223372036854775808 AS BIGINT)
       |                  ELSE CAST(1 AS BIGINT) << CAST($idx AS INT) END
       |             ELSE CAST(0 AS BIGINT) END) AS BIGINT)""".stripMargin

  /** ≡ the mm_image_dedup Spark pipeline: seed (doc_id%50)·4+1 images,
    * aHash bits from the LCG closed form, canonical = min doc_id per
    * hash. ~10 docs share each exact image so the clusters are
    * non-vacuous at every sf.
    */
  private def mmImageDedupOracleSql: String =
    s"""
      WITH RECURSIVE ${mmGridCtes("(doc_id % 50) * 4 + 1")},
      m8 AS (SELECT doc_id, SUM(cell) // 64 AS mean FROM g8 GROUP BY doc_id),
      ah AS (SELECT g8.doc_id,
               ${packBits("cell > mean", "gy * 8 + gx")} AS ahash
             FROM g8 JOIN m8 ON g8.doc_id = m8.doc_id
             GROUP BY g8.doc_id)
      SELECT doc_id, ahash AS ah,
             MIN(doc_id) OVER (PARTITION BY ahash) AS canonical_id
      FROM ah ORDER BY doc_id"""

  /** ≡ Multimodal.pairDedup over (doc_id%50 images, doc_id%30 captions):
    * the mm_image_dedup ahash CTEs composed with the d_minhash_lsh band
    * CTEs evaluated over the synthetic caption expression; buckets are
    * (band, ahash, bandKey) with the inherited ≤50 hot guard and
    * min-over-buckets canonical.
    */
  private def mmPairDedupOracleSql: String =
    s"""
      WITH RECURSIVE ${mmGridCtes("(doc_id % 50) * 4 + 1")},
      m8 AS (SELECT doc_id, SUM(cell) // 64 AS mean FROM g8 GROUP BY doc_id),
      ahx AS (SELECT g8.doc_id,
                ${packBits("cell > mean", "gy * 8 + gx")} AS ah
              FROM g8 JOIN m8 ON g8.doc_id = m8.doc_id
              GROUP BY g8.doc_id),
      ${md5BandCtes(Multimodal.captionSql("doc_id"))},
      mem AS (SELECT bk.doc_id, bk.band, ahx.ah, bk.bkv
              FROM bk JOIN ahx ON bk.doc_id = ahx.doc_id),
      sz AS (SELECT band, ah, bkv, COUNT(*) AS n, MIN(doc_id) AS bmin
             FROM mem GROUP BY band, ah, bkv),
      cm AS (SELECT mem.doc_id, MIN(CASE WHEN sz.n <= 50 THEN sz.bmin END) AS cmin
             FROM mem JOIN sz USING (band, ah, bkv) GROUP BY mem.doc_id)
      SELECT d.doc_id, COALESCE(cm.cmin, d.doc_id) AS canonical_id
      FROM documents d LEFT JOIN cm ON d.doc_id = cm.doc_id
      ORDER BY d.doc_id"""

  /** ≡ the mm_frame_decode Spark pipeline: per doc, nf = 2 + d%3 frames of
    * (8 + d%9)×(8 + (d//3)%9) gray pixels; frame k's pixel stream is the
    * LCG from seed (d+1)·1000003+k in closed form x_n = a_n·s + b_n
    * (mod 2^64), value = bits 40..47; gray decode makes luminance ≡ the
    * sample byte, then the same floor-partition 8×8 grid, floor-mean and
    * strict-> threshold as the JVM kernel. Max raster is 16×16 so the
    * coefficient CTE stops at 256 states.
    */
  private def mmFrameDecodeOracleSql: String = {
    val M = "CAST(18446744073709551616 AS HUGEINT)" // 2^64
    val A = "6364136223846793005"
    val C = "1442695040888963407"
    s"""
      WITH RECURSIVE d AS (
        SELECT doc_id,
               CAST(2 + doc_id % 3 AS BIGINT) AS nf,
               CAST(8 + doc_id % 9 AS BIGINT) AS w,
               CAST(8 + (doc_id // 3) % 9 AS BIGINT) AS h
        FROM documents
      ),
      fr AS (
        SELECT doc_id, nf, w, h, CAST(unnest(range(0, nf)) AS BIGINT) AS k FROM d
      ),
      fs AS (
        SELECT doc_id, nf, w, h, k,
               CAST((doc_id + 1) * 1000003 + k AS HUGEINT) AS s
        FROM fr
      ),
      lcg(n, a, b) AS (
        SELECT 1, CAST($A AS HUGEINT), CAST($C AS HUGEINT)
        UNION ALL
        SELECT n + 1, (a * $A) % $M, (b * $A + $C) % $M
        FROM lcg WHERE n < 256
      ),
      px AS (
        SELECT fs.doc_id, fs.k, fs.nf, fs.w, fs.h,
               CAST((l.n - 1) % fs.w AS BIGINT) AS i,
               CAST((l.n - 1) // fs.w AS BIGINT) AS j,
               CAST(((l.a * fs.s + l.b) % $M) // 1099511627776 % 256 AS BIGINT) AS v
        FROM fs JOIN lcg l ON l.n <= fs.w * fs.h
      ),
      g8 AS (
        SELECT doc_id, k, nf, w, h, (j * 8) // h AS gy, (i * 8) // w AS gx,
               SUM(v) // COUNT(*) AS cell
        FROM px GROUP BY doc_id, k, nf, w, h, (j * 8) // h, (i * 8) // w
      ),
      m8 AS (SELECT doc_id, k, SUM(cell) // 64 AS mean FROM g8 GROUP BY doc_id, k),
      ah AS (
        SELECT g8.doc_id, g8.k, MAX(g8.w) AS w, MAX(g8.h) AS h, MAX(g8.nf) AS nf,
               ${packBits("cell > mean", "gy * 8 + gx")} AS ahash
        FROM g8 JOIN m8 ON g8.doc_id = m8.doc_id AND g8.k = m8.k
        GROUP BY g8.doc_id, g8.k
      )
      SELECT doc_id, k AS frame_idx, 'frame' AS kind,
             CAST(w AS INT) AS width, CAST(h AS INT) AS height,
             ahash AS frame_ahash, CAST(nf AS INT) AS n_frames
      FROM ah ORDER BY doc_id, frame_idx"""
  }

  /** ≡ SimHash.hammingPairs over ahash64 of the seed-(doc_id%50) images:
    * hash bits from the LCG closed form, brute-force distance join (the
    * operator's banded filter is complete for r ≤ 3 and verifies, so the
    * sets are equal by construction).
    */
  private def mmPhashHammingOracleSql: String =
    s"""
      WITH RECURSIVE ${mmGridCtes("(doc_id % 50) * 4 + 1")},
      m8 AS (SELECT doc_id, SUM(cell) // 64 AS mean FROM g8 GROUP BY doc_id),
      ah AS (SELECT g8.doc_id,
               ${packBits("cell > mean", "gy * 8 + gx")} AS ahash
             FROM g8 JOIN m8 ON g8.doc_id = m8.doc_id
             GROUP BY g8.doc_id)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.ahash, b.ahash)) AS INT) AS dist
      FROM ah a JOIN ah b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.ahash, b.ahash)) <= 2
      ORDER BY id_a, id_b"""

  private def mmFeaturesOracleSql: String = {
    s"""
      WITH RECURSIVE $mmGridCtes,
      g9 AS (
        SELECT doc_id, (j * 8) // h AS gy, (i * 9) // w AS gx,
               SUM(lum) // COUNT(*) AS cell
        FROM lum GROUP BY doc_id, (j * 8) // h, (i * 9) // w
      ),
      m8 AS (SELECT doc_id, SUM(cell) // 64 AS mean FROM g8 GROUP BY doc_id),
      ah AS (
        SELECT g8.doc_id,
               ${packBits("cell > mean", "gy * 8 + gx")} AS ahash
        FROM g8 JOIN m8 ON g8.doc_id = m8.doc_id
        GROUP BY g8.doc_id
      ),
      dh AS (
        SELECT a.doc_id,
               ${packBits("b.cell > a.cell", "a.gy * 8 + a.gx")} AS dhash
        FROM g9 a JOIN g9 b
          ON a.doc_id = b.doc_id AND a.gy = b.gy AND b.gx = a.gx + 1
        WHERE a.gx < 8
        GROUP BY a.doc_id
      )
      SELECT d.doc_id, ah.ahash, dh.dhash
      FROM d JOIN ah ON d.doc_id = ah.doc_id
             JOIN dh ON d.doc_id = dh.doc_id
      ORDER BY d.doc_id"""
  }

  /** Shared CTE chain t→hh→c→f: documents → md5-family simhash
    * fingerprints (token = md5_60, low `bits` bits). Used by the
    * canonicalization oracle and the verified Hamming-join oracle.
    */
  private def md5SimhashFpCtes(bits: Int): String = {
    val cs = (0 until bits).map(j =>
      s"SUM(CASE WHEN (hv >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS c$j").mkString(",\n             ")
    val fp = (0 until bits).map(j => s"(CASE WHEN c$j > 0 THEN ${1L << j} ELSE 0 END)").mkString("\n             + ")
    s"""t AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
                 FROM documents WHERE text IS NOT NULL),
      hh AS (SELECT doc_id, ${md5_60("tok")} AS hv FROM t),
      c AS (SELECT doc_id,
             $cs
            FROM hh GROUP BY doc_id),
      f AS (SELECT doc_id, CAST($fp AS BIGINT) AS fp FROM c)"""
  }

  /** ≡ SimHash.hammingPairs(simhashOfMd5(documents), r=3, bits=32): the
    * banded candidate filter is COMPLETE for r ≤ 3 (pigeonhole) and the
    * operator verifies the exact bit count, so the emitted set equals the
    * brute-force distance-≤-3 join — which is exactly what this oracle
    * computes (125k pairs at sf0.01, trivial for DuckDB; the operator
    * never materializes that cross join).
    */
  private def simhashHammingOracleSql: String =
    s"""
      WITH ${md5SimhashFpCtes(32)}
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS dist
      FROM f a JOIN f b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.fp, b.fp)) <= 3
      ORDER BY id_a, id_b"""

  /** ≡ SimHash.nearDupCanonicalMd5(documents) ORDER BY doc_id */
  private def simhashOracleSql: String = {
    val bits = 32; val chunkBits = 8; val maxBucket = 100
    val chunkVals = (0 until 4).map(i => s"($i, ${i * chunkBits})").mkString(", ")
    s"""
      WITH ${md5SimhashFpCtes(bits)},
      ch AS (SELECT f.doc_id, v.ci AS chunk_idx, (f.fp >> v.sh) & ${(1L << chunkBits) - 1} AS chunk
             FROM f, (VALUES $chunkVals) v(ci, sh)),
      sz AS (SELECT chunk_idx, chunk, COUNT(*) AS n, MIN(doc_id) AS bmin
             FROM ch GROUP BY chunk_idx, chunk),
      cm AS (SELECT ch.doc_id, MIN(CASE WHEN sz.n <= $maxBucket THEN sz.bmin END) AS cmin
             FROM ch JOIN sz USING (chunk_idx, chunk) GROUP BY ch.doc_id)
      SELECT d.doc_id, f.fp AS simhash, COALESCE(cm.cmin, d.doc_id) AS canonical_id
      FROM documents d LEFT JOIN f ON d.doc_id = f.doc_id
                       LEFT JOIN cm ON d.doc_id = cm.doc_id
      ORDER BY d.doc_id"""
  }
}
