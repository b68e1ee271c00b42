package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}

/** Corpus-curation operators a large-scale training-data pipeline runs
  * between dedup and training: cross-split decontamination, repetition
  * gates, per-source quotas, PII scanning, reproducible shuffles. All of
  * them follow the module-wide scale rules — document text is never
  * shuffled (only 64-bit hashes and counts move), the small side of every
  * join is broadcast, and per-doc metrics stay in codegen'd column
  * expressions.
  */
object Curation {

  /** Train docs sharing at least one word `k`-shingle with the test split —
    * the GPT-3-style n-gram decontamination check, with splits drawn from
    * the same deterministic hash buckets as [[TextAnalysis.splitName]].
    * Returns (doc_id, n_shared): the count of the train doc's DISTINCT
    * shingles that also occur anywhere in the test split.
    *
    * Scale shape: both sides reduce to 64-bit shingle hashes before the
    * join, so text never shuffles. Hashing is the native codegen'd
    * [[graft.functions.ShingleHash64]] expression — one byte scan per doc,
    * no word array, no per-shingle String — which is the measured dominant
    * cost killer (measured r7 by the since-deleted ProfileDecontam — its
    * protocol lives on in graft.Bench — sf0.1 warm, 3 reps: full query
    * 3.13-3.52 s with the md5-60 slice+concat chain vs **0.42-0.44 s**
    * native; train-side hash extraction alone 2.10-2.22 s → 0.10-0.12 s;
    * an xxhash64-over-shingle-strings middle ground measured 2.83-2.99 s,
    * and joining on raw shingle strings 2.55-3.05 s — the win is skipping
    * shingle-string construction, not the hash family). The test side
    * (distinct hashes of the held-out split) is NOT force-broadcast: at
    * corpus scale a 10% test split's distinct 5-gram hashes are billions of
    * rows, so a `broadcast` hint would bypass Spark's size heuristics and
    * OOM every executor. AQE picks a broadcast semi-join whenever the test
    * side is actually small, and falls back to a hash-partitioned semi-join
    * over the two narrow (id, 8-byte hash) streams when it isn't — with
    * runtime bloom filters (spark.sql.optimizer.runtime.bloomFilter.enabled)
    * pre-pruning the exploded train side before the shuffle.
    */
  def decontaminate(docs: DataFrame, k: Int = 5,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    decontaminateFrom(splitDocs(docs, idCol, textCol), k, idCol, textCol)

  /** (id, __split, text) for non-null-text docs — the shared front of the
    * decontamination variants.
    */
  private def splitDocs(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol), TextAnalysis.splitName(col(idCol)).as("__split"), col(textCol))

  private def decontaminateFrom(withSplit: DataFrame, k: Int,
                                idCol: String, textCol: String): DataFrame = {
    def shingleHashes(df: DataFrame): DataFrame =
      df.select(col(idCol),
        explode(array_distinct(graft.functions.ShingleHash64(col(textCol), k))).as("__h"))
    val trainH = shingleHashes(withSplit.filter(col("__split") === "train"))
    val testH = shingleHashes(withSplit.filter(col("__split") === "test"))
      .select("__h").distinct()
    trainH
      .join(testH, Seq("__h"), "left_semi")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Bounded contamination sketch: a Bloom filter over the distinct 64-bit
    * shingle hashes of the held-out docs — same ShingleHash64 family as
    * [[decontaminate]], zero false negatives by construction, O(n·log
    * 1/fpp) BITS regardless of corpus size (~1.2 GB for 10⁹ grams at 1%
    * fpp, shippable to every executor where the exact hash set is not).
    * Built by a distributed `stat.bloomFilter` aggregation — constant
    * driver memory. Shared by the streaming face
    * (DocStream.decontaminateFilter) and the batch two-stage variant.
    */
  def contaminationBloom(testDocs: DataFrame, k: Int = 5, textCol: String = "text",
                         expectedItems: Long = -1L,
                         fpp: Double = 0.001): org.apache.spark.util.sketch.BloomFilter = {
    val hashes = testDocs
      .filter(col(textCol).isNotNull)
      .select(explode(array_distinct(graft.functions.ShingleHash64(col(textCol), k))).as("__h"))
    // a bloom sized below the true item count silently saturates (fpp → 1:
    // the prefilter keeps everything while still paying its full cost), so
    // when the caller doesn't know the cardinality we measure it — one
    // approx_count_distinct pass over the SMALL held-out side, ~2% error,
    // padded 1.5× — instead of trusting a hardcoded guess
    val n =
      if (expectedItems > 0) expectedItems
      else math.max(
        hashes.agg(approx_count_distinct("__h")).head.getLong(0) * 3 / 2, 1024L)
    hashes.stat.bloomFilter("__h", n, fpp)
  }

  /** A [[contaminationBloom]] sketch bound to its executor-side broadcast,
    * with an explicit lifetime. Each probe holds ONE driver-registered
    * broadcast of the sketch (~1.2 GB at the 10⁹-gram design point), which
    * lives until `release()` — Spark's ContextCleaner only reclaims a
    * broadcast after its driver handle is garbage-collected, so a
    * long-lived service that builds refreshed sketches (a new probe per
    * refresh) accumulates retired sketches on the driver and every
    * executor unless it releases them. Call `release()` once every
    * DataFrame derived from `apply` has finished executing; the probe (and
    * any plan still referencing it) is unusable afterwards. One-shot batch
    * jobs can ignore the handle — session teardown reclaims everything.
    */
  final class ContaminationProbe private[Curation] (
      bc: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter]) {
    /** True iff ANY of the 64-bit hashes might be in the sketch (codegen'd
      * [[graft.functions.BloomAnyContains]] — zero false negatives). NULL
      * hash arrays (null text) propagate null — callers decide the
      * pass/drop policy.
      */
    def apply(hashes: Column): Column = graft.functions.BloomAnyContains(hashes, bc)
    /** Drop the sketch from the driver and all executors (blocking). */
    def release(): Unit = bc.destroy()
  }

  /** Bind a [[contaminationBloom]] sketch to a broadcast-backed probe: the
    * ONE membership probe both the batch prefilter and the streaming face
    * use. The sketch rides a Spark broadcast (ships to each executor once
    * — a plain closure capture would re-serialize the full bloom into
    * every stage's task binary, every micro-batch on a stream), and the
    * probe is the codegen'd [[graft.functions.BloomAnyContains]]
    * expression — primitive in-place array reads, no per-row boxing, stays
    * inside the same whole-stage codegen as the ShingleHash64 that feeds
    * it. See [[ContaminationProbe]] for the broadcast's lifetime contract.
    */
  def contaminationProbe(
      spark: org.apache.spark.sql.SparkSession,
      bloom: org.apache.spark.util.sketch.BloomFilter): ContaminationProbe =
    new ContaminationProbe(spark.sparkContext.broadcast(bloom))

  private[graft] def mightOverlap(
      spark: org.apache.spark.sql.SparkSession,
      bloom: org.apache.spark.util.sketch.BloomFilter
  ): Column => Column = {
    val probe = contaminationProbe(spark, bloom)
    hashes => probe(hashes)
  }

  /** Two-stage [[decontaminate]]: the 100 TB shape. Stage 1 ships the
    * bounded [[contaminationBloom]] sketch to every executor and drops,
    * per-row and shuffle-free, every train doc NONE of whose shingle
    * hashes might be in the test split — at corpus scale that is ~99% of
    * the data leaving the expensive path. Stage 2 runs the exact semi-join
    * on the survivors only. Output is IDENTICAL to [[decontaminate]]
    * (registered under the same oracle): the bloom has zero false
    * negatives, so no contaminated doc is pre-dropped, and stage 2's exact
    * join discards stage 1's false positives.
    *
    * NOTE: unlike every other registered query, CONSTRUCTING this
    * DataFrame runs a Spark job (the test-split sketch build — a fit step,
    * like training IVF centroids); callers that only want the plan shape
    * should expect that bounded scan.
    */
  def decontaminateBloomStaged(docs: DataFrame, k: Int = 5,
                               idCol: String = "doc_id", textCol: String = "text",
                               expectedItems: Long = -1L,
                               fpp: Double = 0.01): DataFrame = {
    val withSplit = splitDocs(docs, idCol, textCol)
    val bloom = contaminationBloom(
      withSplit.filter(col("__split") === "test"), k, textCol, expectedItems, fpp)
    val probe = mightOverlap(docs.sparkSession, bloom)
    // splitDocs already dropped null text, so the probe input is non-null
    val prefiltered = withSplit.filter(
      col("__split") =!= "train" ||
        probe(graft.functions.ShingleHash64(col(textCol), k)))
    decontaminateFrom(prefiltered, k, idCol, textCol)
  }

  /** Per-doc repetition signals (the Gopher-style quality gates): word and
    * 3-gram duplication plus the most-frequent-word count. Duplication
    * counts are pure per-row column expressions; `top_word_n` goes through
    * the scalable explode → (doc, word) partial-agg → per-doc max shape —
    * the same two-level aggregation a 100 TB corpus needs (never a per-doc
    * in-memory frequency map).
    *
    * Cost history: the r6 profile (ProfileRepetition, sf0.1 warm) measured
    * the full query at 3.12 s, 2.76 s of it BUILDING 3-gram STRINGS via
    * slice+concat_ws, with the top_word explode+agg at 0.55 s and an
    * exploded two-level n_distinct_grams alternative 18% WORSE. r7 replaced
    * the string grams with the native codegen'd ShingleHash64 (counts over
    * 64-bit hashes ≡ counts over strings): full query now 0.57-0.71 s
    * (sf0.1 warm, 5 reps) — ~5.5× — leaving the explode+agg
    * as the dominant remaining cost. At 30× data the string-gram version
    * ran 2.54× wall (SCALE_PROBE_r06); the hash version only lowers the
    * per-row constant, so sub-linearity stands.
    */
  def repetitionSignals(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    val nonNull = docs.filter(col(textCol).isNotNull)
    val base = nonNull.select(col(idCol) +: repetitionBaseCols(textCol): _*)
    // top_word_n never outputs the word itself — only the max per-word
    // count — so the explode→two-level agg runs over 64-bit token hashes
    // (ShingleHash64 k=1): the exploded stream and the (id, token) shuffle
    // carry primitive longs, not word strings. Counts over hashes ≡ counts
    // over words modulo collision p ≈ n²/2⁶⁵ per doc (a collision could
    // only merge two words' counts); the string-side DuckDB oracle guards
    // the equivalence.
    val top = nonNull
      .select(col(idCol), explode(graft.functions.ShingleHash64(col(textCol), 1)).as("__w"))
      .groupBy(idCol, "__w")
      .agg(count(lit(1)).as("__c"))
      .groupBy(idCol)
      .agg(max("__c").as("top_word_n"))
    base.join(top, Seq(idCol))
  }

  /** The four per-row repetition metrics, shared verbatim by the batch
    * operator above and the streaming face (DocStream.repetitionSignals) so
    * the two can never drift.
    */
  private[graft] def repetitionBaseCols(textCol: String): Seq[Column] = {
    val words = split(trim(col(textCol)), "\\s+")
    // gram COUNTS come from the native 64-bit shingle hashes — same
    // tokenization (ShingleHash64Spec pins byte parity with the string
    // chain), and n(_distinct)_grams over hashes ≡ over strings (collision
    // p ≈ n²/2⁶⁵ per doc): skips building any shingle String
    val grams = graft.functions.ShingleHash64(col(textCol), 3)
    Seq(
      size(words).cast("long").as("n_words"),
      size(array_distinct(words)).cast("long").as("n_distinct_words"),
      size(grams).cast("long").as("n_grams"),
      size(array_distinct(grams)).cast("long").as("n_distinct_grams"),
    )
  }

  /** Deterministic per-source quota: keep at most `cap` docs per source,
    * chosen by a reproducible hash order (md5 of the id — no RNG state,
    * stable across runs and repartitioning).
    *
    * `preReduce = false` (default): one hash-partitioned window per source
    * key — the right single-shuffle plan at typical source cardinalities.
    *
    * `preReduce = true`: the skew-safe two-level shape for a corpus where
    * one source dominates (a 60%-of-100 TB source would otherwise sort on
    * ONE task). Stage 1 windows over (input partition, source) — the
    * dominant source splits across all its input partitions, so no task
    * sees more than its partition's share — keeping the `cap` hash-lowest
    * rows per (partition, source). Stage 2 runs the plain per-source
    * window over the survivors: ≤ cap × nPartitions rows per source,
    * bounded regardless of corpus skew. Result is identical to the plain
    * path and independent of physical layout: stage 1's union is always a
    * superset of the global cap-lowest rows per source (each global winner
    * is among the cap lowest of whichever partition holds it).
    */
  /** Corpus-statistics quality signal — the integer-exact skeleton of
    * LM-likelihood filtering (the production pipeline pattern: score each
    * document by how "expected" its token transitions are under corpus
    * statistics, drop the tails): per doc, the floor-mean corpus
    * frequency of its word bigrams. Low support ⇒ text whose transitions
    * appear nowhere else (OCR noise, word salad, wrong-language
    * fragments); high support ⇒ boilerplate. Exact integer arithmetic so
    * the score cross-engine hash-matches — a float log-prob would differ
    * in last-ulp libm digits between engines.
    *
    * Scale shape: bigrams hash to 64-bit keys BEFORE any exchange via the
    * native codegen'd [[graft.functions.ShingleHash64]] — one byte scan
    * per doc, no word array, no per-bigram String (the same measured-7×
    * win that took c_decontaminate from 3.1 s to 0.44 s; the md5-60
    * slice+concat chain this replaced paid ~2 s/query at sf0.1 in string
    * construction alone). 8-byte shuffle rows, never strings; the DuckDB
    * oracle joins on the raw bigram STRINGS instead — the exact
    * semantics, hash-free, so the compare also guards the 64-bit hashes
    * against collisions. Then ONE windowed count over the hash key
    * attaches each bigram's corpus frequency without a join — the join
    * formulation scanned and exploded the corpus twice and benched 3×
    * slower — and one per-doc fold. Nothing is collected; the frequency
    * "table" never exists as a driver structure. Docs shorter than 2
    * words use their whole text as the single "bigram"
    * ([[MinHash.shingles]] k=2 contract); null-text docs emit null
    * support.
    *
    * Skew posture, AUTOMATED: the window co-locates every occurrence of a
    * bigram in one partition, so an extreme-skew corpus (one boilerplate
    * bigram dominating) concentrates that key's rows on one task — a
    * window partition cannot be split, not even by AQE. A cheap sampled
    * pre-flight (fraction `skewSampleFrac` of docs through the same
    * shingle+hash lineage, one map-side-combined count — the sample
    * predicate still SCANS the text column once, but the explode+hash
    * work runs on the sample only) estimates the hottest key's row
    * count; above
    * `maxWindowKeyRows` the plan switches to [[bigramSupportAggJoin]],
    * whose every aggregation is map-side partial (skew-immune) and whose
    * one join AQE can skew-split. Both shapes produce identical rows (the
    * spec pins equality and the oracle hash covers the registered query
    * whichever shape runs). The windowed form stays the default at benign
    * skew: one pass, and 30× probing reads ratio 1.88. `skewSampleFrac =
    * 0` disables the pre-flight (always windowed).
    */
  def bigramSupport(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text",
                    skewSampleFrac: Double = 0.01,
                    maxWindowKeyRows: Long = 1L << 22): DataFrame = {
    require(skewSampleFrac >= 0.0 && skewSampleFrac <= 1.0)
    if (skewSampleFrac > 0) {
      val top = docs
        .filter(col(textCol).isNotNull)
        .sample(withReplacement = false, skewSampleFrac, seed = 42)
        .select(explode(graft.functions.ShingleHash64(col(textCol), 2)).as("bgh"))
        .groupBy("bgh").agg(count(lit(1)).as("c"))
        .agg(max("c")).head
      val topEst = (if (top.isNullAt(0)) 0L else top.getLong(0)) / skewSampleFrac
      if (topEst > maxWindowKeyRows)
        return bigramSupportAggJoin(docs, idCol, textCol)
    }
    val w = Window.partitionBy("bgh")
    val perDoc = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol), explode(graft.functions.ShingleHash64(col(textCol), 2)).as("bgh"))
      .withColumn("n", count(lit(1)).over(w))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"), sum("n").as("tot"))
      .select(col(idCol), col("n_bigrams"),
        // integer div, not floor(double /): exact at any magnitude
        expr("tot div n_bigrams").as("support"))
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .withColumn("n_bigrams", coalesce(col("n_bigrams"), lit(0L)))
  }

  /** The skew-immune shape of [[bigramSupport]] — identical output, no
    * window: per-(doc, bigram) counts first (map-side partials collapse a
    * doc's repeats before any exchange), corpus frequency as a second
    * partial-aggregated groupBy (a hot bigram reaches the reducer as one
    * partial row PER MAP TASK, never as raw occurrences), then one
    * bgh-equi-join (probe side skew-splittable by AQE — build rows are
    * unique per key) and the per-doc fold using sum(c) / sum(c·n) in
    * place of the window's per-occurrence rows. Dispatched automatically
    * by [[bigramSupport]]'s pre-flight; callable directly when the skew
    * is known ahead of time.
    */
  def bigramSupportAggJoin(docs: DataFrame, idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame = {
    val perDocBg = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol), explode(graft.functions.ShingleHash64(col(textCol), 2)).as("bgh"))
      .groupBy(col(idCol), col("bgh"))
      .agg(count(lit(1)).as("c"))
    val freq = perDocBg.groupBy("bgh").agg(sum("c").as("n"))
    val perDoc = perDocBg
      .join(freq, Seq("bgh"))
      .groupBy(idCol)
      .agg(sum("c").as("n_bigrams"), sum(col("c") * col("n")).as("tot"))
      .select(col(idCol), col("n_bigrams"),
        expr("tot div n_bigrams").as("support"))
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .withColumn("n_bigrams", coalesce(col("n_bigrams"), lit(0L)))
  }

  /** Phrase mining: top-`k` word bigrams by the word2vec phrase score
    * (Mikolov et al. 2013, "Distributed Representations of Words and
    * Phrases...", §4: score(wa,wb) = (count(ab) − δ) / (count(a) ·
    * count(b)) — bigrams scoring high relative to their parts are
    * promoted to single tokens; δ discounts rare accidents). Kept
    * integer-exact as parts-per-million via SEQUENTIAL integer division
    * ((cab − δ)·10⁶ div ca div cb ≡ div (ca·cb) for positive ints — the
    * associativity identity keeps every intermediate ≤ cab·10⁶, so
    * nothing overflows Long even at 100 TB corpus counts where ca·cb
    * alone would), ties to the lexicographically smaller bigram. Note
    * the score ranks identically to PMI: pmi = log(cab·N²/(N_bi·ca·cb))
    * and the N terms are constant across bigrams.
    *
    * Scale shape: two explodes with map-side-combined counts (a hot
    * bigram reaches its reducer as one partial per map task), then two
    * string-keyed equi-joins against the unigram table — vocabulary-
    * sized, AQE-splittable — and a TakeOrdered top-k. No window, no
    * driver state, no corpus-sized structure. Raw bigram STRINGS stay
    * only because they ARE the output; the filtering twin
    * [[bigramSupport]] hashes before any exchange.
    */
  def pmiTopK(docs: DataFrame, k: Int, delta: Long = 1L,
              textCol: String = "text"): DataFrame = {
    require(k >= 1 && delta >= 0)
    val ws = split(trim(col(textCol)), "\\s+")
    val base = docs.filter(col(textCol).isNotNull).select(ws.as("ws"))
    val uni = base.select(explode(col("ws")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("c"))
    val bi = base
      .filter(size(col("ws")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("ws")) - 1),
        i => struct(element_at(col("ws"), i).as("wa"),
          element_at(col("ws"), i + 1).as("wb")))).as("bg"))
      .select(col("bg.wa"), col("bg.wb"))
      .groupBy("wa", "wb").agg(count(lit(1)).as("cab"))
    bi.filter(col("cab") > delta)
      .join(uni.select(col("w").as("wa"), col("c").as("ca")), Seq("wa"))
      .join(uni.select(col("w").as("wb"), col("c").as("cb")), Seq("wb"))
      .select(
        concat(col("wa"), lit(" "), col("wb")).as("bigram"),
        col("cab"), col("ca"), col("cb"),
        expr(s"((cab - $delta) * 1000000) div ca div cb").as("score_ppm"))
      .orderBy(col("score_ppm").desc, col("bigram"))
      .limit(k)
  }

  /** Concat-and-chunk sequence packing — the standard pretraining step:
    * documents are concatenated in deterministic `idCol` order into one
    * global token stream, which is then chunked into fixed `maxLen`
    * sequences; each doc gets its global start offset, so `seq_id =
    * start div maxLen` and `seq_offset = start mod maxLen` (docs may span
    * sequence boundaries, exactly like GPT-style packing). Null-text docs
    * count 0 tokens (they occupy a position but no space).
    *
    * Scale shape: the naive formulation is ONE global cumulative-sum
    * window (`SUM OVER (ORDER BY id)`) — a single-task sort at any real
    * corpus size. This runs the classic two-level cumsum instead:
    * range-partition by id, per-partition token totals (numPartitions
    * values) prefix-summed on the driver, then a partition-local running
    * sum seeded by the broadcast partition offset — every stage
    * distributed, driver state O(partitions). The (id, n) frame is
    * eagerly localCheckpoint'ed first: the totals pass and the packing
    * pass must observe the SAME range partitioning (repartitionByRange
    * samples per-job; two separate jobs over the lazy lineage could
    * disagree on bounds).
    *
    * The DuckDB oracle IS the naive global window — fine at oracle scale,
    * and exactly the semantics the distributed shape must reproduce.
    */
  def packSequences(docs: DataFrame, maxLen: Int, idCol: String = "doc_id",
                    textCol: String = "text", numPartitions: Int = 0,
                    /** token-count column producer — defaults to whitespace
                      * words; pass e.g. `TextAnalysis.bpeTokenCount(_)` so
                      * packing budgets are denominated in the SAME subword
                      * units the training run consumes (a maxLen in words
                      * overshoots real sequence lengths by the words-to-
                      * subwords ratio).
                      */
                    countOf: Column => Column = TextAnalysis.tokenCount): DataFrame = {
    require(maxLen >= 1, s"maxLen must be positive, got $maxLen")
    require(numPartitions >= 0,
      s"numPartitions must be >= 0 (0 = session default), got $numPartitions")
    OpChecks.requireIntegralId(docs, idCol)
    val spark = docs.sparkSession
    import spark.implicits._
    val nParts =
      if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    // r21: NOT spread — A/B read c_pack_bpe 0.49→0.69 s with a spread
    // here (c_pack_tokens/c_pack_unigram tied): the count-only trie walk
    // doesn't amortize the extra exchange ahead of the range partitioner
    val ranged = docs
      .select(col(idCol).cast("long").as("id"),
        coalesce(countOf(col(textCol)), lit(0L)).as("n"))
      .repartitionByRange(nParts, col("id"))
      .sortWithinPartitions("id")
      .localCheckpoint(true)
    val partTotals = ranged
      .groupBy(spark_partition_id().as("pid")).agg(sum("n").as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until nParts).scanLeft(0L)((acc, p) => acc + partTotals.getOrElse(p, 0L))
    val bc = spark.sparkContext.broadcast(offsets.toArray)
    ranged
      .as[(Long, Long)]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var cum = bc.value(pid)
        it.map { case (id, n) => val start = cum; cum += n; (id, n, start) }
      }
      .toDF(idCol, "n_tokens", "__start")
      .select(col(idCol), col("n_tokens"),
        expr(s"__start div $maxLen").as("seq_id"),
        (col("__start") % maxLen).as("seq_offset"))
  }

  /** Per-doc overlapping token-window chunking — the retrieval/embedding
    * counterpart of [[packSequences]]: packing concatenates docs into
    * budget-exact training sequences, chunking splits each doc into
    * windows a retriever embeds and indexes (the standard RAG ingest
    * shape: fixed window, fixed stride, trailing window allowed short).
    *
    * Chunk starts are 0, stride, 2·stride, … while start < n_tokens, so
    * every token is covered and consecutive chunks overlap by
    * (size − stride) tokens. Emits (doc_id, chunk_id, start_tok, n_toks,
    * chunk_hash) — the md5 of the space-joined window pins content
    * without materializing overlap-duplicated text into the result.
    *
    * Scale shape: map-only — one projection, one bounded per-doc explode
    * (⌈n/stride⌉ rows), everything inside whole-stage codegen; no
    * shuffle, no UDF. The chunker a 100 TB corpus runs before its
    * embedding pass.
    */
  def chunkDocs(docs: DataFrame, size: Int = 32, stride: Int = 24,
                idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(size >= 1, s"chunk size must be positive, got $size")
    require(stride >= 1 && stride <= size,
      s"stride must sit in [1, size]: stride=$stride size=$size")
    OpChecks.requireIntegralId(docs, idCol)
    docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as(idCol),
        split(trim(col(textCol)), "\\s+").as("__ws"))
      .select(col(idCol), col("__ws"),
        explode(sequence(lit(0L),
          floor((org.apache.spark.sql.functions.size(col("__ws")) - 1) / stride).cast("long")))
          .as("chunk_id"))
      .select(
        col(idCol),
        col("chunk_id"),
        (col("chunk_id") * stride).as("start_tok"),
        least(lit(size.toLong),
          org.apache.spark.sql.functions.size(col("__ws")).cast("long") - col("chunk_id") * stride)
          .as("n_toks"),
        md5(array_join(slice(col("__ws"), (col("chunk_id") * stride + 1).cast("int"), lit(size)), " "))
          .as("chunk_hash"))
  }

  /** Temperature-style mixture capping at α = 1/2: cap each source at
    * `c · ⌊√n_s⌋` docs — the sub-linear quota that up-weights tail
    * sources relative to head ones (the mT5/temperature-sampling skeleton:
    * p_s ∝ n_s^α with α < 1, realized as a deterministic per-source doc
    * quota instead of a sampling probability so re-runs keep the SAME
    * docs). Rows keep the same reproducible (md5(id), id) hash order as
    * [[capPerSource]]; `rn` is the doc's rank within its source.
    *
    * Cross-engine exactness: ⌊√n⌋ is deterministic in BOTH engines —
    * IEEE-754 sqrt is correctly rounded, so perfect squares land exactly
    * and floor never straddles a boundary for integer inputs below 2^52.
    * The caps frame is one tiny aggregate (one row per source) joined
    * null-safely (a NULL source is a real group, not a dropped row —
    * plain equi-join semantics would silently delete every null-source
    * doc). Skew posture: same single window per source as
    * [[capPerSource]]; `preReduce` stages a per-(input-partition, source)
    * pre-cap first so a dominant source never sorts on one task — correct
    * because each global top-cap row is within the cap-lowest of
    * whichever partition holds it (cap_s from the pre-computed counts is
    * a valid stage-1 cap too).
    */
  def capPerSourceSqrt(docs: DataFrame, c: Int, idCol: String = "doc_id",
                       srcCol: String = "source", preReduce: Boolean = false): DataFrame = {
    require(c >= 1, s"cap multiplier must be positive, got $c")
    val caps = docs.groupBy(srcCol).agg(count(lit(1)).as("__n"))
      .select(col(srcCol).as("__src"),
        (floor(sqrt(col("__n").cast("double"))).cast("long") * c).as("__cap"))
    val base = docs.select(col(idCol), col(srcCol))
      .join(broadcast(caps), col(srcCol) <=> col("__src"))
      .drop("__src")
    cappedBySource(base, col("__cap"), idCol, srcCol, preReduce).drop("__cap")
  }

  def capPerSource(docs: DataFrame, cap: Int, idCol: String = "doc_id",
                   srcCol: String = "source", preReduce: Boolean = false): DataFrame =
    cappedBySource(docs.select(col(idCol), col(srcCol)), lit(cap), idCol, srcCol, preReduce)

  /** The ONE per-source cap scaffold shared by [[capPerSource]] (literal
    * cap) and [[capPerSourceSqrt]] (per-source cap column): reproducible
    * (md5(id), id) order, optional per-(input-partition, source)
    * pre-reduction for dominant-source skew (stage 1's union is always a
    * superset of the global cap-lowest rows per source — each global
    * winner is among the cap-lowest of whichever partition holds it),
    * then the per-source window rank filtered to the cap.
    */
  private def cappedBySource(base: DataFrame, capCol: Column, idCol: String,
                             srcCol: String, preReduce: Boolean): DataFrame = {
    val order = Seq(md5(col(idCol).cast("string")), col(idCol))
    val survivors =
      if (!preReduce) base
      else {
        val pw = Window.partitionBy(spark_partition_id(), col(srcCol)).orderBy(order: _*)
        base
          .withColumn("__prn", row_number().over(pw))
          .filter(col("__prn") <= capCol)
          .drop("__prn")
      }
    val w = Window.partitionBy(srcCol).orderBy(order: _*)
    survivors
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= capCol)
  }

  // PII patterns: shared Java-regex/RE2 subset (character classes and
  // bounded repeats only — no lookaround, no \d shorthand), so the Spark
  // and DuckDB engines compile identical automata.
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val NumberRe = "[0-9]+"
  val Ipv4Re = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  private[graft] def hits(c: Column, re: String): Column =
    size(regexp_extract_all(c, lit(re), lit(0))).cast("long")

  /** PII scan over a string column: per-group match counts for email /
    * number-run / IPv4 patterns plus the redaction size (chars removed by
    * collapsing each number run to one `#`). Pure codegen'd row
    * expressions into a map-side-combined aggregation — the shape a
    * full-corpus PII audit needs.
    */
  def piiScan(df: DataFrame, strCol: String, groupCol: String): DataFrame = {
    val s = coalesce(col(strCol), lit(""))
    df.select(
        col(groupCol),
        hits(s, NumberRe).as("__num"),
        hits(s, EmailRe).as("__email"),
        hits(s, Ipv4Re).as("__ip"),
        (length(s) - length(regexp_replace(s, NumberRe, "#"))).cast("long").as("__red"),
      )
      .groupBy(groupCol)
      .agg(
        count(lit(1)).as("n_rows"),
        sum("__num").as("n_number_hits"),
        sum(when(col("__num") > 0, 1L).otherwise(0L)).as("n_with_number"),
        sum("__email").as("n_email_hits"),
        sum("__ip").as("n_ip_hits"),
        sum("__red").as("n_chars_redacted"),
      )
  }

  /** Deterministic PII-bearing fixture column. The synthetic corpora carry
    * no emails or IPv4s in any string column, so [[piiScan]]'s email/IP
    * arms would be vacuously green forever (a Spark-vs-DuckDB regex
    * divergence in those families would be invisible). This derives a
    * `pii_text` column from `doc_id` — a text prefix plus an email on every
    * 3rd doc, an IPv4 on every 5th, and a trailing number run on all —
    * using only expressions both engines evaluate identically, so the
    * scan/redaction queries over it are fully oracled with every pattern
    * family non-zero.
    */
  def withSyntheticPii(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    val id = col(idCol)
    docs.withColumn("pii_text", concat(
      substring(coalesce(col(textCol), lit("")), 1, 40),
      when(id % 3 === 0,
        concat(lit(" mail user"), id.cast("string"), lit("@ex"),
          (id % 7).cast("string"), lit(".org"))).otherwise(lit("")),
      when(id % 5 === 0,
        concat(lit(" from 10."), (id % 256).cast("string"), lit(".0."),
          (id % 100).cast("string"))).otherwise(lit("")),
      lit(" ref "), id.cast("string"),
    ))
  }

  /** The redaction transform itself (not just counts): emails → `<EMAIL>`,
    * IPv4s → `<IP>`, remaining number runs → `#`, applied in that order so
    * digits inside an already-redacted email/IP are not re-matched. Pure
    * codegen'd per-row expressions — the map-only shape a full-corpus
    * redaction pass needs (no shuffle at all).
    */
  def piiRedact(df: DataFrame, strCol: String, idCol: String): DataFrame = {
    val s = coalesce(col(strCol), lit(""))
    df.select(
      col(idCol),
      regexp_replace(regexp_replace(regexp_replace(s,
        EmailRe, "<EMAIL>"), Ipv4Re, "<IP>"), NumberRe, "#").as("red_text"))
  }

  /** Deterministic weighted source sampling — dataset MIXING, the knob
    * every LLM-data pipeline turns (up-/down-weight web vs books vs code
    * before training). Keep a doc iff its hash bucket falls below its
    * source's percentage; unlisted sources get `defaultPct`. Stateless
    * map-only filter: no RNG state to ship, no shuffle, reproducible
    * across engines/runs/repartitioning (same md5-bucket technique as
    * [[TextAnalysis.splitBucket]]), so re-running the pipeline yields the
    * SAME mixture — resumable ingestion depends on that. The bucket key is
    * salted with the source (`md5(source:id)`), which decorrelates the
    * sampling decision from the id-keyed train/val/test split: an id-only
    * bucket would make "sampled" and "train" the same coin flip.
    */
  def sampleBySourceWeights(docs: DataFrame, weightsPct: Map[String, Int],
                            defaultPct: Int = 100, idCol: String = "doc_id",
                            srcCol: String = "source"): DataFrame = {
    require((weightsPct.values.toSeq :+ defaultPct).forall(p => p >= 0 && p <= 100),
      "weights are integer percentages in [0, 100]")
    // NULL-tolerant key: md5(NULL) is NULL and `NULL < pct` filters the row
    // OUT, so without the coalesces every missing-source/missing-id row
    // would silently vanish from the mixture regardless of defaultPct.
    // Null sources take defaultPct (same as the when-cascade below); null
    // ids share one bucket per source — deterministic, if coarse.
    // The source is LENGTH-PREFIXED to make the key unambiguous: plain
    // `source:id` collides (source 'a:1', id 'x') with (source 'a', id
    // '1:x') when a source name contains ':', correlating those rows'
    // sampling coins.
    val srcSafe = coalesce(col(srcCol), lit(""))
    val bucket = conv(substring(
      md5(concat(length(srcSafe).cast("string"), lit(":"), srcSafe, lit(":"),
        coalesce(col(idCol).cast("string"), lit("")))), 1, 4), 16, 10)
      .cast("long") % 100
    val pct = weightsPct.toSeq.sortBy(_._1).foldLeft(lit(defaultPct): Column) {
      case (acc, (src, p)) => when(col(srcCol) === src, lit(p)).otherwise(acc)
    }
    docs.filter(bucket < pct)
  }

  /** First `n` docs of a reproducible global shuffle (hash order — the
    * standard way to draw a held-out sample or a training curriculum
    * prefix without RNG state). orderBy+limit compiles to TakeOrdered:
    * each partition keeps a local top-n heap and only n rows per
    * partition reach the driver-side merge — no global sort at any scale.
    * The rank window runs on the already-limited n rows.
    */
  def shuffleSample(docs: DataFrame, n: Int, idCol: String = "doc_id"): DataFrame = {
    val top = docs
      .select(col(idCol), md5(col(idCol).cast("string")).as("__shuf"))
      .orderBy(col("__shuf"), col(idCol))
      .limit(n)
    top
      .withColumn("rk", row_number().over(Window.orderBy(col("__shuf"), col(idCol))))
      .select(col("rk").cast("long").as("rk"), col(idCol))
  }

  /** Bigram-LM likelihood scoring — the integer-exact skeleton of
    * CCNet-style perplexity filtering (Wenzek et al. 2020: score every doc
    * by a reference LM trained on held-out data, drop the tails). The "LM"
    * is the bigram frequency table of the deterministic 10% train bucket
    * (`md5(id) % 100 >= trainBucketMin`, the same hash-bucket family as
    * [[TextAnalysis.splitName]]); each doc scores
    *
    *   - `n_bigrams`  — its total bigram occurrences,
    *   - `n_oov`      — occurrences of bigrams the LM never saw
    *                    (out-of-vocabulary mass, the strongest
    *                    noise/wrong-language signal),
    *   - `ll_score`   — Σ c·(1 + floor(log₂ n)) over seen bigrams, the
    *                    integer log-likelihood surrogate: monotone in the
    *                    true Σ c·log n, exact in 64-bit arithmetic, so the
    *                    score cross-engine hash-matches where a float
    *                    Σ c·ln(n) would differ in last-ulp libm digits
    *                    (floor(log₂ n)+1 is just the bit length of n —
    *                    `length(bin(n))` in both engines).
    *
    * Downstream, filtering is a plain predicate on the per-doc ratios
    * (high `n_oov/n_bigrams` → drop; extreme `ll_score/n_bigrams` tails →
    * head/tail buckets) — kept out of this operator so the thresholds stay
    * a caller decision, not a baked constant.
    *
    * Scale shape: both passes reduce text to 64-bit
    * [[graft.functions.ShingleHash64]] keys before any exchange (8-byte
    * shuffle rows). The LM pass filters to the train bucket BEFORE the
    * explode, so it scans ~(100−trainBucketMin)% of the corpus; both
    * aggregations are map-side partial; the one bgh-equi-join is
    * AQE-skew-splittable (LM rows are unique per key, so only the probe
    * side can skew, which AQE splits). Train docs score themselves like
    * any other doc — self-inclusion is the standard CCNet setup (the LM is
    * a frequency prior, not a held-out eval). Null-text docs score
    * (0, 0, 0). The DuckDB oracle joins on raw bigram strings, guarding
    * the hashes against collisions.
    */
  def lmScore(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text", trainBucketMin: Int = 90): DataFrame =
    lmScoreAgainst(docs, lmTable(docs, idCol, textCol, trainBucketMin),
      idCol, textCol)

  /** The reference LM of [[lmScore]] as a standalone (bgh, n) frame:
    * bigram occurrence counts over the deterministic `>= trainBucketMin`
    * id bucket. Built separately so the STREAMING face
    * ([[graft.streaming.DocStream.lmScoreByWindow]]) can score an
    * unbounded stream against the same static LM via a stream-static
    * join — the LM is unbounded-vocabulary (billions of distinct bigrams
    * at corpus scale), so it rides the join's build side, never a
    * driver/broadcast structure.
    */
  def lmTable(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text", trainBucketMin: Int = 90): DataFrame = {
    require(trainBucketMin >= 0 && trainBucketMin <= 100,
      s"trainBucketMin is a percentage in [0, 100], got $trainBucketMin")
    // the ONE split-bucket family (shared with train/val/test routing) —
    // the LM train bucket must stay coupled to the corpus split it claims
    val bkt = TextAnalysis.splitBucket(col(idCol))
    // r21: NOT spread — tried, c_lm_score regressed 0.80→0.92 s (the
    // xxhash bigram explode is cheap; the exchange didn't pay for itself)
    docs.filter(col(textCol).isNotNull)
      .filter(bkt >= trainBucketMin)
      .select(explode(graft.functions.ShingleHash64(col(textCol), 2)).as("bgh"))
      .groupBy("bgh").agg(count(lit(1)).as("n"))
  }

  /** Score `docs` against an explicit [[lmTable]]-shaped (bgh, n) LM —
    * the batch fold of [[lmScore]], reusable with an LM built from a
    * DIFFERENT corpus (the production shape: freeze the LM once, score
    * every incoming shard against it).
    */
  def lmScoreAgainst(docs: DataFrame, lm: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    val perDocBg = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(graft.functions.ShingleHash64(col(textCol), 2)).as("bgh"))
      .groupBy(col(idCol), col("bgh")).agg(count(lit(1)).as("c"))
    val scored = perDocBg
      .join(lm, Seq("bgh"), "left")
      .groupBy(idCol)
      .agg(
        sum("c").as("n_bigrams"),
        sum(when(col("n").isNull, col("c")).otherwise(0L)).as("n_oov"),
        sum(when(col("n").isNull, 0L)
          .otherwise(col("c") * length(bin(col("n"))))).as("ll_score"))
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        coalesce(col("ll_score"), lit(0L)).as("ll_score"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): per source,
    * label each doc head / middle / tail by which tercile its
    * length-normalized LM likelihood falls in — the standard corpus
    * partitioning that trains on "head" (lowest-perplexity) web text.
    * Integer-exact skeleton: the per-doc score is the fixed-point mean
    * `ll_score · scale div max(n_bigrams, 1)` of [[lmScore]]'s integer
    * log₂ surrogate (normalization matters — unnormalized sums rank long
    * docs first), and the tercile thresholds are discrete quantiles read
    * off the (source, mscore) HISTOGRAM with the cum·3 ≥ n(·2) integer
    * test — the [[TextAnalysis.lengthQuantiles]] shape, never a
    * per-source sort; the histogram is bounded by the integer score
    * domain, not the corpus. Thresholds join back null-safely (a NULL
    * source is a real group) and broadcast (sources-bounded).
    */
  def pplBuckets(docs: DataFrame, scale: Long = 1000L, idCol: String = "doc_id",
                 textCol: String = "text", srcCol: String = "source"): DataFrame = {
    require(scale >= 1, s"scale must be positive, got $scale")
    val scored = lmScore(docs, idCol, textCol)
    // r21: `base` feeds BOTH the per-source histogram (→ thresholds) and
    // the final labeling join, and without a pin the whole lmScore
    // pipeline (LM build + per-doc scoring — 4 corpus scans) executed
    // twice. The frame is doc-scale × 3 narrow columns, so the eager
    // checkpoint is cheap at any scale next to re-running the LM
    // (guide §2.4; plans/r21/c_ppl_buckets_{before,after}.txt: 16 scans →
    // 5, 16 exchanges → 8).
    val base = docs.select(col(idCol), col(srcCol))
      .join(scored, Seq(idCol))
      .withColumn("mscore", expr(s"ll_score * $scale div greatest(n_bigrams, 1)"))
      .select(col(idCol), col(srcCol), col("mscore"))
      .localCheckpoint(true)
    val hist = base.groupBy(srcCol, "mscore").agg(count(lit(1)).as("c"))
    val wOrd = org.apache.spark.sql.expressions.Window.partitionBy(srcCol).orderBy("mscore")
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(srcCol)
    val cum = hist
      .withColumn("cum", sum("c").over(wOrd))
      .withColumn("nn", sum("c").over(wAll))
    val th = cum.groupBy(srcCol)
      .agg(
        min(when(col("cum") * 3 >= col("nn"), col("mscore"))).as("t33"),
        min(when(col("cum") * 3 >= col("nn") * 2, col("mscore"))).as("t66"))
      .withColumnRenamed(srcCol, "__src")
    base.join(broadcast(th), col(srcCol) <=> col("__src"), "left")
      .select(col(idCol), col(srcCol), col("mscore"),
        when(col("mscore") <= col("t33"), "tail")
          .when(col("mscore") <= col("t66"), "middle")
          .otherwise("head").as("ppl_bucket"))
  }

  /** fastText-style frozen linear quality scorer (Joulin et al. 2016,
    * "Bag of Tricks for Efficient Text Classification", with the hashing
    * trick of Weinberger et al. 2009): features are word unigrams +
    * bigrams hashed into `d` buckets via the cross-engine md5-60 family;
    * the score is the integer sum of per-bucket weights — the shape of
    * the CCNet/GPT-3-lineage quality filters (a linear model over hashed
    * n-grams deciding keep/drop).
    *
    * Weights here are a deterministic pseudo-random ±500 integer per
    * bucket (`(bucket · 2654435761) mod 1001 − 500`, Knuth's
    * multiplicative constant) so the WHOLE mechanism — tokenization,
    * gram construction, hashing, weight lookup, summation — is
    * oracle-able with no weight table to ship; a production caller
    * substitutes trained weights via `weightOf` (any serializable
    * bucket→weight function, e.g. an array lookup over broadcast trained
    * weights). Execution is one map-only typed pass per document with a
    * reused MessageDigest (the cdcChunkStats kernel discipline) — the
    * first cut folded grams through SQL higher-order lambdas, which are
    * interpreted per element and measured 20 s at sf0.1 vs ~1 s here.
    * Map-only and stateless, so the same call scores an unbounded
    * STREAM (no watermark needed).
    */
  def linearScore(docs: DataFrame, d: Int = 4096,
                  idCol: String = "doc_id", textCol: String = "text",
                  weightOf: Long => Long = Curation.defaultWeight): DataFrame = {
    require(d >= 2, s"bucket count must be >= 2, got $d")
    // fail fast on a non-integral id, matching the sibling typed faces
    // (packSequences, shardAssign): a null/non-numeric id would otherwise
    // cast to null long and NPE opaquely inside the typed .map below
    OpChecks.requireIntegralId(docs, idCol)
    val spark = docs.sparkSession
    import spark.implicits._
    val dd = d
    val wf = weightOf
    // r21: spread before the per-row md5 gram kernel (graft.Spread —
    // no-op on streams and at lake scale)
    graft.Spread(docs.filter(col(textCol).isNotNull))
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .map { case (id, t) =>
        val (n, score) = Curation.linearScoreJvm(t, dd, wf)
        (id, n, score)
      }
      .toDF(idCol, "n_grams", "score")
  }

  /** The deterministic fixture weights: ±500 integer per bucket. */
  private[graft] def defaultWeight(bucket: Long): Long =
    (bucket * 2654435761L) % 1001L - 500L

  /** The production loading path for TRAINED weights — proves
    * [[linearScore]]'s `weightOf` hook end-to-end: a (bucket, weight)
    * table (typically parquet written by the offline trainer) is
    * collected into a dense d-entry array (a few MB at any practical
    * bucket count — the model IS small; that's the point of the hashing
    * trick) and broadcast once; executors look weights up by index.
    * Buckets absent from the table weigh 0 (an untrained bucket is
    * evidence of nothing); duplicate buckets fail fast (two weights for
    * one bucket means the trainer emitted garbage — last-write-wins
    * would silently score with half the model).
    */
  def linearScoreTable(docs: DataFrame, weights: DataFrame, d: Int = 4096,
                       idCol: String = "doc_id", textCol: String = "text",
                       bucketCol: String = "bucket", weightCol: String = "weight"): DataFrame = {
    require(d >= 2, s"bucket count must be >= 2, got $d")
    val arr = new Array[Long](d)
    val seen = new java.util.BitSet(d)
    weights.select(col(bucketCol).cast("long"), col(weightCol).cast("long"))
      .collect().foreach { r =>
        val b = r.getLong(0)
        require(b >= 0 && b < d, s"weight bucket $b outside [0, $d)")
        require(!seen.get(b.toInt), s"duplicate weight row for bucket $b")
        seen.set(b.toInt)
        arr(b.toInt) = r.getLong(1)
      }
    val bc = docs.sparkSession.sparkContext.broadcast(arr)
    linearScore(docs, d, idCol, textCol, weightOf = b => bc.value(b.toInt))
  }

  /** [[linearScore]]'s score as a COLUMN (per-row JVM kernel behind a
    * UDF) — for call sites that must keep the full row, most importantly
    * the stateless streaming gate ([[graft.streaming.DocStream.qualityLinearFilter]]).
    * Same kernel, same weights, spec-pinned equal to the typed face. A
    * UDF is the right tool here, not codegen avoidance debt: the scoring
    * is an inherently per-row MessageDigest loop either way, and the
    * column form composes with filter() without dropping columns.
    */
  def linearScoreCol(c: Column, d: Int = 4096,
                     weightOf: Long => Long = Curation.defaultWeight): Column = {
    // same fail-fast contract as the typed face: d = 0 would divide by
    // zero per row INSIDE a running micro-batch, d < 0 would shift every
    // weight negative and silently drop a whole gated stream
    require(d >= 2, s"bucket count must be >= 2, got $d")
    val dd = d
    val wf = weightOf
    udf { (t: String) =>
      if (t == null) null.asInstanceOf[java.lang.Long]
      else java.lang.Long.valueOf(Curation.linearScoreJvm(t, dd, wf)._2)
    }.apply(c)
  }

  /** Token-budget subsampling: keep the reproducible-hash-order prefix of
    * the corpus whose cumulative token count fits `budget` — "give me
    * exactly ~B tokens of this corpus" (epoch sizing, ablation slices,
    * scaling-law points), deterministic across runs and partitionings
    * with no RNG state, like every sampling face here (the (md5(id), id)
    * order [[shuffleSample]] and [[capPerSource]] rank by).
    *
    * Scale shape: [[packSequences]]' two-level cumsum on the hash key —
    * range-repartition by (h, id), per-partition totals to the driver
    * (one long per partition), broadcast prefix offsets, one local
    * cumsum pass. No global sort, no window over the corpus. Docs whose
    * INCLUSIVE cumulative count fits the budget are kept, so the result
    * never overshoots; zero-token docs inside the prefix ride along.
    */
  def tokenBudgetSample(docs: DataFrame, budget: Long, idCol: String = "doc_id",
                        textCol: String = "text", numPartitions: Int = 0,
                        countOf: Column => Column = TextAnalysis.tokenCount): DataFrame = {
    require(budget >= 0, s"budget must be non-negative, got $budget")
    require(numPartitions >= 0,
      s"numPartitions must be >= 0 (0 = session default), got $numPartitions")
    OpChecks.requireIntegralId(docs, idCol)
    val spark = docs.sparkSession
    import spark.implicits._
    val nParts =
      if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val ranged = docs
      .select(col(idCol).cast("long").as("id"),
        coalesce(countOf(col(textCol)), lit(0L)).as("n"),
        md5(col(idCol).cast("string")).as("h"))
      .repartitionByRange(nParts, col("h"), col("id"))
      .sortWithinPartitions("h", "id")
      .localCheckpoint(true)
    val partTotals = ranged
      .groupBy(spark_partition_id().as("pid")).agg(sum("n").as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until nParts).scanLeft(0L)((acc, p) => acc + partTotals.getOrElse(p, 0L))
    val bc = spark.sparkContext.broadcast(offsets.toArray)
    ranged
      .as[(Long, Long, String)]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var cum = bc.value(pid)
        it.map { case (id, n, _) => cum += n; (id, n, cum) }
      }
      .toDF(idCol, "n_tokens", "cum_tokens")
      .filter(col("cum_tokens") <= budget)
  }

  /** Snapshot diff between two corpus versions — the release-engineering
    * face of corpus versioning: which docs were added, removed, changed
    * (same id, different content fingerprint) or carried unchanged
    * between build v1 and build v2. Content identity is md5 over the
    * null-coalesced text, so a text→NULL flip reads as a change to the
    * empty fingerprint, not a silent equality.
    *
    * Scale shape: both sides project to (id, 16-byte fingerprint) before
    * the single id-keyed full-outer join — at 100 TB the join carries
    * hashes, never text, and co-partitions on the id like every other
    * id-keyed face here.
    */
  def corpusDiff(v1: DataFrame, v2: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    OpChecks.requireIntegralId(v1, idCol)
    OpChecks.requireIntegralId(v2, idCol)
    val a = v1.select(col(idCol), md5(coalesce(col(textCol), lit(""))).as("__h1"))
    val b = v2.select(col(idCol), md5(coalesce(col(textCol), lit(""))).as("__h2"))
    a.join(b, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__h1").isNull, "added")
          .when(col("__h2").isNull, "removed")
          .when(col("__h1") === col("__h2"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** EXACT stratified train/valid/test split: within every stratum
    * (source, by default) docs are ranked by the reproducible
    * (md5(id), id) hash order and the first `testPm`/`validPm` per-mille
    * COUNTS go to test/valid — so every source contributes exactly
    * ⌊n·pm/1000⌋ eval docs, however skewed the source mix. This is the
    * exact-proportion counterpart of [[TextAnalysis.splitName]]'s
    * hash-BUCKET split (proportions only in expectation, but O(1)
    * stateless per row): bucket splits serve streaming ingest, this face
    * serves release-time holdout creation where "the eval set is exactly
    * 10% of every source" is the contract.
    *
    * Scale shape: [[shardAssign]]'s two-level rank keyed per stratum —
    * range-repartition by (stratum, hash, id), per-(partition, stratum)
    * counts to the driver (bounded by partitions × strata — strata are
    * sources, a release-metadata-sized set, NOT a per-doc key), broadcast
    * prefix offsets, one local pass. No per-source corpus sort: a hot
    * source spans many range partitions instead of pinning one task.
    * NULL strata coalesce to "" so they form one ranked group.
    */
  /** Per-(partition, stratum) prefix offsets and per-stratum totals of an
    * already range-partitioned, stratum-sorted frame — the ONE two-level
    * scaffold shared by [[stratifiedSplit]] (weight 1 → rank) and
    * [[sourceBudgetSample]] (weight = tokens → cumsum), factored so an
    * edge fix lands once. Driver traffic is partitions × strata rows.
    */
  private def strataPrefixOffsets(ranged: DataFrame, stCol: String, weight: Column)
      : (Map[(Int, String), Long], Map[String, Long]) = {
    val rows = ranged
      .groupBy(spark_partition_id().as("pid"), col(stCol))
      .agg(sum(weight).as("w"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    val starts = rows
      .groupBy(_._2)
      .iterator
      .flatMap { case (st, rs) =>
        val byPid = rs.sortBy(_._1)
        val offs = byPid.scanLeft(0L)(_ + _._3)
        byPid.iterator.map(_._1).zip(offs.iterator).map { case (pid, off) => (pid, st) -> off }
      }
      .toMap
    val totals = rows.groupBy(_._2).map { case (st, rs) => st -> rs.map(_._3).sum }
    (starts, totals)
  }

  def stratifiedSplit(docs: DataFrame, testPm: Int = 100, validPm: Int = 100,
                      strataCol: String = "source", idCol: String = "doc_id",
                      numPartitions: Int = 0): DataFrame = {
    require(testPm >= 0 && validPm >= 0 && testPm + validPm <= 1000,
      s"per-mille fractions must satisfy 0 <= testPm + validPm <= 1000, got $testPm + $validPm")
    require(numPartitions >= 0,
      s"numPartitions must be >= 0 (0 = session default), got $numPartitions")
    OpChecks.requireIntegralId(docs, idCol)
    val spark = docs.sparkSession
    import spark.implicits._
    val nParts =
      if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val ranged = docs
      .select(col(idCol).cast("long").as("id"),
        coalesce(col(strataCol).cast("string"), lit("")).as("st"),
        md5(col(idCol).cast("string")).as("rk"))
      .repartitionByRange(nParts, col("st"), col("rk"), col("id"))
      .sortWithinPartitions("st", "rk", "id")
      .localCheckpoint(true)
    val (starts, totals) = strataPrefixOffsets(ranged, "st", lit(1L))
    val (tpm, vpm) = (testPm.toLong, validPm.toLong)
    val bcS = spark.sparkContext.broadcast(starts)
    val bcT = spark.sparkContext.broadcast(totals)
    ranged
      .as[(Long, String, String)]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var cur: String = null
        var cum = 0L
        var testN = 0L
        var validN = 0L
        it.map { case (id, st, _) =>
          if (st != cur) {
            cur = st
            cum = bcS.value((pid, st))
            val n = bcT.value(st)
            testN = n * tpm / 1000
            validN = n * vpm / 1000
          }
          val r = cum
          cum += 1L
          val split =
            if (r < testN) "test" else if (r < testN + validN) "valid" else "train"
          (id, st, r, split)
        }
      }
      .toDF(idCol, strataCol, "rnk", "split")
  }

  /** Vocabulary drift between two corpus snapshots: the top-k terms whose
    * counts moved most between build v1 and build v2 (|delta| DESC, term
    * ASC tie-break — fully ordered, so the cut is deterministic). The
    * release-review twin of [[corpusDiff]]: that face answers "which DOCS
    * changed", this one answers "what did the change do to the token
    * distribution" — the drift report a tokenizer/mixture owner reads
    * before re-training on a new crawl. Integer-exact (raw counts and
    * their difference; a float KL term cannot cross a hash oracle — the
    * tfidfTopK precedent).
    *
    * Scale shape: two token-keyed aggregations with map-side combine
    * (the shuffle carries one row per distinct term per map task), one
    * vocab-sized full-outer merge, and a global top-k that Spark executes
    * as TakeOrderedAndProject — per-partition heaps of k rows, never a
    * full sort of the vocabulary.
    */
  def vocabDrift(v1: DataFrame, v2: DataFrame, k: Int = 30,
                 textCol: String = "text"): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    def termCounts(df: DataFrame, out: String): DataFrame = df
      .filter(col(textCol).isNotNull)
      .select(explode(split(trim(col(textCol)), "\\s+")).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as(out))
    termCounts(v1, "n_v1")
      .join(termCounts(v2, "n_v2"), Seq("term"), "full_outer")
      .select(col("term"),
        coalesce(col("n_v1"), lit(0L)).as("n_v1"),
        coalesce(col("n_v2"), lit(0L)).as("n_v2"))
      .withColumn("delta", col("n_v2") - col("n_v1"))
      .filter(col("delta") =!= 0)
      .orderBy(abs(col("delta")).desc, col("term"))
      .limit(k)
  }

  /** Temperature-balanced sampling quotas per language at α = 1/2
    * (XLM-R-style p^α smoothing, Conneau et al. 2020): a language's
    * sampling quota is proportional to the SQUARE ROOT of its token
    * count, flattening the head without drowning the tail, and a token
    * `budget` is divided across languages by the largest-remainder
    * method so the allocations are integers that sum to exactly the
    * budget. α = 1/2 is the one temperature whose quota is integer-exact
    * end to end: quota = isqrt(n_tokens), computed as floor(sqrt) with a
    * ±1 correction step (a double sqrt of a long is within 1 ulp, so the
    * candidate is off by at most one — both engines apply the same
    * correction, making the oracle exact). An allocation may exceed a
    * language's own token count — that is temperature sampling's
    * oversampling arm (multiple epochs over a low-resource language).
    *
    * Scale shape: ONE corpus aggregation with map-side combine collapses
    * to a languages-sized frame; the quota/remainder windows run on that
    * frame (hundreds of rows at web scale), never on the corpus.
    */
  def langBalance(docs: DataFrame, budget: Long, langCol: String = "lang",
                  textCol: String = "text",
                  countOf: Column => Column = TextAnalysis.tokenCount): DataFrame = {
    require(budget >= 0, s"budget must be non-negative, got $budget")
    val perLang = docs
      .groupBy(coalesce(col(langCol).cast("string"), lit("")).as("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(countOf(col(textCol)), lit(0L))).as("n_tokens"))
    val q0 = floor(sqrt(col("n_tokens").cast("double"))).cast("long")
    val isqrt = when(q0 * q0 > col("n_tokens"), q0 - 1)
      .when((q0 + 1) * (q0 + 1) <= col("n_tokens"), q0 + 1)
      .otherwise(q0)
    val all = Window.partitionBy()
    val byRem = Window.orderBy(col("__rem").desc, col("lang"))
    perLang
      .withColumn("quota", isqrt)
      .withColumn("__totq", sum(col("quota")).over(all))
      // integer division/modulo on longs (the SQL `div` operator — a
      // double `/` would round at web-scale magnitudes), with the
      // largest-remainder product REORDERED to divide before
      // multiplying: a naive quota·budget wraps past Long.MaxValue at
      // exactly the web-scale magnitudes this face targets (quota ~3e6
      // at 1e13 tokens × a 1e13-token budget ≈ 3e19). The identity
      //   ⌊B·q/T⌋ = (B div T)·q + ⌊(B mod T)·q / T⌋
      //   (B·q) mod T = ((B mod T)·q) mod T
      // keeps every intermediate ≤ T·q_max — safe while
      // totq · max(quota) < 2^63, i.e. far past any physical corpus
      // (the isqrt correction's (q0+1)² term similarly requires
      // n_tokens < 2^62 ≈ 18 exabytes of text per language).
      .withColumn("__flr",
        when(col("__totq") === 0, 0L)
          .otherwise(expr(
            s"(${budget}L div __totq) * quota + ((${budget}L % __totq) * quota) div __totq")))
      .withColumn("__rem",
        when(col("__totq") === 0, 0L)
          .otherwise((lit(budget) % col("__totq")) * col("quota") % col("__totq")))
      .withColumn("__k", lit(budget) - sum(col("__flr")).over(all))
      .withColumn("__rnk", row_number().over(byRem))
      .withColumn("alloc",
        when(col("__totq") === 0, 0L)
          .otherwise(col("__flr") + when(col("__rnk") <= col("__k"), 1L).otherwise(0L)))
      .select("lang", "n_docs", "n_tokens", "quota", "alloc")
  }

  /** Per-source EPOCHS under [[langBalance]]'s allocation — the training
    * mixture table every LLM release publishes (LLaMA, Touvron et al.
    * 2023, table 1: each source with its sampling proportion and epoch
    * count): when a language's temperature-upsampled allocation exceeds
    * its corpus, the data REPEATS — full_epochs whole passes plus a
    * rem_tokens partial pass, epochs_milli the milli-exact rate
    * (epochs_milli > 1000 ⟺ upsampled/repeating, < 1000 ⟺ subsampled).
    * Integer-exact with the divide-before-multiply identity (the
    * langBalance overflow discipline) so alloc·1000 can never wrap at
    * web-scale token counts. One languages-sized frame; no new scan
    * beyond langBalance's own aggregation.
    */
  def sourceEpochs(docs: DataFrame, budget: Long, langCol: String = "lang",
                   textCol: String = "text",
                   countOf: Column => Column = TextAnalysis.tokenCount): DataFrame =
    langBalance(docs, budget, langCol, textCol, countOf)
      .select(col("lang"), col("n_tokens"), col("alloc"),
        when(col("n_tokens") === 0, 0L)
          .otherwise(expr("alloc div n_tokens")).as("full_epochs"),
        when(col("n_tokens") === 0, 0L)
          .otherwise(col("alloc") % col("n_tokens")).as("rem_tokens"),
        when(col("n_tokens") === 0, 0L)
          .otherwise(expr(
            "(alloc div n_tokens) * 1000 + ((alloc % n_tokens) * 1000) div n_tokens"))
          .as("epochs_milli"))

  /** Token-denominated per-source budget sampling — the MATERIALIZATION
    * of [[langBalance]]'s quotas: within every source (language), keep
    * the reproducible-hash-order prefix whose INCLUSIVE cumulative token
    * count fits that source's quota ([[tokenBudgetSample]]'s
    * never-overshoot rule, applied per stratum). langBalance answers
    * "how many tokens from each language"; this face emits exactly that
    * corpus. A doc from a source with no quota entry is dropped
    * (quota 0).
    *
    * Scale shape: [[stratifiedSplit]]'s two-level machinery with token
    * SUMS instead of row counts — range-repartition by (source, hash,
    * id), per-(partition, source) token totals to the driver (bounded by
    * partitions × sources), broadcast prefix offsets, one local cumsum
    * pass. Quotas ride the closure as a sources-bounded map.
    */
  def sourceBudgetSample(docs: DataFrame, quotas: Map[String, Long],
                         idCol: String = "doc_id", srcCol: String = "source",
                         textCol: String = "text", numPartitions: Int = 0,
                         countOf: Column => Column = TextAnalysis.tokenCount): DataFrame = {
    require(quotas.values.forall(_ >= 0), "quotas must be non-negative")
    require(numPartitions >= 0,
      s"numPartitions must be >= 0 (0 = session default), got $numPartitions")
    OpChecks.requireIntegralId(docs, idCol)
    val spark = docs.sparkSession
    import spark.implicits._
    val nParts =
      if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val ranged = docs
      .select(col(idCol).cast("long").as("id"),
        coalesce(col(srcCol).cast("string"), lit("")).as("st"),
        coalesce(countOf(col(textCol)), lit(0L)).as("n"),
        md5(col(idCol).cast("string")).as("rk"))
      .repartitionByRange(nParts, col("st"), col("rk"), col("id"))
      .sortWithinPartitions("st", "rk", "id")
      .localCheckpoint(true)
    val (starts, _) = strataPrefixOffsets(ranged, "st", col("n"))
    val q = quotas
    val bcS = spark.sparkContext.broadcast(starts)
    ranged
      .as[(Long, String, Long, String)]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var cur: String = null
        var cum = 0L
        var quota = 0L
        it.flatMap { case (id, st, n, _) =>
          if (st != cur) {
            cur = st
            cum = bcS.value((pid, st))
            quota = q.getOrElse(st, 0L)
          }
          cum += n
          if (cum <= quota) Iterator.single((id, st, n, cum)) else Iterator.empty
        }
      }
      .toDF(idCol, srcCol, "n_tokens", "cum_tokens")
  }

  /** Per-benchmark contamination report — the multi-eval-set face of
    * [[decontaminate]] (the GPT-3 appendix-C table shape): given a
    * labeling of held-out docs into named benchmarks, report per
    * benchmark how many TRAIN docs share at least one `k`-shingle with
    * it and how many distinct shingles overlap. `benchOf` maps a doc-id
    * column to a benchmark-name column (null = not a benchmark doc).
    * Every benchmark row is always present (zero-filled via the seed
    * aggregation), so a clean benchmark reads as zeros, not absence.
    *
    * Scale shape: the decontaminate discipline — both sides reduce to
    * (label, 64-bit ShingleHash64) distinct frames before the one
    * hash-keyed join; the per-benchmark aggregation carries counts
    * only. The oracle joins raw shingle strings (hash-collision guard).
    */
  def deconReport(docs: DataFrame, benchOf: Column => Column, k: Int = 5,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 1, s"shingle size must be positive, got $k")
    val labeled = docs.withColumn("__bench", benchOf(col(idCol)))
    val bench = labeled.filter(col("__bench").isNotNull)
    val train = labeled
      .filter(col("__bench").isNull &&
        TextAnalysis.splitName(col(idCol)) === "train")
    def hashes(df: DataFrame, keep: Column*): DataFrame = df
      .filter(col(textCol).isNotNull)
      .select(keep :+
        explode(array_distinct(graft.functions.ShingleHash64(col(textCol), k))).as("h"): _*)
      .distinct()
    val seed = bench.groupBy(col("__bench").as("benchmark"))
      .agg(count(lit(1)).as("n_docs_bench"))
    val shared = hashes(bench, col("__bench").as("benchmark"))
      .join(hashes(train, col(idCol)), Seq("h"))
      .groupBy("benchmark")
      .agg(count_distinct(col(idCol)).as("d"), count_distinct(col("h")).as("s"))
    seed
      .join(shared, Seq("benchmark"), "left")
      .select(col("benchmark"), col("n_docs_bench"),
        coalesce(col("d"), lit(0L)).as("n_contaminated_train_docs"),
        coalesce(col("s"), lit(0L)).as("n_shared_shingles"))
  }

  /** NO-SPLIT greedy sequence packing — the other production packing
    * shape: [[packSequences]] concatenates the token stream and cuts at
    * maxLen (docs span sequences); this face keeps every document whole
    * and opens a new bin when the next doc does not fit (the "no cross-
    * document attention contamination" choice). Greedy reset-cumsum
    * state is inherently sequential, so determinism comes from explicit
    * HASH BUCKETS, not partition boundaries: docs are routed to
    * `nBuckets` md5-prefix buckets, each bucket packs independently in
    * (md5(id), id) order, and bins never span buckets — the result is
    * identical for ANY partition count (asserted in spec), because
    * repartition boundaries never cut a bucket.
    *
    * A doc longer than maxLen gets its own bin (fill > maxLen — the
    * loader's truncate/reject decision, not silently dropped).
    * Zero-token docs ride the current bin.
    *
    * Scale shape: one exchange keyed by bucket; each bucket streams
    * through its task with O(1) packing state — `nBuckets` is the
    * parallelism knob (256 buckets ≈ corpus/256 rows per task; raise it
    * with the corpus). The per-bucket sort is the same bounded
    * sortWithinPartitions every rank face here uses.
    */
  def packDocsGreedy(docs: DataFrame, maxLen: Long = 256L, nBuckets: Int = 64,
                     idCol: String = "doc_id", textCol: String = "text",
                     countOf: Column => Column = TextAnalysis.tokenCount): DataFrame = {
    require(maxLen >= 1, s"maxLen must be positive, got $maxLen")
    require(nBuckets >= 1, s"nBuckets must be positive, got $nBuckets")
    OpChecks.requireIntegralId(docs, idCol)
    val spark = docs.sparkSession
    import spark.implicits._
    val bkt = (conv(substring(md5(col(idCol).cast("string")), 1, 4), 16, 10)
      .cast("long") % nBuckets).cast("int")
    val ml = maxLen
    docs
      .select(col(idCol).cast("long").as("id"), bkt.as("bkt"),
        coalesce(countOf(col(textCol)), lit(0L)).as("n"),
        md5(col(idCol).cast("string")).as("rk"))
      .repartition(col("bkt"))
      .sortWithinPartitions("bkt", "rk", "id")
      .as[(Long, Int, Long, String)]
      .mapPartitions { it =>
        var cur = Int.MinValue
        var bin = 0L
        var fill = 0L
        var empty = true
        it.map { case (id, bk, n, _) =>
          if (bk != cur) { cur = bk; bin = 0L; fill = 0L; empty = true }
          if (empty || fill + n <= ml) { fill += n; empty = false }
          else { bin += 1L; fill = n }
          (id, bk, bin, n, fill)
        }
      }
      .toDF(idCol, "bucket", "bin", "n_tokens", "fill")
  }

  /** Packing-efficiency report over [[packDocsGreedy]]'s bins: per hash
    * bucket, (n_bins, n_docs, n_tokens, n_pad, n_oversize_bins,
    * fill_millis) where n_pad sums each bin's unused capacity and
    * fill_millis = total tokens ·1000 ÷ total capacity (integer-exact).
    * Padding is wasted training FLOPs and oversize bins are documents a
    * no-split packer cannot place — this report is what tunes maxLen and
    * arbitrates packSequences (split, zero pad except the tail) against
    * packDocsGreedy (whole docs, padded bins). Two bounded aggregations
    * over the bin assignment; nothing new shuffles beyond the packer's
    * own bucket exchange.
    */
  def packStats(docs: DataFrame, maxLen: Long = 64L, nBuckets: Int = 16,
                idCol: String = "doc_id", textCol: String = "text",
                countOf: Column => Column = TextAnalysis.tokenCount): DataFrame = {
    val bins = packDocsGreedy(docs, maxLen, nBuckets, idCol, textCol, countOf)
      .groupBy("bucket", "bin")
      .agg(count(lit(1)).as("__docs"), sum("n_tokens").as("__tok"),
        max("fill").as("__fill"))
    bins.groupBy("bucket")
      .agg(
        count(lit(1)).cast("long").as("n_bins"),
        sum("__docs").cast("long").as("n_docs"),
        sum("__tok").cast("long").as("n_tokens"),
        sum(greatest(lit(maxLen) - col("__fill"), lit(0L))).cast("long").as("n_pad"),
        sum(when(col("__fill") > maxLen, 1L).otherwise(0L)).as("n_oversize_bins"))
      .withColumn("fill_millis", expr(s"(n_tokens * 1000) div (n_bins * $maxLen)"))
  }

  /** The c_pack_greedy oracle chain (maxLen=64, nBuckets=16) ending at
    * `rec(doc_id, bucket, n, rn, bin, fill)` — the inherently-sequential
    * reset-cumsum replayed doc-by-doc per bucket as a recursive CTE.
    * Shared by c_pack_greedy and c_pack_stats so the stats face can never
    * drift from the assignment it reports on. Callers prepend
    * `WITH RECURSIVE `.
    */
  private def packGreedyCtes: String = """d AS (
          SELECT doc_id,
                 CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 16 AS INTEGER) AS bucket,
                 COALESCE(CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT), 0) AS n,
                 md5(CAST(doc_id AS VARCHAR)) AS h
          FROM documents),
        r AS (SELECT doc_id, bucket, n,
                     ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY h, doc_id) AS rn
              FROM d),
        rec AS (
          SELECT doc_id, bucket, n, rn, CAST(0 AS BIGINT) AS bin, n AS fill
          FROM r WHERE rn = 1
          UNION ALL
          SELECT r.doc_id, r.bucket, r.n, r.rn,
                 CASE WHEN rec.fill + r.n <= 64 THEN rec.bin ELSE rec.bin + 1 END,
                 CASE WHEN rec.fill + r.n <= 64 THEN rec.fill + r.n ELSE r.n END
          FROM rec JOIN r ON r.bucket = rec.bucket AND r.rn = rec.rn + 1)"""

  /** Shingle novelty of a new corpus build against the previous one: of
    * v2's DISTINCT word `k`-shingles, how many were never seen in v1 —
    * the crawl-value report (a new snapshot whose shingles are 95% seen
    * adds little training signal; the GPT-3-lineage dedup papers measure
    * exactly this overlap before mixing). One integer row
    * (n_shingles, n_new, n_seen).
    *
    * Scale shape: both sides reduce to distinct 64-bit ShingleHash64
    * fingerprints (the decontaminate discipline — text never shuffles),
    * one hash-keyed left join between the two distinct frames, one
    * global count aggregation. The oracle joins raw shingle strings, so
    * the compare guards the hashes against collisions.
    */
  def noveltyStats(v1: DataFrame, v2: DataFrame, k: Int = 5,
                   textCol: String = "text"): DataFrame = {
    require(k >= 1, s"shingle size must be positive, got $k")
    def hashes(df: DataFrame): DataFrame = df
      .filter(col(textCol).isNotNull)
      .select(explode(array_distinct(graft.functions.ShingleHash64(col(textCol), k))).as("h"))
      .distinct()
    hashes(v2)
      .join(hashes(v1).select(col("h"), lit(1L).as("__seen")), Seq("h"), "left")
      .agg(count(lit(1)).as("n_shingles"), count(col("__seen")).as("n_seen"))
      .select(col("n_shingles"),
        (col("n_shingles") - col("n_seen")).as("n_new"), col("n_seen"))
  }

  /** Calibration report for the linear quality scorer: per global score
    * TERCILE (head / middle / tail, the pplBuckets vocabulary), how many
    * docs the independent Gopher-rules gate passes — the one-glance check
    * that a trained scorer and the hand-written rules agree on ordering
    * (a scorer whose head tercile passes the rules less often than its
    * tail is mis-trained or mis-wired). Integer-exact: tercile thresholds
    * are discrete quantiles read off the score HISTOGRAM with the
    * cum·3 ≥ n(·2) test ([[pplBuckets]]'s shape, global rather than
    * per-source). Unlike the per-source faces (whose windows parallelize
    * across sources), a global histogram window would serialize into ONE
    * partition — and the distinct-score count grows with the corpus
    * (measured: the windowed first cut probed 4.12 at 10×, the worst
    * ratio in the linear cluster) — so the cumsum runs as the two-level
    * machinery instead: range-partition the histogram by score,
    * per-partition totals to the driver (one long per partition),
    * broadcast prefix offsets, one local pass.
    */
  def qualityCalibration(docs: DataFrame, d: Int = 4096,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // the gram explode + per-doc aggregation is the dominant cost and
    // feeds BOTH the histogram and the final join — checkpoint the small
    // (id, score) frame once so the hot stage runs once, not twice
    val scored = linearScore(docs, d, idCol, textCol)
      .select(col(idCol), col("score"))
      .localCheckpoint(true)
    val nParts = spark.sessionState.conf.numShufflePartitions
    val ranged = scored
      .groupBy("score").agg(count(lit(1)).as("c"))
      .repartitionByRange(nParts, col("score"))
      .sortWithinPartitions("score")
      .localCheckpoint(true)
    val parts = ranged
      .groupBy(spark_partition_id().as("pid")).agg(sum("c").as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offs = (0 until nParts).scanLeft(0L)((a, p) => a + parts.getOrElse(p, 0L))
    val nn = offs.last
    val bc = spark.sparkContext.broadcast(offs.toArray)
    val th = ranged
      .as[(Long, Long)]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var cum = bc.value(pid)
        it.map { case (sc, c) => cum += c; (sc, cum) }
      }
      .toDF("score", "cum")
      .agg(
        min(when(col("cum") * 3 >= nn, col("score"))).as("t33"),
        min(when(col("cum") * 3 >= nn * 2, col("score"))).as("t66"))
    val flags = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol), TextAnalysis.qualityPass(col(textCol)).as("__q"))
    scored
      .join(flags, Seq(idCol))
      .crossJoin(broadcast(th))
      .select(
        when(col("score") <= col("t33"), "tail")
          .when(col("score") <= col("t66"), "middle")
          .otherwise("head").as("score_bucket"),
        col("__q"))
      .groupBy("score_bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__q"), 1L).otherwise(0L)).as("n_pass"))
      .orderBy("score_bucket")
  }

  /** Cross-source shingle-overlap matrix: for every source pair, how many
    * DISTINCT word `k`-shingles occur in both — the provenance-leakage
    * audit behind mixture design (two "independent" crawls sharing half
    * their shingles are one source for dedup purposes, and a benchmark
    * source overlapping a web source is a contamination finding). Sparse
    * form: pairs with zero overlap are absent.
    *
    * Scale shape: text reduces to the native 64-bit [[graft.functions
    * .ShingleHash64]] fingerprints before anything shuffles (the
    * decontaminate discipline); one (source, hash) distinct, one
    * hash-keyed aggregation whose member sets are bounded by the SOURCE
    * COUNT (never document membership — a boilerplate shingle shared by
    * every doc still yields one array of ≤ n_sources entries), and a
    * ≤ n_sources² bounded pair expansion. The DuckDB oracle joins on raw
    * shingle STRINGS, so the compare also guards the 64-bit hashes
    * against collisions.
    */
  def sourceOverlap(docs: DataFrame, k: Int = 5, srcCol: String = "source",
                    textCol: String = "text"): DataFrame = {
    require(k >= 1, s"shingle size must be positive, got $k")
    val sh = docs
      .filter(col(textCol).isNotNull)
      .select(coalesce(col(srcCol).cast("string"), lit("")).as("src"),
        explode(array_distinct(graft.functions.ShingleHash64(col(textCol), k))).as("h"))
      .distinct()
    sh.groupBy("h").agg(array_sort(collect_set(col("src"))).as("srcs"))
      .filter(size(col("srcs")) >= 2)
      .select(explode(col("srcs")).as("source_a"), col("srcs"))
      .select(col("source_a"), explode(col("srcs")).as("source_b"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared_shingles"))
  }

  /** Exploded (id, bucket) hashed-gram feature rows — the distributed
    * face of [[linearScoreJvm]]'s feature extraction (same unigram+bigram
    * md5-60 % d family, same sqlTrim + `\s+` tokenization), for operators
    * that need corpus-level bucket statistics rather than a per-row fold.
    * Typed mapPartitions with a reused MessageDigest (the measured
    * interpreted-lambda-vs-kernel discipline).
    */
  private[operators] def gramBuckets(docs: DataFrame, d: Int,
                                     idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val dd = d
    // r21: spread before the md5 gram kernel (graft.Spread — single-task
    // on one-split bench scans, no-op at lake scale)
    graft.Spread(docs.filter(col(textCol).isNotNull))
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, t) =>
          val ws = OpChecks.sqlTrim(t).split("\\s+", -1)
          val out = new Array[(Long, Long)](ws.length + math.max(0, ws.length - 1))
          var j = 0
          var i = 0
          while (i < ws.length) {
            out(j) = (id, Dedup.md5Hash60Jvm(md, ws(i)) % dd); j += 1; i += 1
          }
          i = 0
          while (i < ws.length - 1) {
            out(j) = (id, Dedup.md5Hash60Jvm(md, ws(i) + " " + ws(i + 1)) % dd); j += 1; i += 1
          }
          out.iterator
        }
      }
      .toDF(idCol, "bucket")
  }

  /** [[gramBuckets]] carrying one extra per-doc LONG tag through the gram
    * explode — the fused shape for consumers that previously joined the
    * gram rows back to a per-doc label/flag frame (nbRatioWeights) or ran
    * the explode twice over overlapping corpora (dsirWeights raw vs
    * target): the tag is computed once per DOC on the scan and rides each
    * emitted gram row, so no doc-keyed join and no second md5 pass. Same
    * tokenization/hash family as [[gramBuckets]] (r21, guide §2.3
    * "aggregate before you shuffle" / §2.4 remove shuffles outright).
    */
  private[operators] def gramBucketsTagged(docs: DataFrame, d: Int, tag: Column,
                                           idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val dd = d
    // r21: spread before the md5 gram kernel (gramBuckets rationale)
    graft.Spread(docs.filter(col(textCol).isNotNull))
      .select(col(idCol).cast("long"), col(textCol), tag.cast("long"))
      .as[(Long, String, Long)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, t, y) =>
          val ws = OpChecks.sqlTrim(t).split("\\s+", -1)
          val out = new Array[(Long, Long, Long)](ws.length + math.max(0, ws.length - 1))
          var j = 0
          var i = 0
          while (i < ws.length) {
            out(j) = (id, Dedup.md5Hash60Jvm(md, ws(i)) % dd, y); j += 1; i += 1
          }
          i = 0
          while (i < ws.length - 1) {
            out(j) = (id, Dedup.md5Hash60Jvm(md, ws(i) + " " + ws(i + 1)) % dd, y); j += 1; i += 1
          }
          out.iterator
        }
      }
      .toDF(idCol, "bucket", "__tag")
  }

  /** DSIR-style hashed-gram importance weights (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): per
    * feature bucket, how over-represented the TARGET distribution is
    * relative to the RAW corpus. Integer-exact skeleton: the weight is
    * the add-one-smoothed fixed-point frequency ratio
    *   w(b) = ⌊(n_target(b)+1) · scale / (n_raw(b)+1)⌋
    * — the monotone surrogate of the paper's log p_t(b)/p_r(b) bucket
    * term (a float log cannot cross a hash oracle; the tfidfTopK
    * precedent). Features are the SAME unigram+bigram md5-60 buckets the
    * linear quality scorer uses, so the selection family shares one
    * feature space.
    *
    * Scale shape: two gram explodes (corpus-token cardinality) each
    * collapsing map-side into ≤ d buckets — the shuffle carries at most
    * d rows per partition; the full-outer merge of two ≤ d-row frames is
    * trivial. `scale` bounds: n_target · scale must stay under 2^63 —
    * the default 10^6 is safe to ~9·10^12 target grams (≈ 40 TB of
    * text); drop scale an order of magnitude per order beyond that.
    */
  def dsirWeights(raw: DataFrame, target: DataFrame, d: Int = 4096,
                  scale: Long = 1000000L, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    require(d >= 2, s"bucket count must be >= 2, got $d")
    require(scale >= 1, s"scale must be positive, got $scale")
    OpChecks.requireIntegralId(raw, idCol)
    OpChecks.requireIntegralId(target, idCol)
    val nr = gramBuckets(raw, d, idCol, textCol)
      .groupBy("bucket").agg(count(lit(1)).as("n_raw"))
    val nt = gramBuckets(target, d, idCol, textCol)
      .groupBy("bucket").agg(count(lit(1)).as("n_target"))
    nr.join(nt, Seq("bucket"), "full_outer")
      .select(
        col("bucket"),
        coalesce(col("n_target"), lit(0L)).as("n_target"),
        coalesce(col("n_raw"), lit(0L)).as("n_raw"))
      .withColumn("weight", expr(s"(n_target + 1) * ${scale}L div (n_raw + 1)"))
  }

  /** [[dsirWeights]] for the common case where the target IS a subset of
    * the raw corpus selected by a per-doc predicate (the registered
    * "select web text that looks like the curated set" shape): ONE tagged
    * gram pass instead of two overlapping explodes — the target-flag rides
    * each gram row, n_raw counts all rows, n_target the flagged ones, and
    * the full-outer merge disappears (target buckets ⊆ raw buckets by
    * construction). Row-identical to
    * `dsirWeights(docs, docs.filter(isTarget))` — r21, guide §2.3/§2.4;
    * the before/after plans are plans/r21/c_dsir_weights_{before,after}.txt
    * (4 corpus scans + full-outer SMJ → 1 scan, one aggregation).
    */
  def dsirWeightsFlagged(docs: DataFrame, isTarget: Column, d: Int = 4096,
                         scale: Long = 1000000L, idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    require(d >= 2, s"bucket count must be >= 2, got $d")
    require(scale >= 1, s"scale must be positive, got $scale")
    OpChecks.requireIntegralId(docs, idCol)
    gramBucketsTagged(docs, d, when(isTarget, 1L).otherwise(0L), idCol, textCol)
      .groupBy("bucket")
      .agg(sum(col("__tag")).as("n_target"), count(lit(1)).as("n_raw"))
      .withColumn("weight", expr(s"(n_target + 1) * ${scale}L div (n_raw + 1)"))
  }

  /** Per-doc DSIR importance score: the sum of [[dsirWeights]] bucket
    * weights over the doc's hashed-gram features (with multiplicity).
    * Docs whose buckets are absent from the weights table score each
    * such feature at `scale` — the smoothed neutral ratio (0+1)/(0+1).
    * One gram explode joined against the BROADCAST d-bounded weight
    * table, then one doc-keyed aggregation with map-side combine.
    */
  def dsirScore(docs: DataFrame, weights: DataFrame, d: Int = 4096,
                scale: Long = 1000000L, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame =
    gramBuckets(docs, d, idCol, textCol)
      .join(broadcast(weights.select(col("bucket"), col("weight"))), Seq("bucket"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("weight"), lit(scale))).as("score"))

  /** Top-`n` docs by DSIR importance — the selection face (the paper
    * resamples proportionally; the deterministic top-quantile cut is the
    * integer-exact variant, tie-broken by doc_id).
    */
  def dsirTopQ(docs: DataFrame, weights: DataFrame, n: Int, d: Int = 4096,
               scale: Long = 1000000L, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame =
    dsirScore(docs, weights, d, scale, idCol, textCol)
      .orderBy(col("score").desc, col(idCol))
      .limit(n)

  /** One sequential pass: unigrams then bigrams, each md5-60-bucketed and
    * weighed — tokenization via the module's sqlTrim + `\s+` contract so
    * the DuckDB oracle's string_split_regex sees identical grams.
    */
  private[graft] def linearScoreJvm(text: String, d: Int,
                                    weightOf: Long => Long): (Long, Long) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val words = OpChecks.sqlTrim(text).split("\\s+", -1)
    var n = 0L
    var score = 0L
    def add(g: String): Unit = {
      score += weightOf(Dedup.md5Hash60Jvm(md, g) % d)
      n += 1
    }
    var i = 0
    while (i < words.length) { add(words(i)); i += 1 }
    i = 0
    while (i < words.length - 1) { add(words(i) + " " + words(i + 1)); i += 1 }
    (n, score)
  }

  /** The MATERIALIZATION of concat-and-chunk packing: where
    * [[packSequences]] assigns each doc its (seq_id, seq_offset),
    * packTokens emits the training shards themselves — one row per
    * fixed-length sequence carrying the packed subword token ids in
    * stream order (docs concatenated in ascending `idCol` order,
    * tokenized by the frozen greedy vocab, chunked every `maxLen` ids;
    * the final partial sequence is emitted as-is for the caller to pad
    * or drop). This is the last hop of a pretraining data pipeline: its
    * output is what a training loader reads.
    *
    * Scale shape: the per-doc start offsets come from [[packSequences]]'
    * two-level cumsum (no global sort); the id stream is one posexplode
    * (a row per token — the same cardinality any tokenized-shard writer
    * must emit) carrying (global_pos, id) only; one shuffle keyed by
    * seq_id groups each sequence, and the within-sequence order is
    * restored by sorting ≤ maxLen structs per group — bounded work per
    * key, no skew (every sequence is the same size by construction).
    */
  def packTokens(docs: DataFrame, maxLen: Int,
                 vocab: Seq[String] = TextAnalysis.BpeVocab,
                 idCol: String = "doc_id", textCol: String = "text",
                 numPartitions: Int = 0): DataFrame = {
    val bpe: Column => Column = c => TextAnalysis.bpeTokenCount(c, vocab)
    val asg = packSequences(docs, maxLen, idCol, textCol, numPartitions, bpe)
      .select(col(idCol),
        (col("seq_id") * maxLen + col("seq_offset")).as("__start"))
    docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol), TextAnalysis.bpeTokenize(col(textCol), vocab).as("__ids"))
      .join(asg, Seq(idCol))
      .select(col(idCol), col("__start"), posexplode(col("__ids")))
      .select(((col("__start") + col("pos")) % maxLen).as("__off"),
        expr(s"(__start + pos) div $maxLen").as("seq_id"), col("col").as("tid"))
      .groupBy("seq_id")
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        array_join(
          transform(array_sort(collect_list(struct(col("__off"), col("tid")))),
            s => s("tid").cast("string")),
          ",").as("ids"))
  }

  /** The WRITE of the training shards — [[packTokens]] (the rows) and
    * [[shardAssign]] (the reproducible placement) composed into actual
    * shard FILES: one parquet file per shard under `outDir/shard=K/`,
    * rows in `pos` order, so a training loader reads shard K as a
    * stream and two pipeline runs produce BYTE-IDENTICAL shards
    * (resumable ingestion and exact-repro training runs depend on
    * that; ShardWriteSpec hashes the written bytes across runs AND
    * across input partitionings to pin it).
    *
    * Determinism argument: packTokens' output is a pure function of the
    * corpus (seq ids from the two-level cumsum over ascending doc ids);
    * shardAssign places each sequence at (md5-bucket, md5-rank) —
    * partition-independent by the range-partition + prefix-sum
    * construction; the final exchange hashes on `shard` ONLY, so every
    * shard lands whole in exactly one task, is sorted (shard, pos)
    * within it, and parquet encodes the same rows in the same order to
    * the same bytes. File NAMES carry a per-run task UUID (Spark's
    * committer contract) — identity is over file contents.
    *
    * Scale: one extra exchange at sequence cardinality (tokens/maxLen —
    * 1/256th of token rows) on top of the packTokens/shardAssign
    * machinery; nShards single-file writes bound per-task output
    * exactly like any production shard writer.
    */
  def writeTokenShards(docs: DataFrame, outDir: String, nShards: Int, maxLen: Int = 256,
                       vocab: Seq[String] = TextAnalysis.BpeVocab,
                       idCol: String = "doc_id", textCol: String = "text",
                       numPartitions: Int = 0): Unit = {
    val packed = packTokens(docs, maxLen, vocab, idCol, textCol, numPartitions)
    val asg = shardAssign(packed, nShards, "seq_id", numPartitions)
    packed.join(asg, Seq("seq_id"))
      .repartition(nShards, col("shard"))
      .sortWithinPartitions("shard", "pos")
      .select(col("shard"), col("pos"), col("seq_id"), col("n_tokens"), col("ids"))
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)
  }

  /** Deterministic shard assignment with within-shard write positions —
    * the "materialize the training corpus as N shard files in a
    * reproducible global shuffle order" step every pretraining pipeline
    * ends with. Each doc gets `shard = md5-bucket(id) % nShards` and
    * `pos` = its 0-based rank within the shard under (md5(id), id) order —
    * so `ORDER BY pos` inside a shard IS the reproducible shuffle, and
    * re-running the pipeline yields byte-identical shards (resumable
    * ingestion and exact-repro training runs depend on that).
    *
    * Scale shape: the naive formulation is `row_number() OVER (PARTITION
    * BY shard ORDER BY rk)` — at corpus scale each shard is a single-task
    * sort of corpus/nShards rows. This runs the two-level rank instead
    * (same machinery as [[packSequences]]' cumsum): range-partition by
    * (shard, rk, id) — contiguous global order, every partition a bounded
    * slice — then per-(partition, shard) counts prefix-summed on the
    * driver (O(nParts + nShards) rows, since the leading range key means
    * each partition touches at most a few shards) seed partition-local
    * running counters. The keyed frame is eagerly localCheckpoint'ed so
    * the count pass and the rank pass observe the SAME sampled range
    * bounds. The DuckDB oracle IS the naive window — exactly the
    * semantics the distributed shape must reproduce.
    */
  def shardAssign(docs: DataFrame, nShards: Int, idCol: String = "doc_id",
                  numPartitions: Int = 0): DataFrame = {
    require(nShards >= 1, s"nShards must be positive, got $nShards")
    require(numPartitions >= 0,
      s"numPartitions must be >= 0 (0 = session default), got $numPartitions")
    OpChecks.requireIntegralId(docs, idCol)
    val spark = docs.sparkSession
    import spark.implicits._
    val nParts =
      if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val rk = md5(col(idCol).cast("string"))
    val shard =
      (conv(substring(rk, 1, 4), 16, 10).cast("long") % nShards).cast("int")
    val ranged = docs
      .select(col(idCol).cast("long").as("id"), rk.as("rk"), shard.as("shard"))
      .repartitionByRange(nParts, col("shard"), col("rk"), col("id"))
      .sortWithinPartitions("shard", "rk", "id")
      .localCheckpoint(true)
    val counts = ranged
      .groupBy(spark_partition_id().as("pid"), col("shard"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    val starts: Map[(Int, Int), Long] = counts
      .groupBy(_._2)
      .iterator
      .flatMap { case (sh, rows) =>
        val byPid = rows.sortBy(_._1)
        val offs = byPid.scanLeft(0L)(_ + _._3)
        byPid.iterator.map(_._1).zip(offs.iterator).map { case (pid, off) => (pid, sh) -> off }
      }
      .toMap
    val bc = spark.sparkContext.broadcast(starts)
    ranged
      .as[(Long, String, Int)]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var cur = Int.MinValue
        var cum = 0L
        it.map { case (id, _, sh) =>
          if (sh != cur) { cur = sh; cum = bc.value((pid, sh)) }
          val p = cum; cum += 1L; (id, sh, p)
        }
      }
      .toDF(idCol, "shard", "pos")
  }

  // URL patterns: same shared Java-regex/RE2 subset discipline as the PII
  // family (character classes only — no lookarounds, no shorthand), so the
  // Spark and DuckDB engines compile identical automata. The host must END
  // on an alphanumeric: a bare [A-Za-z0-9.-]+ would greedily absorb a
  // sentence-final period ("see http://a.com. Next") into the domain,
  // splitting every end-of-sentence citation into a phantom "a.com." group.
  val UrlRe = "https?://[A-Za-z0-9]([A-Za-z0-9.-]*[A-Za-z0-9])?(/[A-Za-z0-9._/-]*)?"
  val UrlHostRe = "https?://([A-Za-z0-9]([A-Za-z0-9.-]*[A-Za-z0-9])?)"

  /** Deterministic URL-bearing fixture column — the synthetic corpora
    * carry no URLs in any string column (verified: zero `http` hits), so
    * the extraction family would be vacuously green on raw text. Every
    * 3rd doc gains a sited page URL, every 5th a CDN asset URL, both
    * id-derived with a bounded domain alphabet so domain-level grouping
    * has real fan-in. Mirrored expression-for-expression in the oracle.
    */
  def withSyntheticUrls(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    val id = col(idCol)
    docs.withColumn("url_text", concat(
      substring(coalesce(col(textCol), lit("")), 1, 40),
      when(id % 3 === 0,
        concat(lit(" see http://site"), (id % 7).cast("string"),
          lit(".example.com/p/"), id.cast("string"))).otherwise(lit("")),
      when(id % 5 === 0,
        concat(lit(" https://cdn.example.org/a-"),
          (id % 11).cast("string"))).otherwise(lit("")),
    ))
  }

  /** URL grammar INCLUDING query string and fragment — [[UrlRe]] stops at
    * the path because the pre-canonicalization faces treat params as
    * noise; the canonicalizer must see them to strip/sort them.
    */
  val CanonUrlRe: String =
    "https?://[A-Za-z0-9]([A-Za-z0-9.-]*[A-Za-z0-9])?(/[A-Za-z0-9._/-]*)?(\\?[A-Za-z0-9_=&-]*)?(#[A-Za-z0-9_-]*)?"

  /** URL canonicalization — the crawl normalization EVERY CommonCrawl-
    * lineage pipeline runs before URL dedup (two fetches of one address
    * differ by tracking params, fragments, host case, and trailing
    * slashes far more often than by path): lowercase the scheme://host,
    * drop the fragment, drop tracking parameters (`utm_*`, `ref`,
    * `fbclid`, `gclid`) while KEEPING content-bearing ones, sort the
    * survivors (param order is transport noise), and strip one trailing
    * slash. Pure codegen'd string/array expressions — map-only, mirrored
    * expression-for-expression by the oracle; no URL ⇒ empty string.
    */
  def canonicalizeUrl(raw: Column): Column = {
    val url = regexp_extract(coalesce(raw, lit("")), CanonUrlRe, 0)
    val nofrag = regexp_replace(url, "#.*$", "")
    val hostPart = regexp_extract(nofrag, "^(https?://[^/?]+)", 1)
    val rest = regexp_replace(nofrag, "^https?://[^/?]+", "")
    val hasQ = instr(rest, "?") > 0
    val path = when(hasQ, substring_index(rest, "?", 1)).otherwise(rest)
    val qs = when(hasQ, substring_index(rest, "?", -1)).otherwise(lit(""))
    val kept = filter(split(qs, "&"), p => {
      val name = substring_index(p, "=", 1)
      p =!= "" && !name.startsWith("utm_") &&
        !name.isin("ref", "fbclid", "gclid")
    })
    val qs2 = array_join(array_sort(kept), "&")
    when(url === "", lit("")).otherwise(concat(
      lower(hostPart),
      regexp_replace(path, "/$", ""),
      when(qs2 === "", lit("")).otherwise(concat(lit("?"), qs2))))
  }

  /** Canonical-URL dedup: [[canonicalizeUrl]] then the [[urlDedup]] fold
    * — docs whose addresses differ only by canonicalization noise
    * collapse to the min id; docs with no URL keep themselves. Emits the
    * canonical URL alongside so the folding itself is auditable.
    */
  def urlCanonDedup(df: DataFrame, idCol: String = "doc_id",
                    urlCol: String = "url_text"): DataFrame = {
    OpChecks.requireIntegralId(df, idCol)
    // r21: pin the doc-scale (id, canon_url) frame — it feeds BOTH the
    // min-id fold and the join-back, so unpinned the whole regex battery
    // ran twice (guide §2.4; measured 1.04 → 0.47 s). NOT spread: the
    // 3-round A/B read 0.47 off vs 0.89 on — the canonicalization is
    // cheaper than the exchange once it runs only once.
    val withU = df.select(col(idCol).cast("long").as(idCol),
      canonicalizeUrl(col(urlCol)).as("canon_url"))
      .localCheckpoint(true)
    val canon = withU
      .filter(col("canon_url") =!= "")
      .groupBy("canon_url").agg(min(col(idCol)).as("__c"))
    withU
      .join(canon, Seq("canon_url"), "left")
      .select(col(idCol), col("canon_url"),
        coalesce(col("__c"), col(idCol)).as("canonical_id"))
  }

  /** Fixture for the canonicalization faces: every doc gets one URL whose
    * host CASE flips by parity, plus tracking-param (%2), mixed
    * keep+strip-param (%4=1), fragment (%5=2), and trailing-slash (%6=3)
    * arms — the (id%7, id%13) base key gives real cross-doc fan-in once
    * the noise cancels. Mirrored in [[canonUrlCte]].
    */
  private[operators] def withCanonUrls(docs: DataFrame, idCol: String = "doc_id",
                                       textCol: String = "text"): DataFrame = {
    val id = col(idCol)
    val urlPart = concat(
      lit(" http://"),
      when(id % 2 === 0, lit("Site")).otherwise(lit("site")),
      (id % 7).cast("string"),
      when(id % 2 === 0, lit(".EXAMPLE.com/p/")).otherwise(lit(".example.com/p/")),
      (id % 13).cast("string"),
      when(id % 6 === 3, lit("/")).otherwise(lit("")),
      when(id % 4 === 1,
        concat(lit("?page="), (id % 3).cast("string"), lit("&utm_source=feed")))
        .when(id % 2 === 0, lit("?utm_source=feed&utm_campaign=x"))
        .otherwise(lit("")),
      when(id % 5 === 2, concat(lit("#sec-"), id.cast("string"))).otherwise(lit("")))
    docs.withColumn("curl_text", concat(
      substring(coalesce(col(textCol), lit("")), 1, 30),
      when(id % 9 === 4, lit("")).otherwise(urlPart)))
  }

  /** URL-keyed dedup — the crawl-stage dedup that runs BEFORE any
    * content dedup (two fetches of one address are duplicates whatever
    * their bytes say; CommonCrawl-lineage pipelines dedup by normalized
    * URL first): each doc's FIRST extracted URL, lowercased, is its
    * crawl address; docs sharing an address collapse to the min id, docs
    * with no URL keep themselves. Returns (id, canonical_id) like every
    * dedup face here.
    *
    * Scale shape: one projection to (id, url) — the exchange carries the
    * short address string, never the document — one URL-keyed
    * aggregation, one left join back.
    */
  def urlDedup(df: DataFrame, idCol: String = "doc_id",
               urlCol: String = "url_text"): DataFrame = {
    OpChecks.requireIntegralId(df, idCol)
    val u = lower(regexp_extract(coalesce(col(urlCol), lit("")), UrlRe, 0))
    val withU = df.select(col(idCol).cast("long").as(idCol), u.as("__u"))
    val canon = withU
      .filter(col("__u") =!= "")
      .groupBy("__u").agg(min(col(idCol)).as("__c"))
    withU
      .join(canon, Seq("__u"), "left")
      .select(col(idCol), coalesce(col("__c"), col(idCol)).as("canonical_id"))
  }

  /** Per-domain URL statistics — the C4/CommonCrawl-style provenance
    * audit (which hosts does this corpus cite, how concentrated): extract
    * every URL, lowercase its host, count occurrences and distinct citing
    * docs per domain. Pure codegen'd row expressions into one
    * map-side-partial aggregation; the distinct-doc count rides Spark's
    * Expand-based partial distinct, so a hot domain reaches the reducer
    * as per-map-task partials, never raw rows.
    */
  def urlDomainStats(df: DataFrame, idCol: String = "doc_id",
                     urlCol: String = "url_text"): DataFrame =
    df.select(col(idCol),
        explode(regexp_extract_all(coalesce(col(urlCol), lit("")),
          lit(UrlRe), lit(0))).as("__u"))
      .select(col(idCol),
        lower(regexp_extract(col("__u"), UrlHostRe, 1)).as("domain"))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_urls"),
        countDistinct(col(idCol)).as("n_docs"))

  /** UT1-style domain blocklist classification (the Université
    * Toulouse 1 blacklists RefinedWeb §2.2 and every CommonCrawl-lineage
    * pipeline screen against): a document is blocked when its crawl
    * address's host — or ANY parent domain of it — appears in the
    * blocklist. Matching is by whole label via the exploded label-suffix
    * chain (host `cdn.example.org` probes `cdn.example.org`,
    * `example.org`, `org`), so `ample.org` can never false-match. Emits
    * the host, the most-specific (longest) matching rule, and a 0/1 flag;
    * docs with no URL pass.
    *
    * Scale shape: a real UT1 list is millions of entries — far too big
    * for a literal expression but trivially broadcast — so the chain
    * joins it as a BROADCAST hash join against the exploded suffixes
    * (bounded ≤ host label count ≈ 5 rows per doc, short strings only);
    * the per-doc fold and the join back to the host frame are id-keyed
    * exchanges that carry (id, rule), never document text. The
    * most-specific rule is max(struct(len, rule)) — suffixes of one host
    * have pairwise-distinct lengths, so the argmax is unique and
    * deterministic.
    */
  def domainBlock(df: DataFrame, blocklist: Seq[String],
                  idCol: String = "doc_id", urlCol: String = "url_text"): DataFrame = {
    OpChecks.requireIntegralId(df, idCol)
    require(blocklist.nonEmpty, "empty blocklist")
    require(blocklist.forall(e => e.nonEmpty && e == e.toLowerCase &&
      !e.exists(_.isWhitespace) && !e.contains("'")),
      "blocklist entries must be non-empty lowercase hosts without quotes")
    val spark = df.sparkSession
    import spark.implicits._
    val bl = broadcast(blocklist.toDF("__entry"))
    val hosts = df.select(col(idCol),
      lower(regexp_extract(coalesce(col(urlCol), lit("")), UrlHostRe, 1)).as("domain"))
    val sfx = hosts
      .filter(col("domain") =!= "")
      .withColumn("__labels", split(col("domain"), "\\."))
      .select(col(idCol), explode(transform(
        sequence(lit(1), size(col("__labels"))),
        i => array_join(slice(col("__labels"), i, size(col("__labels"))), "."))).as("__sfx"))
    val matched = sfx
      .join(bl, col("__sfx") === col("__entry"))
      .groupBy(idCol)
      .agg(max(struct(length(col("__entry")).as("l"), col("__entry").as("e"))).as("__m"))
      .select(col(idCol), col("__m.e").as("block_rule"))
    hosts
      .join(matched, Seq(idCol), "left")
      .select(col(idCol), col("domain"), col("block_rule"),
        when(col("block_rule").isNotNull, 1L).otherwise(0L).as("blocked"))
  }

  /** Fixture blocklist for `c_domain_block`, one entry per arm: an exact
    * host (site1.example.com), a parent domain that must catch
    * cdn.example.org by suffix, and a never-matching entry.
    */
  private[operators] val FixtureBlocklist: Seq[String] =
    Seq("site1.example.com", "example.org", "badsite.test")

  // ------------------------------------------------------------- queries

  /** ≡ urlCanonDedup(withCanonUrls(documents), curl_text): the fixture,
    * the extraction, and every canonicalization rule mirrored
    * expression-for-expression (DuckDB split_part/list_filter/list_sort
    * against Spark substring_index/filter/array_sort).
    */
  private def urlCanonOracleSql: String =
    s"""
        WITH cu AS (
          SELECT doc_id,
                 substring(COALESCE(text, ''), 1, 30) ||
                 CASE WHEN doc_id % 9 = 4 THEN '' ELSE
                   ' http://' ||
                   CASE WHEN doc_id % 2 = 0 THEN 'Site' ELSE 'site' END ||
                   CAST(doc_id % 7 AS VARCHAR) ||
                   CASE WHEN doc_id % 2 = 0 THEN '.EXAMPLE.com/p/' ELSE '.example.com/p/' END ||
                   CAST(doc_id % 13 AS VARCHAR) ||
                   CASE WHEN doc_id % 6 = 3 THEN '/' ELSE '' END ||
                   CASE WHEN doc_id % 4 = 1 THEN '?page=' || CAST(doc_id % 3 AS VARCHAR) || '&utm_source=feed'
                        WHEN doc_id % 2 = 0 THEN '?utm_source=feed&utm_campaign=x'
                        ELSE '' END ||
                   CASE WHEN doc_id % 5 = 2 THEN '#sec-' || CAST(doc_id AS VARCHAR) ELSE '' END
                 END AS curl_text
          FROM documents),
        x AS (SELECT doc_id,
                     regexp_replace(regexp_extract(curl_text, '$CanonUrlRe', 0), '#.*$$', '') AS nofrag
              FROM cu),
        z AS (SELECT doc_id, nofrag,
                     regexp_extract(nofrag, '^(https?://[^/?]+)', 1) AS hostpart,
                     regexp_replace(nofrag, '^https?://[^/?]+', '') AS rest
              FROM x),
        w2 AS (SELECT doc_id, nofrag, hostpart,
                      split_part(rest, '?', 1) AS path,
                      CASE WHEN contains(rest, '?') THEN split_part(rest, '?', 2) ELSE '' END AS qs
               FROM z),
        k AS (SELECT doc_id, nofrag, hostpart, path,
                     -- COALESCE: DuckDB's array_to_string of an EMPTY list
                     -- is NULL where Spark's array_join is '' — without it
                     -- every all-tracking query string nulls the canon
                     COALESCE(array_to_string(list_sort(list_filter(string_split(qs, '&'),
                       p -> p <> '' AND NOT starts_with(split_part(p, '=', 1), 'utm_')
                          AND split_part(p, '=', 1) NOT IN ('ref', 'fbclid', 'gclid'))), '&'), '') AS qs2
              FROM w2),
        c AS (SELECT doc_id,
                     CASE WHEN nofrag = '' THEN ''
                          ELSE lower(hostpart) || regexp_replace(path, '/$$', '') ||
                               CASE WHEN qs2 = '' THEN '' ELSE '?' || qs2 END END AS canon_url
              FROM k),
        m AS (SELECT canon_url, MIN(doc_id) AS cid FROM c WHERE canon_url <> '' GROUP BY canon_url)
        SELECT c.doc_id, c.canon_url, COALESCE(m.cid, c.doc_id) AS canonical_id
        FROM c LEFT JOIN m USING (canon_url) ORDER BY c.doc_id"""

  /** u CTE mirroring [[withSyntheticUrls]] — the ONE synthetic URL
    * fixture string, shared by the URL-face oracles so they can never
    * drift from each other.
    */
  private def synthUrlCte: String = """
        u AS (
          SELECT doc_id,
                 substring(COALESCE(text, ''), 1, 40) ||
                 CASE WHEN doc_id % 3 = 0
                      THEN ' see http://site' || CAST(doc_id % 7 AS VARCHAR) ||
                           '.example.com/p/' || CAST(doc_id AS VARCHAR) ELSE '' END ||
                 CASE WHEN doc_id % 5 = 0
                      THEN ' https://cdn.example.org/a-' || CAST(doc_id % 11 AS VARCHAR) ELSE '' END AS url_text
          FROM documents)"""

  /** The ONE synthetic corpus-versioning fixture shared by the
    * diff/drift/novelty registered faces: v1 = hash buckets <90, v2 =
    * buckets ≥10 with buckets 40-49 rewritten (" rev2" appended) — so
    * added/removed/changed/unchanged and both novelty arms are all
    * non-vacuous. Factored (with [[snapshotCtes]] as its SQL mirror) so
    * a fixture tweak cannot silently leave the three faces comparing
    * different corpora.
    */
  private[operators] def snapshotV1V2(docs: DataFrame): (DataFrame, DataFrame) = {
    val bkt = TextAnalysis.splitBucket(col("doc_id"))
    val v1 = docs.filter(bkt < 90)
    val v2 = docs.filter(bkt >= 10)
      .withColumn("text",
        when(bkt >= 40 && bkt < 50, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")))
    (v1, v2)
  }

  /** b/v1/v2 CTEs mirroring [[snapshotV1V2]]; v1/v2 carry (doc_id, text). */
  private def snapshotCtes: String = """
        b AS (SELECT doc_id, text,
                     CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 100 AS bkt
              FROM documents),
        v1 AS (SELECT doc_id, text FROM b WHERE bkt < 90),
        v2 AS (SELECT doc_id,
                      CASE WHEN bkt BETWEEN 40 AND 49 THEN text || ' rev2' ELSE text END AS text
               FROM b WHERE bkt >= 10)"""

  /** l..g CTE chain of the langBalance oracle, parameterized by budget —
    * per-language token counts, corrected isqrt quota, and the
    * largest-remainder division columns (totq/flr/rem/k/rnk). ONE builder
    * shared by c_lang_balance and c_balanced_sample so the quota
    * arithmetic cannot drift between the two faces.
    */
  private[operators] def langBalanceCtes(budget: Long,
                                         from: String = "documents"): String = s"""
        l AS (
          SELECT COALESCE(lang, '') AS lang, COUNT(*) AS n_docs,
                 CAST(SUM(COALESCE(CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT), 0)) AS BIGINT) AS n_tokens
          FROM $from GROUP BY 1),
        q0 AS (SELECT *, CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS g FROM l),
        qq AS (SELECT lang, n_docs, n_tokens,
                      CASE WHEN g * g > n_tokens THEN g - 1
                           WHEN (g + 1) * (g + 1) <= n_tokens THEN g + 1
                           ELSE g END AS quota
               FROM q0),
        t AS (SELECT *, SUM(quota) OVER () AS totq FROM qq),
        f AS (SELECT *,
                     CASE WHEN totq = 0 THEN 0
                          ELSE ($budget // totq) * quota + (($budget % totq) * quota) // totq END AS flr,
                     CASE WHEN totq = 0 THEN 0
                          ELSE (($budget % totq) * quota) % totq END AS rem
              FROM t),
        g AS (SELECT *, $budget - SUM(flr) OVER () AS k,
                     ROW_NUMBER() OVER (ORDER BY rem DESC, lang) AS rnk
              FROM f)"""

  /** w..sc CTE chain of the linear-score oracle — per-gram md5-60 bucket
    * rows (unigrams + bigrams, d=4096) for non-null-text docs. ONE
    * builder shared by c_quality_linear and c_quality_calibration so the
    * two faces can never drift (the lm-chain factoring precedent).
    */
  private def linearGramCtes: String = """
        w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
              FROM documents WHERE text IS NOT NULL),
        u AS (SELECT doc_id, unnest(ws) AS g FROM w),
        bx AS (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM w),
        bg AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS g FROM bx),
        gr AS (SELECT doc_id, g FROM u UNION ALL SELECT doc_id, g FROM bg),
        sc AS (SELECT doc_id,
                      CAST('0x' || substring(md5(g), 1, 15) AS BIGINT) % 4096 AS bkt
               FROM gr)"""

  /** DuckDB k-shingle list of `trim(text)` split on whitespace — the exact
    * mirror of [[MinHash.shingles]] including the <k full-join case.
    */
  private def shingleSql(k: Int): String =
    s"""CASE WHEN len(ws) < $k THEN [array_to_string(ws, ' ')]
       |  ELSE list_transform(range(1, len(ws) - ${k - 2}),
       |       i -> array_to_string(ws[i:i+${k - 1}], ' ')) END""".stripMargin

  /** DuckDB mirror of [[withSyntheticPii]] over `documents`. NOTE: the
    * driver re-applies stripMargin to the final oracle string, so no line
    * here may begin with `|` after trim — keep `||` at line ENDS.
    */
  private val PiiTextSql: String =
    """SELECT doc_id, source,
       substring(COALESCE(text, ''), 1, 40) ||
       CASE WHEN doc_id % 3 = 0
            THEN ' mail user' || CAST(doc_id AS VARCHAR) || '@ex' ||
                 CAST(doc_id % 7 AS VARCHAR) || '.org' ELSE '' END ||
       CASE WHEN doc_id % 5 = 0
            THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' ||
                 CAST(doc_id % 100 AS VARCHAR) ELSE '' END ||
       ' ref ' || CAST(doc_id AS VARCHAR) AS pii_text
    FROM documents"""

  /** The ONE DuckDB mirror of [[piiScan]], parameterized on the scanned
    * relation/column/group — both registered scans generate from it, so a
    * new pattern family lands in one place (previously two 17-line
    * near-identical blocks that could drift apart silently).
    */
  /** Shared DSIR oracle CTE chain: quality-pass target ids (rulesCteSql's
    * s/f CTEs), the unigram+bigram md5-60 % 4096 gram-bucket stream
    * (c_quality_linear's feature family), per-bucket raw/target counts,
    * and the fixed-point smoothed ratio — ending at `gwt(bucket,
    * n_target, n_raw, weight)` with `gsc(doc_id, bkt)` still in scope
    * for the scoring face.
    */
  private def dsirCtes: String = s"""${TextAnalysis.rulesCteSql()},
        qd AS (SELECT doc_id FROM f
               WHERE ok_words * ok_mean_len * ok_stopwords * ok_distinct = 1),
        gw AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
               FROM documents WHERE text IS NOT NULL),
        gu AS (SELECT doc_id, unnest(ws) AS g FROM gw),
        gbx AS (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM gw),
        gbg AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS g FROM gbx),
        ggr AS (SELECT doc_id, g FROM gu UNION ALL SELECT doc_id, g FROM gbg),
        gsc AS (SELECT doc_id,
                       CAST('0x' || substring(md5(g), 1, 15) AS BIGINT) % 4096 AS bkt
                FROM ggr),
        gnr AS (SELECT bkt, COUNT(*) AS n_raw FROM gsc GROUP BY bkt),
        gnt AS (SELECT gsc.bkt, COUNT(*) AS n_target
                FROM gsc JOIN qd USING (doc_id) GROUP BY gsc.bkt),
        gwt AS (SELECT COALESCE(gnr.bkt, gnt.bkt) AS bucket,
                       COALESCE(gnt.n_target, 0) AS n_target,
                       COALESCE(gnr.n_raw, 0) AS n_raw,
                       (COALESCE(gnt.n_target, 0) + 1) * 1000000 // (COALESCE(gnr.n_raw, 0) + 1) AS weight
                FROM gnr FULL OUTER JOIN gnt ON gnr.bkt = gnt.bkt)"""

  /** The c_lm_score oracle chain as reusable CTEs, ending at
    * `lsc(doc_id, n_bigrams, n_oov, ll_score)` with one row per document
    * (zeros for null-text docs) — shared by c_lm_score and the
    * perplexity-bucketing face so the two can never drift.
    */
  private def lmScoreCtes: String = s"""w AS (
          SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws,
                 CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 100 AS bkt
          FROM documents WHERE text IS NOT NULL
        ),
        sh AS (SELECT doc_id, bkt, ${shingleSql(2)} AS shs FROM w),
        e AS (SELECT doc_id, bkt, unnest(shs) AS bg FROM sh),
        pd AS (SELECT doc_id, bg, COUNT(*) AS c FROM e GROUP BY doc_id, bg),
        lm AS (SELECT bg, COUNT(*) AS n FROM e WHERE bkt >= 90 GROUP BY bg),
        sc AS (
          SELECT pd.doc_id,
                 CAST(SUM(pd.c) AS BIGINT) AS n_bigrams,
                 CAST(SUM(CASE WHEN lm.n IS NULL THEN pd.c ELSE 0 END) AS BIGINT) AS n_oov,
                 CAST(SUM(CASE WHEN lm.n IS NULL THEN 0
                           ELSE pd.c * length(bin(CAST(lm.n AS BIGINT))) END) AS BIGINT) AS ll_score
          FROM pd LEFT JOIN lm USING (bg) GROUP BY pd.doc_id
        ),
        lsc AS (
          SELECT d.doc_id,
                 COALESCE(sc.n_bigrams, 0) AS n_bigrams,
                 COALESCE(sc.n_oov, 0) AS n_oov,
                 COALESCE(sc.ll_score, 0) AS ll_score
          FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
        )"""

  private def pplBucketsOracleSql: String = s"""
      WITH $lmScoreCtes,
      ms AS (SELECT l.doc_id, d.source,
                    l.ll_score * 1000 // greatest(l.n_bigrams, 1) AS mscore
             FROM lsc l JOIN documents d ON l.doc_id = d.doc_id),
      hh AS (SELECT source, mscore, COUNT(*) AS c FROM ms GROUP BY source, mscore),
      cu AS (SELECT source, mscore,
                    SUM(c) OVER (PARTITION BY source ORDER BY mscore) AS cum,
                    SUM(c) OVER (PARTITION BY source) AS nn
             FROM hh),
      th AS (SELECT source,
                    MIN(CASE WHEN cum * 3 >= nn THEN mscore END) AS t33,
                    MIN(CASE WHEN cum * 3 >= nn * 2 THEN mscore END) AS t66
             FROM cu GROUP BY source)
      SELECT ms.doc_id, ms.source, CAST(ms.mscore AS BIGINT) AS mscore,
             CASE WHEN ms.mscore <= th.t33 THEN 'tail'
                  WHEN ms.mscore <= th.t66 THEN 'middle'
                  ELSE 'head' END AS ppl_bucket
      FROM ms JOIN th ON ms.source IS NOT DISTINCT FROM th.source
      ORDER BY ms.doc_id"""

  private def dsirWeightsOracleSql: String = s"""
      WITH $dsirCtes
      SELECT bucket, CAST(n_target AS BIGINT) AS n_target,
             CAST(n_raw AS BIGINT) AS n_raw, CAST(weight AS BIGINT) AS weight
      FROM gwt ORDER BY bucket"""

  private def dsirTopQOracleSql: String = s"""
      WITH $dsirCtes,
      ds AS (SELECT gsc.doc_id, COUNT(*) AS n_grams, SUM(gwt.weight) AS score
             FROM gsc JOIN gwt ON gsc.bkt = gwt.bucket GROUP BY gsc.doc_id)
      SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams, CAST(score AS BIGINT) AS score
      FROM ds ORDER BY score DESC, doc_id LIMIT 50"""

  private def piiScanOracleSql(from: String, strCol: String, groupCol: String): String = s"""
        WITH h AS (
          SELECT $groupCol,
                 CAST(len(regexp_extract_all($strCol, '$NumberRe')) AS BIGINT) AS n_num,
                 CAST(len(regexp_extract_all($strCol, '$EmailRe')) AS BIGINT) AS n_email,
                 CAST(len(regexp_extract_all($strCol, '$Ipv4Re')) AS BIGINT) AS n_ip,
                 CAST(len($strCol)
                   - len(regexp_replace($strCol, '$NumberRe', '#', 'g')) AS BIGINT) AS n_red
          FROM $from
        )
        SELECT $groupCol,
               COUNT(*) AS n_rows,
               CAST(SUM(n_num) AS BIGINT) AS n_number_hits,
               CAST(SUM(CASE WHEN n_num > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_number,
               CAST(SUM(n_email) AS BIGINT) AS n_email_hits,
               CAST(SUM(n_ip) AS BIGINT) AS n_ip_hits,
               CAST(SUM(n_red) AS BIGINT) AS n_chars_redacted
        FROM h GROUP BY $groupCol ORDER BY $groupCol"""

  /** The ONE decontamination oracle, shared verbatim by both registered
    * shapes (they are output-identical by construction): joins on raw
    * shingle STRINGS — the exact semantics, hash-free — so the compare
    * also guards the Spark side's 64-bit hashes against collisions.
    */
  private val DecontaminateOracleSql: String = s"""
        WITH w AS (
          SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws,
                 CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 100 AS bkt
          FROM documents WHERE text IS NOT NULL
        ),
        sh AS (SELECT doc_id, bkt, list_distinct(${shingleSql(5)}) AS shs FROM w),
        e AS (SELECT doc_id, bkt, unnest(shs) AS h FROM sh),
        t AS (SELECT DISTINCT h FROM e WHERE bkt >= 90)
        SELECT e.doc_id, COUNT(*) AS n_shared
        FROM e JOIN t USING (h)
        WHERE e.bkt < 80
        GROUP BY e.doc_id ORDER BY e.doc_id"""

  val queries: Seq[Q] = Seq(
    // GPT-3-style train/test decontamination: train docs sharing any
    // distinct 5-gram with the test split, counted. The Spark side joins
    // on native 64-bit shingle hashes (ShingleHash64).
    Q(
      "c_decontaminate",
      (s, dir) =>
        decontaminate(Tables(s, dir, "documents"), k = 5).orderBy("doc_id"),
      Some(DecontaminateOracleSql),
    ),
    // The two-stage bloom-prefiltered decontamination — same result, same
    // oracle, different physical shape (per-row sketch probe drops the
    // clean bulk before the semi-join). A distinct registered query so the
    // staged path stays correctness-gated and bench-visible.
    Q(
      "c_decontaminate_bloom",
      (s, dir) =>
        decontaminateBloomStaged(Tables(s, dir, "documents"), k = 5).orderBy("doc_id"),
      Some(DecontaminateOracleSql),
    ),
    // Gopher-style repetition signals per doc: word/3-gram duplication +
    // most-frequent-word count.
    Q(
      "c_repetition",
      (s, dir) =>
        repetitionSignals(Tables(s, dir, "documents")).orderBy("doc_id"),
      Some(s"""
        WITH w AS (
          SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
          FROM documents WHERE text IS NOT NULL
        ),
        g AS (SELECT doc_id, ws, ${shingleSql(3)} AS gs FROM w),
        base AS (
          SELECT doc_id,
                 CAST(len(ws) AS BIGINT) AS n_words,
                 CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct_words,
                 CAST(len(gs) AS BIGINT) AS n_grams,
                 CAST(len(list_distinct(gs)) AS BIGINT) AS n_distinct_grams
          FROM g
        ),
        t AS (SELECT doc_id, w, COUNT(*) AS c
              FROM (SELECT doc_id, unnest(ws) AS w FROM w) GROUP BY doc_id, w),
        tm AS (SELECT doc_id, MAX(c) AS top_word_n FROM t GROUP BY doc_id)
        SELECT base.*, tm.top_word_n
        FROM base JOIN tm USING (doc_id) ORDER BY doc_id"""),
    ),
    // Concat-and-chunk sequence packing at maxLen=512: the distributed
    // two-level cumsum must reproduce the oracle's naive global window
    // exactly (same start offsets → same seq assignment).
    Q(
      "c_pack_sequences",
      (s, dir) =>
        packSequences(Tables(s, dir, "documents"), maxLen = 512).orderBy("doc_id"),
      Some("""
        WITH t AS (
          SELECT doc_id,
                 COALESCE(CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT), 0) AS n
          FROM documents
        ),
        c AS (
          SELECT doc_id, n,
                 COALESCE(SUM(n) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
          FROM t
        )
        SELECT doc_id, n AS n_tokens,
               CAST(s // 512 AS BIGINT) AS seq_id,
               CAST(s % 512 AS BIGINT) AS seq_offset
        FROM c ORDER BY doc_id"""),
    ),
    // Per-doc overlapping chunking (size 32, stride 24) — the RAG-ingest
    // face: map-only bounded explode, chunk content pinned by md5.
    Q(
      "c_chunk_docs",
      (s, dir) =>
        chunkDocs(Tables(s, dir, "documents"), size = 32, stride = 24)
          .orderBy("doc_id", "chunk_id"),
      Some("""
        WITH w AS (
          SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
          FROM documents WHERE text IS NOT NULL
        ),
        c AS (SELECT doc_id, ws, unnest(generate_series(0, (len(ws) - 1) // 24)) AS chunk_id
              FROM w)
        SELECT doc_id,
               CAST(chunk_id AS BIGINT) AS chunk_id,
               CAST(chunk_id * 24 AS BIGINT) AS start_tok,
               CAST(least(32, len(ws) - chunk_id * 24) AS BIGINT) AS n_toks,
               md5(array_to_string(ws[chunk_id * 24 + 1 : chunk_id * 24 + 32], ' ')) AS chunk_hash
        FROM c ORDER BY doc_id, chunk_id"""),
    ),
    // Token-budget subsampling: the ~12k-token hash-order prefix of the
    // ~27k-token sf corpus — the deterministic "give me B tokens" slice.
    Q(
      "c_token_budget",
      (s, dir) =>
        tokenBudgetSample(Tables(s, dir, "documents"), budget = 12000)
          .orderBy("doc_id"),
      Some("""
        WITH t AS (
          SELECT doc_id,
                 COALESCE(CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT), 0) AS n,
                 md5(CAST(doc_id AS VARCHAR)) AS h
          FROM documents
        ),
        c AS (SELECT doc_id, n, SUM(n) OVER (ORDER BY h, doc_id) AS cum FROM t)
        SELECT doc_id, n AS n_tokens, CAST(cum AS BIGINT) AS cum_tokens
        FROM c WHERE cum <= 12000 ORDER BY doc_id"""),
    ),
    // Sequence packing denominated in SUBWORD tokens: the same two-level
    // cumsum, but the per-doc count is the greedy BPE-lite tokenizer
    // (frozen fixture vocab) — the oracle chains the recursive-CTE
    // tokenizer into the naive global window, so the pluggable-count
    // plumbing is verified end-to-end, not just unit-specced.
    Q(
      "c_pack_bpe",
      (s, dir) =>
        packSequences(Tables(s, dir, "documents"), maxLen = 256,
          countOf = c => TextAnalysis.bpeTokenCount(c)).orderBy("doc_id"),
      Some(s"""
        WITH RECURSIVE vocab(t) AS (SELECT unnest([${TextAnalysis.bpeVocabSqlList}])),
        wd AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
               FROM documents WHERE text IS NOT NULL),
        r AS (
          SELECT doc_id, w, 1 AS pos, 0 AS cnt FROM wd
          UNION ALL
          SELECT doc_id, w,
                 pos + COALESCE((SELECT MAX(length(t)) FROM vocab
                                 WHERE substr(w, pos, length(t)) = t), 1),
                 cnt + 1
          FROM r WHERE pos <= length(w)
        ),
        f AS (SELECT doc_id, cnt FROM r WHERE pos > length(w)),
        bt AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n FROM f GROUP BY doc_id),
        t AS (SELECT d.doc_id, COALESCE(bt.n, 0) AS n
              FROM documents d LEFT JOIN bt ON d.doc_id = bt.doc_id),
        c AS (
          SELECT doc_id, n,
                 COALESCE(SUM(n) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
          FROM t
        )
        SELECT doc_id, n AS n_tokens,
               CAST(s // 256 AS BIGINT) AS seq_id,
               CAST(s % 256 AS BIGINT) AS seq_offset
        FROM c ORDER BY doc_id"""),
    ),
    // Frozen linear quality scoring over hashed unigram+bigram features —
    // the whole mechanism (grams, md5-60 buckets, weight formula, sum) is
    // in the hash; keep = score >= 0 is a trivial filter on top.
    Q(
      "c_quality_linear",
      (s, dir) =>
        linearScore(Tables(s, dir, "documents")).orderBy("doc_id"),
      Some(s"""
        WITH $linearGramCtes
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM((bkt * 2654435761) % 1001 - 500) AS BIGINT) AS score
        FROM sc GROUP BY doc_id ORDER BY doc_id"""),
    ),
    // The trained-weights face: same scorer, weights from a (bucket,
    // weight) TABLE broadcast as a dense array instead of the synthetic
    // hash weights — proving the weightOf hook end-to-end. The fixture
    // table covers every 3rd bucket (so the missing-bucket→0 path is
    // exercised non-vacuously) with weight (bucket·37) % 201 − 100,
    // mirrored as a CASE in the oracle.
    Q(
      "c_quality_linear_table",
      (s, dir) => {
        val weights = s.range(0, 4096).filter(col("id") % 3 === 0)
          .select(col("id").as("bucket"),
            ((col("id") * 37) % 201 - 100).as("weight"))
        linearScoreTable(Tables(s, dir, "documents"), weights).orderBy("doc_id")
      },
      Some("""
        WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
                   FROM documents WHERE text IS NOT NULL),
        u AS (SELECT doc_id, unnest(ws) AS g FROM w),
        bx AS (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM w),
        bg AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS g FROM bx),
        gr AS (SELECT doc_id, g FROM u UNION ALL SELECT doc_id, g FROM bg),
        sc AS (SELECT doc_id,
                      CAST('0x' || substring(md5(g), 1, 15) AS BIGINT) % 4096 AS bkt
               FROM gr)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(CASE WHEN bkt % 3 = 0 THEN (bkt * 37) % 201 - 100 ELSE 0 END) AS BIGINT) AS score
        FROM sc GROUP BY doc_id ORDER BY doc_id"""),
    ),
    // DSIR importance weights (Xie et al. 2023): per hashed-gram bucket,
    // the fixed-point smoothed target/raw frequency ratio. Target = the
    // quality-rules pass set, raw = the whole corpus — the "select raw
    // web text that looks like the curated set" shape.
    Q(
      "c_dsir_weights",
      (s, dir) => {
        // r21: target = a predicate-selected subset of the same corpus, so
        // the fused single-pass face applies (row-identical, see
        // dsirWeightsFlagged doc)
        val docs = Tables(s, dir, "documents")
        dsirWeightsFlagged(docs, TextAnalysis.qualityPass(col("text")))
          .orderBy("bucket")
      },
      Some(dsirWeightsOracleSql),
    ),
    // The DSIR selection face: every doc scored by summed bucket weights,
    // top-50 kept (deterministic top-quantile cut, doc_id tie-break).
    Q(
      "c_dsir_topq",
      (s, dir) => {
        // r21: fused weights (1 tagged gram pass) + 1 score pass = 2 gram
        // explodes instead of the previous raw + target + score ≈ 2.5; the
        // d-row weight table rides a broadcast, so nothing re-evaluates.
        val docs = Tables(s, dir, "documents")
        val w = dsirWeightsFlagged(docs, TextAnalysis.qualityPass(col("text")))
        dsirTopQ(docs, w, n = 50)
      },
      Some(dsirTopQOracleSql),
    ),
    // Corpus snapshot diff: v1 = hash buckets <90, v2 = buckets >=10 with
    // buckets 40-49 rewritten — so all four statuses (added/removed/
    // changed/unchanged) are exercised non-vacuously. One id-keyed
    // full-outer join over (id, fingerprint) projections.
    Q(
      "c_corpus_diff",
      (s, dir) => {
        val (v1, v2) = snapshotV1V2(Tables(s, dir, "documents"))
        corpusDiff(v1, v2).orderBy("doc_id")
      },
      Some(s"""
        WITH $snapshotCtes,
        d1 AS (SELECT doc_id, md5(COALESCE(text, '')) AS h FROM v1),
        d2 AS (SELECT doc_id, md5(COALESCE(text, '')) AS h FROM v2)
        SELECT COALESCE(d1.doc_id, d2.doc_id) AS doc_id,
               CASE WHEN d1.doc_id IS NULL THEN 'added'
                    WHEN d2.doc_id IS NULL THEN 'removed'
                    WHEN d1.h = d2.h THEN 'unchanged'
                    ELSE 'changed' END AS status
        FROM d1 FULL OUTER JOIN d2 ON d1.doc_id = d2.doc_id
        ORDER BY doc_id"""),
    ),
    // EXACT stratified split: per source, hash-rank order, first 10% to
    // test and next 10% to valid BY COUNT (⌊n/10⌋ each) — the oracle
    // replays the rank as a window row_number so rank, thresholds, and
    // assignments are all in the hash.
    Q(
      "c_split_stratified",
      (s, dir) =>
        stratifiedSplit(Tables(s, dir, "documents"), testPm = 100, validPm = 100)
          .orderBy("doc_id"),
      Some("""
        WITH r AS (
          SELECT doc_id, COALESCE(source, '') AS source,
                 ROW_NUMBER() OVER (PARTITION BY COALESCE(source, '')
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS rnk,
                 COUNT(*) OVER (PARTITION BY COALESCE(source, '')) AS n
          FROM documents)
        SELECT doc_id, source, CAST(rnk AS BIGINT) AS rnk,
               CASE WHEN rnk < n * 100 // 1000 THEN 'test'
                    WHEN rnk < n * 100 // 1000 + n * 100 // 1000 THEN 'valid'
                    ELSE 'train' END AS split
        FROM r ORDER BY doc_id"""),
    ),
    // Vocabulary drift between the SAME two synthetic snapshots
    // c_corpus_diff compares (one versioning fixture, two faces): top-30
    // terms by |count delta|, deterministic tie-break.
    Q(
      "c_vocab_drift",
      (s, dir) => {
        val (v1, v2) = snapshotV1V2(Tables(s, dir, "documents"))
        vocabDrift(v1, v2, k = 30)
      },
      Some(s"""
        WITH $snapshotCtes,
        c1 AS (SELECT term, COUNT(*) AS n1 FROM (
                 SELECT unnest(string_split_regex(trim(text), '\\s+')) AS term
                 FROM v1 WHERE text IS NOT NULL) GROUP BY term),
        c2 AS (SELECT term, COUNT(*) AS n2 FROM (
                 SELECT unnest(string_split_regex(trim(text), '\\s+')) AS term
                 FROM v2 WHERE text IS NOT NULL) GROUP BY term)
        SELECT COALESCE(c1.term, c2.term) AS term,
               CAST(COALESCE(n1, 0) AS BIGINT) AS n_v1,
               CAST(COALESCE(n2, 0) AS BIGINT) AS n_v2,
               CAST(COALESCE(n2, 0) - COALESCE(n1, 0) AS BIGINT) AS delta
        FROM c1 FULL OUTER JOIN c2 ON c1.term = c2.term
        WHERE COALESCE(n1, 0) <> COALESCE(n2, 0)
        ORDER BY abs(COALESCE(n2, 0) - COALESCE(n1, 0)) DESC, term
        LIMIT 30"""),
    ),
    // α=1/2 temperature-balanced language quotas under a 100k-token
    // budget (> the sf corpus total — the oversampling arm is exercised,
    // not just the down-sampling one). isqrt correction and
    // largest-remainder division mirrored expression-for-expression.
    Q(
      "c_lang_balance",
      (s, dir) =>
        langBalance(Tables(s, dir, "documents"), budget = 100000L)
          .orderBy("lang"),
      Some(s"""
        WITH ${langBalanceCtes(100000L)}
        SELECT lang, n_docs, n_tokens, CAST(quota AS BIGINT) AS quota,
               CAST(CASE WHEN totq = 0 THEN 0
                         ELSE flr + CASE WHEN rnk <= k THEN 1 ELSE 0 END END AS BIGINT) AS alloc
        FROM g ORDER BY lang"""),
    ),
    // The LLaMA-style epochs table at a budget 2-4x the sf0.01 corpus:
    // upsampled languages read epochs_milli > 1000 (repeating data),
    // the head language < its quota share — both regimes live. Shares
    // the c_lang_balance CTE chain verbatim (same 100k budget).
    Q(
      "c_source_epochs",
      (s, dir) =>
        sourceEpochs(Tables(s, dir, "documents"), budget = 100000L)
          .orderBy("lang"),
      Some(s"""
        WITH ${langBalanceCtes(100000L)},
        al AS (SELECT lang, n_tokens,
                      CAST(CASE WHEN totq = 0 THEN 0
                           ELSE flr + CASE WHEN rnk <= k THEN 1 ELSE 0 END END AS BIGINT) AS alloc
               FROM g)
        SELECT lang, n_tokens, alloc,
               CAST(CASE WHEN n_tokens = 0 THEN 0 ELSE alloc // n_tokens END AS BIGINT) AS full_epochs,
               CAST(CASE WHEN n_tokens = 0 THEN 0 ELSE alloc % n_tokens END AS BIGINT) AS rem_tokens,
               CAST(CASE WHEN n_tokens = 0 THEN 0
                    ELSE (alloc // n_tokens) * 1000 + ((alloc % n_tokens) * 1000) // n_tokens
                    END AS BIGINT) AS epochs_milli
        FROM al ORDER BY lang"""),
    ),
    // The MATERIALIZED balanced corpus: langBalance quotas at a 9000-token
    // budget (≈⅓ of the corpus — every language gets cut, the admission
    // logic is non-vacuous) applied as per-language hash-order token
    // prefixes. The oracle chains the SHARED langBalance CTEs into the
    // per-language cumsum — quotas and admission under one hash.
    Q(
      "c_balanced_sample",
      (s, dir) => {
        import s.implicits._
        val docs = Tables(s, dir, "documents")
        val quotas = langBalance(docs, budget = 9000L)
          .select("lang", "alloc").as[(String, Long)].collect().toMap
        sourceBudgetSample(docs, quotas, srcCol = "lang").orderBy("doc_id")
      },
      Some(s"""
        WITH ${langBalanceCtes(9000L)},
        a AS (SELECT lang,
                     CAST(CASE WHEN totq = 0 THEN 0
                               ELSE flr + CASE WHEN rnk <= k THEN 1 ELSE 0 END END AS BIGINT) AS alloc
              FROM g),
        d AS (SELECT doc_id, COALESCE(lang, '') AS lang,
                     COALESCE(CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT), 0) AS n,
                     md5(CAST(doc_id AS VARCHAR)) AS h
              FROM documents),
        c AS (SELECT doc_id, lang, n,
                     SUM(n) OVER (PARTITION BY lang ORDER BY h, doc_id) AS cum
              FROM d)
        SELECT c.doc_id, c.lang, c.n AS n_tokens, CAST(c.cum AS BIGINT) AS cum_tokens
        FROM c JOIN a USING (lang) WHERE c.cum <= a.alloc ORDER BY doc_id"""),
    ),
    // Shingle novelty of the SAME v1/v2 snapshot fixture the diff/drift
    // faces compare (one versioning fixture, three faces): one integer
    // row — v2 distinct 5-shingles, never-seen count, seen count.
    Q(
      "c_novelty_stats",
      (s, dir) => {
        val (v1, v2) = snapshotV1V2(Tables(s, dir, "documents"))
        noveltyStats(v1, v2, k = 5)
      },
      Some(s"""
        WITH $snapshotCtes,
        w1 AS (SELECT string_split_regex(trim(text), '\\s+') AS ws FROM v1 WHERE text IS NOT NULL),
        w2 AS (SELECT string_split_regex(trim(text), '\\s+') AS ws FROM v2 WHERE text IS NOT NULL),
        e1 AS (SELECT DISTINCT unnest(shs) AS g FROM (SELECT ${shingleSql(5)} AS shs FROM w1)),
        e2 AS (SELECT DISTINCT unnest(shs) AS g FROM (SELECT ${shingleSql(5)} AS shs FROM w2))
        SELECT CAST(COUNT(*) AS BIGINT) AS n_shingles,
               CAST(COUNT(*) - COUNT(e1.g) AS BIGINT) AS n_new,
               CAST(COUNT(e1.g) AS BIGINT) AS n_seen
        FROM e2 LEFT JOIN e1 ON e2.g = e1.g"""),
    ),
    // Per-benchmark contamination report: the test split partitioned into
    // three named synthetic benchmarks (buckets 90-92 / 93-95 / 96-99);
    // per benchmark, contaminated-train-doc and shared-shingle counts.
    Q(
      "c_decon_report",
      (s, dir) => {
        val benchOf: Column => Column = id => {
          val b = TextAnalysis.splitBucket(id)
          when(b >= 90 && b <= 92, "bench_a")
            .when(b >= 93 && b <= 95, "bench_b")
            .when(b >= 96, "bench_c")
        }
        deconReport(Tables(s, dir, "documents"), benchOf).orderBy("benchmark")
      },
      Some(s"""
        WITH b0 AS (
          SELECT doc_id, text,
                 CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 100 AS bkt
          FROM documents),
        lbl AS (SELECT doc_id, text, bkt,
                       CASE WHEN bkt BETWEEN 90 AND 92 THEN 'bench_a'
                            WHEN bkt BETWEEN 93 AND 95 THEN 'bench_b'
                            WHEN bkt >= 96 THEN 'bench_c' END AS benchmark
                FROM b0),
        w AS (SELECT doc_id, benchmark, bkt, string_split_regex(trim(text), '\\s+') AS ws
              FROM lbl WHERE text IS NOT NULL),
        sh AS (SELECT doc_id, benchmark, bkt, ${shingleSql(5)} AS shs FROM w),
        eb AS (SELECT DISTINCT benchmark, unnest(shs) AS g FROM sh WHERE benchmark IS NOT NULL),
        et AS (SELECT DISTINCT doc_id, unnest(shs) AS g FROM sh
               WHERE benchmark IS NULL AND bkt < 80),
        seed AS (SELECT benchmark, COUNT(*) AS n_docs_bench FROM lbl
                 WHERE benchmark IS NOT NULL GROUP BY benchmark),
        shared AS (SELECT eb.benchmark,
                          COUNT(DISTINCT et.doc_id) AS d, COUNT(DISTINCT eb.g) AS s
                   FROM eb JOIN et ON eb.g = et.g GROUP BY eb.benchmark)
        SELECT seed.benchmark, seed.n_docs_bench,
               CAST(COALESCE(shared.d, 0) AS BIGINT) AS n_contaminated_train_docs,
               CAST(COALESCE(shared.s, 0) AS BIGINT) AS n_shared_shingles
        FROM seed LEFT JOIN shared USING (benchmark)
        ORDER BY benchmark"""),
    ),
    // No-split greedy packing at maxLen=64 over 16 hash buckets (64, not
    // 256: the sf corpus's ~55-token docs must sometimes SHARE a bin and
    // sometimes overflow one — both branches non-vacuous). The oracle
    // replays the inherently-sequential reset-cumsum as a recursive CTE
    // stepping doc-by-doc per bucket.
    Q(
      "c_pack_greedy",
      (s, dir) =>
        packDocsGreedy(Tables(s, dir, "documents"), maxLen = 64L, nBuckets = 16)
          .orderBy("doc_id"),
      Some(s"""
        WITH RECURSIVE $packGreedyCtes
        SELECT doc_id, bucket, bin, n AS n_tokens, CAST(fill AS BIGINT) AS fill
        FROM rec ORDER BY doc_id"""),
    ),
    // Packing-efficiency report over the greedy bins: per bucket, bins /
    // docs / tokens / padding / oversize-bin count and the milli-exact
    // fill rate — the artifact that tunes maxLen and arbitrates
    // split-packing vs whole-doc packing (padding is wasted training
    // FLOPs; oversize bins are docs a no-split packer cannot place).
    // Shares the ENTIRE recursive replay with c_pack_greedy's oracle, so
    // the two can never drift.
    Q(
      "c_pack_stats",
      (s, dir) =>
        packStats(Tables(s, dir, "documents"), maxLen = 64L, nBuckets = 16)
          .orderBy("bucket"),
      Some(s"""
        WITH RECURSIVE $packGreedyCtes,
        b AS (SELECT bucket, bin, COUNT(*) AS bdocs, SUM(n) AS btok, MAX(fill) AS bfill
              FROM rec GROUP BY bucket, bin)
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_bins,
               CAST(SUM(bdocs) AS BIGINT) AS n_docs,
               CAST(SUM(btok) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN 64 - bfill > 0 THEN 64 - bfill ELSE 0 END) AS BIGINT) AS n_pad,
               CAST(SUM(CASE WHEN bfill > 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_oversize_bins,
               CAST((SUM(btok) * 1000) // (COUNT(*) * 64) AS BIGINT) AS fill_millis
        FROM b GROUP BY bucket ORDER BY bucket"""),
    ),
    // Scorer-vs-rules calibration: per global linear-score tercile, the
    // Gopher-rules pass count. Oracle chains the SHARED linear-gram CTEs
    // into the histogram-tercile cut and the rules CTE — scorer,
    // thresholds, and gate all under one hash.
    Q(
      "c_quality_calibration",
      (s, dir) =>
        qualityCalibration(Tables(s, dir, "documents")),
      Some(s"""
        WITH $linearGramCtes,
        d AS (SELECT doc_id, CAST(SUM((bkt * 2654435761) % 1001 - 500) AS BIGINT) AS score
              FROM sc GROUP BY doc_id),
        h AS (SELECT score, COUNT(*) AS c FROM d GROUP BY score),
        cq AS (SELECT score, SUM(c) OVER (ORDER BY score) AS cum, SUM(c) OVER () AS nn FROM h),
        t AS (SELECT MIN(CASE WHEN cum * 3 >= nn THEN score END) AS t33,
                     MIN(CASE WHEN cum * 3 >= nn * 2 THEN score END) AS t66 FROM cq),
        ${TextAnalysis.rulesCteSql()}
        SELECT CASE WHEN d.score <= t.t33 THEN 'tail'
                    WHEN d.score <= t.t66 THEN 'middle' ELSE 'head' END AS score_bucket,
               COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN f.ok_words * f.ok_mean_len * f.ok_stopwords * f.ok_distinct = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
        FROM d CROSS JOIN t JOIN f ON d.doc_id = f.doc_id
        GROUP BY 1 ORDER BY score_bucket"""),
    ),
    // Cross-source shingle-overlap matrix (5-shingles, sparse pairs).
    // The oracle joins raw shingle strings — hash-free exact semantics,
    // so the compare guards ShingleHash64 against collisions too.
    Q(
      "c_source_overlap",
      (s, dir) =>
        sourceOverlap(Tables(s, dir, "documents"), k = 5)
          .orderBy("source_a", "source_b"),
      Some(s"""
        WITH w AS (SELECT COALESCE(source, '') AS src, string_split_regex(trim(text), '\\s+') AS ws
                   FROM documents WHERE text IS NOT NULL),
        sh AS (SELECT src, ${shingleSql(5)} AS shs FROM w),
        e AS (SELECT DISTINCT src, unnest(shs) AS g FROM sh)
        SELECT a.src AS source_a, b.src AS source_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared_shingles
        FROM e a JOIN e b ON a.g = b.g AND a.src < b.src
        GROUP BY 1, 2 ORDER BY source_a, source_b"""),
    ),
    // The packed training shards themselves: one row per 256-subword
    // sequence with the token ids in stream order. The oracle rebuilds
    // the whole chain — recursive-CTE tokenizer → per-doc token ordinals
    // → global cumsum offsets → per-sequence ordered aggregation — so
    // tokenization, ordering, and chunk boundaries are all in the hash.
    Q(
      "c_pack_tokens",
      (s, dir) =>
        packTokens(Tables(s, dir, "documents"), maxLen = 256).orderBy("seq_id"),
      Some(s"""
        WITH RECURSIVE vocab AS (
          SELECT unnest([${TextAnalysis.bpeVocabSqlList}]) AS t,
                 unnest(range(1, ${TextAnalysis.BpeVocab.length + 1})) AS id),
        w AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
              FROM documents WHERE text IS NOT NULL),
        x AS (SELECT doc_id, unnest(range(1, len(ws) + 1)) AS wpos, ws FROM w),
        wd AS (SELECT doc_id, wpos, ws[wpos] AS wrd FROM x),
        r AS (
          SELECT doc_id, wpos, wrd, 1 AS pos, 0 AS step, NULL::BIGINT AS tid FROM wd
          UNION ALL
          SELECT doc_id, wpos, wrd,
                 pos + COALESCE((SELECT length(t) FROM vocab
                                 WHERE substr(wrd, pos, length(t)) = t
                                 ORDER BY length(t) DESC LIMIT 1), 1),
                 step + 1,
                 COALESCE((SELECT id FROM vocab
                           WHERE substr(wrd, pos, length(t)) = t
                           ORDER BY length(t) DESC LIMIT 1), 0)
          FROM r WHERE pos <= length(wrd)
        ),
        e AS (SELECT doc_id, wpos, step, tid FROM r WHERE step >= 1),
        o AS (SELECT doc_id, tid,
                     row_number() OVER (PARTITION BY doc_id ORDER BY wpos, step) - 1 AS ord
              FROM e),
        bt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY doc_id),
        t AS (SELECT d.doc_id, COALESCE(bt.n, 0) AS n
              FROM documents d LEFT JOIN bt ON d.doc_id = bt.doc_id),
        c AS (SELECT doc_id,
                     COALESCE(SUM(n) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
              FROM t),
        g AS (SELECT o.doc_id, o.tid, c.s + o.ord AS gpos
              FROM o JOIN c ON o.doc_id = c.doc_id)
        SELECT CAST(gpos // 256 AS BIGINT) AS seq_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               string_agg(CAST(tid AS VARCHAR), ',' ORDER BY gpos) AS ids
        FROM g GROUP BY 1 ORDER BY seq_id"""),
    ),
    // Deterministic per-source quota: at most 10 docs per source in
    // reproducible hash order.
    Q(
      "c_source_cap",
      (s, dir) =>
        capPerSource(Tables(s, dir, "documents"), cap = 10).orderBy("source", "rn"),
      Some("""
        WITH r AS (
          SELECT doc_id, source,
                 row_number() OVER (PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
          FROM documents
        )
        SELECT doc_id, source, CAST(rn AS INTEGER) AS rn
        FROM r WHERE rn <= 10 ORDER BY source, rn"""),
    ),
    // Dataset mixing: deterministic weighted per-source sampling (src0
    // kept at 80%, src1 at 50%, src2 at 10%, everything else 30%) — the
    // hash-bucket mixture knob, fully oracled.
    Q(
      "c_source_sample",
      (s, dir) =>
        sampleBySourceWeights(Tables(s, dir, "documents"),
          Map("src0" -> 80, "src1" -> 50, "src2" -> 10), defaultPct = 30)
          .select(col("doc_id"), col("source"))
          .orderBy("doc_id"),
      Some("""
        SELECT doc_id, source FROM documents
        WHERE CAST('0x' || substring(md5(CAST(len(COALESCE(source, '')) AS VARCHAR) || ':' || COALESCE(source, '') || ':' || COALESCE(CAST(doc_id AS VARCHAR), '')), 1, 4) AS BIGINT) % 100 <
              CASE source WHEN 'src0' THEN 80 WHEN 'src1' THEN 50 WHEN 'src2' THEN 10 ELSE 30 END
        ORDER BY doc_id"""),
    ),
    // The COMPOSED curation pipeline — what a training-data user actually
    // runs, as one registered query: quality gate (token floor + language
    // score) → exact-dedup canonical keep → deterministic weighted mixing
    // → per-source stats. Every stage is an already-oracled operator; the
    // composition pins that they chain without seams (the oracle rebuilds
    // the same four stages in SQL). Scale shape: narrow filters → one
    // fingerprint-keyed window → the mixing filter (map-only) → one
    // final tiny aggregation.
    Q(
      "c_pipeline_e2e",
      (s, dir) => {
        val w = Window.partitionBy(md5(col("text")))
        val gated = Tables(s, dir, "documents")
          .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
          .filter(col("text").isNotNull && col("n_tokens") >= 5 &&
            TextAnalysis.langScore(col("text"), "en") >= 2)
        val deduped = gated
          .withColumn("__canon", min("doc_id").over(w))
          .filter(col("doc_id") === col("__canon"))
        sampleBySourceWeights(deduped,
          Map("src0" -> 80, "src1" -> 50, "src2" -> 10), defaultPct = 30)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
          .orderBy("source")
      },
      Some("""
        WITH g AS (
          SELECT doc_id, source, text,
                 CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
          FROM documents
          WHERE text IS NOT NULL
            AND len(string_split_regex(trim(text), '\s+')) >= 5
            AND ((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ''))) // 5 +
                 (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' and ', ''))) // 5 +
                 (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' of ', ''))) // 4 +
                 (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' to ', ''))) // 4 +
                 (length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' is ', ''))) // 4) >= 2
        ),
        dd AS (SELECT g.*, MIN(doc_id) OVER (PARTITION BY md5(text)) AS canon FROM g),
        k AS (SELECT * FROM dd WHERE doc_id = canon),
        m AS (
          SELECT * FROM k
          WHERE CAST('0x' || substring(md5(CAST(len(COALESCE(source, '')) AS VARCHAR) || ':' || COALESCE(source, '') || ':' || COALESCE(CAST(doc_id AS VARCHAR), '')), 1, 4) AS BIGINT) % 100 <
                CASE source WHEN 'src0' THEN 80 WHEN 'src1' THEN 50 WHEN 'src2' THEN 10 ELSE 30 END
        )
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
        FROM m GROUP BY source ORDER BY source"""),
    ),
    // PII scan over event props: per-event-type pattern hit counts +
    // redaction size. The number-run counts are non-zero on this corpus,
    // so the regex and global-replace parity is exercised by real data.
    Q(
      "c_pii_scan",
      (s, dir) =>
        piiScan(Tables(s, dir, "events"), "props", "event_type").orderBy("event_type"),
      Some(piiScanOracleSql(from = "events", strCol = "COALESCE(props, '')",
        groupCol = "event_type")),
    ),
    // PII scan over the synthetic PII column: unlike c_pii_scan (whose
    // corpus has no emails/IPs), every pattern family is non-zero here, so
    // the email and IPv4 automata parity is exercised by data, not
    // vacuously green.
    Q(
      "c_pii_scan_syn",
      (s, dir) =>
        piiScan(withSyntheticPii(Tables(s, dir, "documents")), "pii_text", "source")
          .orderBy("source"),
      Some(piiScanOracleSql(from = s"($PiiTextSql)", strCol = "pii_text",
        groupCol = "source")),
    ),
    // The redaction OUTPUT itself, row by row — the doc-level transform a
    // real pipeline ships, oracled on the text (not just counts).
    Q(
      "c_pii_redact",
      (s, dir) =>
        piiRedact(withSyntheticPii(Tables(s, dir, "documents")), "pii_text", "doc_id")
          .orderBy("doc_id"),
      Some(s"""
        WITH p AS ($PiiTextSql)
        SELECT doc_id,
               regexp_replace(regexp_replace(regexp_replace(pii_text,
                 '$EmailRe', '<EMAIL>', 'g'), '$Ipv4Re', '<IP>', 'g'),
                 '$NumberRe', '#', 'g') AS red_text
        FROM p ORDER BY doc_id"""),
    ),
    // Reproducible global shuffle: the first 50 docs in md5 order — a
    // deterministic held-out draw.
    Q(
      "c_shuffle_sample",
      (s, dir) =>
        shuffleSample(Tables(s, dir, "documents"), n = 50).orderBy("rk"),
      Some("""
        SELECT CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk,
               doc_id
        FROM documents
        ORDER BY rk LIMIT 50"""),
    ),
    // CCNet-style LM likelihood scoring: integer-exact bigram log₂
    // surrogate against the 10% held-out-bucket LM, with OOV mass. The
    // oracle joins on raw bigram strings (hash-free), guarding the Spark
    // side's ShingleHash64 keys against collisions.
    Q(
      "c_lm_score",
      (s, dir) => lmScore(Tables(s, dir, "documents")).orderBy("doc_id"),
      Some(s"""
        WITH $lmScoreCtes
        SELECT doc_id, n_bigrams, n_oov, ll_score
        FROM lsc ORDER BY doc_id"""),
    ),
    // CCNet-style perplexity terciles per source (head/middle/tail on the
    // fixed-point length-normalized LM likelihood) — the bucketing that
    // decides which slice of web text a pretraining run consumes.
    Q(
      "c_ppl_buckets",
      (s, dir) => pplBuckets(Tables(s, dir, "documents")).orderBy("doc_id"),
      Some(pplBucketsOracleSql),
    ),
    // Deterministic 8-shard assignment with two-level within-shard ranks;
    // the oracle is the naive per-shard window the distributed shape must
    // reproduce exactly.
    Q(
      "c_shard_assign",
      (s, dir) => shardAssign(Tables(s, dir, "documents"), nShards = 8).orderBy("doc_id"),
      Some("""
        WITH k AS (
          SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS rk,
                 CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 8 AS INTEGER) AS shard
          FROM documents
        )
        SELECT doc_id, shard,
               CAST(row_number() OVER (PARTITION BY shard ORDER BY rk, doc_id) - 1 AS BIGINT) AS pos
        FROM k ORDER BY doc_id"""),
    ),
    // Temperature-style mixture capping (α = 1/2): each source capped at
    // 3·⌊√n⌋ docs in reproducible hash order — at the uniform 25-doc
    // sources this keeps 15 per source, so the sub-linear quota is
    // exercised non-vacuously.
    Q(
      "c_temperature_cap",
      (s, dir) =>
        capPerSourceSqrt(Tables(s, dir, "documents"), c = 3).orderBy("source", "rn"),
      Some("""
        WITH r AS (
          SELECT doc_id, source,
                 row_number() OVER (PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
          FROM documents
        ),
        cp AS (SELECT source,
                      CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) * 3 AS cap
               FROM documents GROUP BY source)
        SELECT r.doc_id, r.source, CAST(r.rn AS INTEGER) AS rn
        FROM r JOIN cp ON r.source IS NOT DISTINCT FROM cp.source
        WHERE r.rn <= cp.cap ORDER BY r.source, r.rn"""),
    ),
    // Domain-level URL provenance audit over the synthetic URL fixture
    // (same *_syn convention as c_pii_scan_syn: the raw corpus has no
    // URLs, so the fixture keeps every arm non-vacuous and fully oracled).
    Q(
      "c_url_stats_syn",
      (s, dir) =>
        urlDomainStats(withSyntheticUrls(Tables(s, dir, "documents"))).orderBy("domain"),
      Some(s"""
        WITH $synthUrlCte,
        e AS (SELECT doc_id,
                     unnest(regexp_extract_all(url_text, 'https?://[A-Za-z0-9]([A-Za-z0-9.-]*[A-Za-z0-9])?(/[A-Za-z0-9._/-]*)?', 0)) AS uu
              FROM u),
        d AS (SELECT doc_id, lower(regexp_extract(uu, 'https?://([A-Za-z0-9]([A-Za-z0-9.-]*[A-Za-z0-9])?)', 1)) AS domain FROM e)
        SELECT domain,
               CAST(COUNT(*) AS BIGINT) AS n_urls,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM d GROUP BY domain ORDER BY domain"""),
    ),
    // Crawl-stage URL dedup over the same synthetic fixture: first
    // extracted URL (lowercased) = crawl address, min-id canonical;
    // CDN addresses (a-<id%11>) collide across docs, page addresses are
    // unique — both the dedup and keep-self arms non-vacuous.
    Q(
      "d_url_dedup",
      (s, dir) =>
        urlDedup(withSyntheticUrls(Tables(s, dir, "documents"))).orderBy("doc_id"),
      Some(s"""
        WITH $synthUrlCte,
        f AS (SELECT doc_id,
                     lower(regexp_extract(url_text, '$UrlRe', 0)) AS uu
              FROM u),
        c AS (SELECT uu, MIN(doc_id) AS cid FROM f WHERE uu <> '' GROUP BY uu)
        SELECT f.doc_id, COALESCE(c.cid, f.doc_id) AS canonical_id
        FROM f LEFT JOIN c USING (uu) ORDER BY f.doc_id"""),
    ),
    // UT1-style domain blocklist over the same synthetic URL fixture:
    // exact-host, parent-domain-suffix, and never-matching blocklist arms
    // are all non-vacuous (site1.example.com hits exactly, example.org
    // catches cdn.example.org by suffix, badsite.test hits nothing).
    Q(
      "c_domain_block",
      (s, dir) =>
        domainBlock(withSyntheticUrls(Tables(s, dir, "documents")), FixtureBlocklist)
          .orderBy("doc_id"),
      Some(s"""
        WITH $synthUrlCte,
        bl(entry) AS (VALUES ${FixtureBlocklist.map(e => s"('$e')").mkString(", ")}),
        h AS (SELECT doc_id,
                     lower(regexp_extract(url_text, '$UrlHostRe', 1)) AS domain
              FROM u),
        sx AS (SELECT doc_id,
                      unnest(list_transform(
                        range(1, len(string_split(domain, '.')) + 1),
                        i -> array_to_string(list_slice(string_split(domain, '.'), i,
                               len(string_split(domain, '.'))), '.'))) AS sfx
               FROM h WHERE domain <> ''),
        m AS (SELECT doc_id, arg_max(sfx, length(sfx)) AS block_rule
              FROM sx JOIN bl ON sx.sfx = bl.entry GROUP BY doc_id)
        SELECT h.doc_id, h.domain, m.block_rule,
               CAST(CASE WHEN m.block_rule IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS blocked
        FROM h LEFT JOIN m ON h.doc_id = m.doc_id ORDER BY h.doc_id"""),
    ),
    // URL canonicalization + dedup: host-case folding, fragment drop,
    // tracking-param strip with surviving params SORTED, trailing-slash
    // strip — every arm live by fixture residue, with real cross-doc
    // fan-in once the noise cancels (the (id%7, id%13) base key) and a
    // no-URL keep-self arm (%9=4). Map-only canonicalization + the
    // urlDedup fold; the canonical URL itself is in the output, so the
    // folding is auditable and the whole rule set hash-pinned.
    Q(
      "d_url_canon",
      (s, dir) =>
        urlCanonDedup(withCanonUrls(Tables(s, dir, "documents")), urlCol = "curl_text")
          .orderBy("doc_id"),
      Some(urlCanonOracleSql),
    ),
    // word2vec phrase mining: top-30 bigrams by the discounted phrase
    // score in exact parts-per-million (sequential integer division — see
    // pmiTopK's overflow note). Ranks identically to PMI; ties to the
    // smaller bigram string.
    Q(
      "c_pmi_topk",
      (s, dir) => pmiTopK(Tables(s, dir, "documents"), k = 30),
      Some("""
        WITH w AS (SELECT string_split_regex(trim(text), '\s+') AS ws
                   FROM documents WHERE text IS NOT NULL),
        u AS (SELECT w, COUNT(*) AS c
              FROM (SELECT unnest(ws) AS w FROM w) WHERE w <> '' GROUP BY w),
        b AS (SELECT wa, wb, COUNT(*) AS cab FROM (
                SELECT ws[i] AS wa, ws[i + 1] AS wb
                FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM w))
              GROUP BY wa, wb),
        sc AS (SELECT b.wa || ' ' || b.wb AS bigram, b.cab, ua.c AS ca, ub.c AS cb,
                      CAST(((b.cab - 1) * 1000000) // ua.c // ub.c AS BIGINT) AS score_ppm
               FROM b JOIN u ua ON b.wa = ua.w JOIN u ub ON b.wb = ub.w
               WHERE b.cab > 1)
        SELECT bigram, cab, ca, cb, score_ppm
        FROM sc ORDER BY score_ppm DESC, bigram LIMIT 30"""),
    ),
  )
}
