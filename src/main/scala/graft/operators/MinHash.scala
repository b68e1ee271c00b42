package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + LSH near-duplicate detection over a text column.
  *
  * Pipeline:
  *   tokens → word k-shingles (array expr, no shuffle)
  *   → explode shingles → groupBy(doc) with H × min(xxhash64(shingle, i))
  *     aggregates. This stays inside whole-stage codegen (Spark's
  *     higher-order array lambdas are interpreted — computing 64 minhashes
  *     via transform/array_min is 64 interpreted traversals per doc; the
  *     explode+hash-agg form is codegen'd and the partial aggregation
  *     collapses each doc's shingles map-side, so the shuffle carries one
  *     65-column row per doc)
  *   → B bands of R rows; band key = hash of the minhash slice
  *   → explode bands (B rows per doc — bounded fanout)
  *   → groupBy (band, key): docs sharing any band bucket are candidates;
  *     buckets larger than `maxBucket` are dropped as low-information
  *     (word-salad / boilerplate collisions — at 100 TB a single hot
  *     bucket would otherwise quadratically explode the candidate join)
  *   → canonical = min doc_id over a doc's buckets (one-pass practical
  *     approximation of the connected-component closure; iterate to a
  *     fixpoint when exact clusters are needed)
  */
object MinHash {

  /** word k-shingles of a text column */
  def shingles(text: Column, k: Int = 3): Column = {
    val words = split(trim(text), "\\s+")
    when(size(words) < k, array(concat_ws(" ", words)))
      .otherwise(
        transform(
          sequence(lit(0), size(words) - k),
          i => concat_ws(" ", slice(words, i + 1, lit(k))),
        )
      )
  }

  /** left-rotate a 64-bit column by n (bitwise — safe under ANSI mode,
    * unlike multiply/add mixing which overflows LongType)
    */
  private def rotl(c: Column, n: Int): Column = {
    val r = n & 63
    if (r == 0) c
    else shiftleft(c, r).bitwiseOR(shiftrightunsigned(c, 64 - r))
  }

  /** (idCol, sig: array<long>) — H-element minhash signatures. Each shingle
    * is hashed once; the H hash functions are the double-hash family
    * g_i(x) = h1(x) XOR rotl(h2(x), i) (the bitwise analog of
    * Kirsch–Mitzenmacher h1 + i·h2, which ANSI mode would reject for long
    * overflow), so the per-row aggregation work is H rotate-xors instead of
    * H string hashes. Partial aggregation collapses each doc's shingles
    * map-side; the shuffle carries one (H+1)-column row per doc.
    *
    * The base hash h1 is the native codegen'd
    * [[graft.functions.ShingleHash64]] — xxhash64 of the single-space-joined
    * shingle bytes, byte-parity-pinned against the
    * `xxhash64(concat_ws(" ", slice(...)))` Column chain by
    * ShingleHash64Spec — so the whole signature pipeline (scan → explode →
    * partial agg) stays inside whole-stage codegen; the former typed
    * flatMap kernel (murmur3-64 per word + rotl window combine) paid an
    * encoder round-trip and a per-shingle tuple allocation per row. NULL
    * text emits no shingles (the doc stays its own canonical via
    * nearDupCanonical's left join) — mapping null to "" would cluster
    * every null-text doc together.
    */
  def signatures(docs: DataFrame, idCol: String, textCol: String, k: Int = 3, h: Int = 64): DataFrame = {
    OpChecks.requireIntegralId(docs, idCol)
    // the family is h1 xor rotl(h2, i): rotations wrap at 64, so g_64+ would
    // silently DUPLICATE g_0+ — perfectly correlated minhashes that double
    // compute and add zero LSH discrimination
    require(h >= 1 && h <= 64, s"signature width h=$h must be in [1, 64] (rotl family)")
    // r21: spread before the shingle explode + H-way min fold (graft.Spread
    // — single-task on one-split bench scans, no-op at lake scale)
    graft.Spread(docs.filter(col(textCol).isNotNull))
      .select(col(idCol).cast("long").as(idCol),
        explode(graft.functions.ShingleHash64(col(textCol), k)).as("__h1"))
      .select(col(idCol), col("__h1"), xxhash64(col("__h1")).as("__h2"))
      .groupBy(idCol)
      .agg(
        array((0 until h).map(i => min(col("__h1").bitwiseXOR(rotl(col("__h2"), i)))): _*).as("sig")
      )
  }

  /** band keys: hash each of B slices of R signature values */
  def bandKeys(sig: Column, bands: Int = 16, rows: Int = 4): Column =
    array((0 until bands).map(b => hash(lit(b), slice(sig, b * rows + 1, rows))): _*)

  // ------------------------------------------------- md5 oracle hash family
  //
  // A second, slower hash family whose every step is bit-identical in
  // DuckDB, so the LSH pipelines become SQL-oracle-able end-to-end: md5 is
  // the one 64-bit-quality hash both engines share (proven end-to-end by
  // the t_fingerprint / t_split_stats oracles), and 15 hex chars (60 bits)
  // fit signed BIGINT in both. Production paths keep the codegen'd
  // xxhash64/murmur3 family; the md5 twins pin the *algorithm* (banding,
  // hot-bucket policy, canonicalization) against an independent engine.

  /** md5-derived 60-bit hash: first 15 hex chars of md5 as a long.
    * DuckDB mirror: `CAST('0x' || substring(md5(x), 1, 15) AS BIGINT)`.
    */
  def md5Hash60(c: Column): Column = conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** md5-family minhash signatures: ONE md5 per shingle split into two
    * 28-bit halves (hex chars 1-7 and 8-14), then the Kirsch–Mitzenmacher
    * family g_i = h1 + i·h2 — max value 2^28 + (H-1)·2^28 ≪ 2^63, so the
    * arithmetic neither wraps in Spark's ANSI mode nor errors in DuckDB
    * (whose BIGINT ops reject overflow, ruling out the rotl-xor family).
    * Explode + hash-aggregate like [[signatures]]; null-text docs emit no
    * rows.
    */
  def signaturesMd5(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                    k: Int = 3, h: Int = 16): DataFrame = {
    // shingle strings via a typed flatMap (tight loops; the Column
    // `shingles()` form is interpreted lambda-per-window) — the md5/conv
    // hashing stays in codegen'd column expressions
    OpChecks.requireIntegralId(docs, idCol)
    val spark = docs.sparkSession
    import spark.implicits._
    // r21: spread before the shingle flatMap + md5 chain — single-task on
    // a one-split bench scan otherwise (graft.Spread; no-op at lake scale)
    graft.Spread(docs.filter(col(textCol).isNotNull))
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .flatMap { case (id, t) => shingleStrings(id, t, k) }
      .toDF(idCol, "__s")
      .select(col(idCol), md5(col("__s")).as("__m"))
      .select(
        col(idCol),
        conv(substring(col("__m"), 1, 7), 16, 10).cast("long").as("__h1"),
        conv(substring(col("__m"), 8, 7), 16, 10).cast("long").as("__h2"))
      .groupBy(idCol)
      .agg(array((0 until h).map(i => min(col("__h1") + lit(i.toLong) * col("__h2"))): _*).as("sig"))
  }

  /** shingle strings, byte-identical to [[shingles]]' Column form
    * (including the < k single-shingle fallback)
    */
  private def shingleStrings(id: Long, text: String, k: Int): Iterator[(Long, String)] = {
    val words = OpChecks.sqlTrim(text).split("\\s+", -1)
    if (words.length < k) Iterator.single((id, words.mkString(" ")))
    else Iterator.tabulate(words.length - k + 1) { i =>
      val sb = new java.lang.StringBuilder
      var j = 0
      while (j < k) { if (j > 0) sb.append(' '); sb.append(words(i + j)); j += 1 }
      (id, sb.toString)
    }
  }

  /** md5-family band keys: md5_60 of "band,v1,...,vR" over decimal-rendered
    * signature values.
    */
  def bandKeysMd5(sig: Column, bands: Int = 8, rows: Int = 2): Column =
    array((0 until bands).map { b =>
      md5Hash60(concat_ws(",",
        lit(b.toString) +: (0 until rows).map(r => element_at(sig, b * rows + r + 1).cast("string")): _*))
    }: _*)

  /** (id, band, bk) membership rows → (id, canonical_id) with the shared
    * single-pass window shape: per-bucket (size, min) attached to each
    * membership row, per-doc min over non-hot buckets, docs with no
    * eligible bucket (or no memberships at all) self-canonical via the
    * left join from the full id list.
    */
  private def canonicalFromMemberships(docs: DataFrame, memberships: DataFrame,
                                       idCol: String, maxBucket: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "bk")
    val fromBuckets = memberships
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__bmin", min(col(idCol)).over(w))
      .groupBy(idCol)
      .agg(min(when(col("__n") <= maxBucket, col("__bmin"))).as("__cmin"))
    docs.select(col(idCol))
      .join(fromBuckets, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__cmin"), col(idCol)).as("canonical_id"))
  }

  /** [[nearDupCanonical]] in the md5 oracle family (small H/bands defaults
    * keep the generated SQL twin tractable; still a true MinHash-LSH).
    */
  def nearDupCanonicalMd5(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                          k: Int = 3, h: Int = 16, bands: Int = 8, maxBucket: Int = 50): DataFrame = {
    val rows = h / bands
    val memberships = signaturesMd5(docs, idCol, textCol, k, h)
      .select(col(idCol), posexplode(bandKeysMd5(col("sig"), bands, rows)).as(Seq("band", "bk")))
    canonicalFromMemberships(docs, memberships, idCol, maxBucket)
  }

  /** (id, band, bk) membership rows in the md5 oracle family — the ONE
    * derivation shared by the canonical, two-corpus and directory faces
    * (and composed with image hashes by [[Multimodal.pairDedup]]).
    */
  private[operators] def membershipsMd5(df: DataFrame, idCol: String, textCol: String,
                                        k: Int, h: Int, bands: Int): DataFrame = {
    require(bands >= 1 && h % bands == 0,
      s"h=$h must divide into bands=$bands (trailing signature entries would be silently ignored)")
    signaturesMd5(df, idCol, textCol, k, h)
      .select(col(idCol), posexplode(bandKeysMd5(col("sig"), bands, h / bands)).as(Seq("band", "bk")))
  }

  /** [[membershipsMd5]] in the production xxhash64 family. */
  private def membershipsNative(df: DataFrame, idCol: String, textCol: String,
                                k: Int, h: Int, bands: Int): DataFrame = {
    require(bands >= 1 && h % bands == 0,
      s"h=$h must divide into bands=$bands (trailing signature entries would be silently ignored)")
    signatures(df, idCol, textCol, k, h)
      .select(col(idCol), posexplode(bandKeys(col("sig"), bands, h / bands)).as(Seq("band", "bk")))
  }

  /** Incremental ingestion dedup — the two-corpus face of
    * [[nearDupCanonical]]: flag each INCOMING doc that shares any
    * NON-HOT MinHash-LSH band bucket with the EXISTING corpus. The
    * decision for an incoming doc depends ONLY on the frozen existing
    * corpus — incoming-vs-incoming duplicates are deliberately NOT
    * flagged (they are the batch canonicalizer's job at the next
    * compaction), so the result is independent of ingestion order and
    * batch boundaries, exactly like the replay-deterministic streaming
    * faces. Returns every incoming id with `dup_of_existing`; null-text
    * incoming docs carry no shingles and flag false.
    *
    * Hot-bucket policy, INHERITED from the canonical family: existing
    * buckets holding more than `maxBucket` members are boilerplate
    * collisions, not duplicate evidence — [[nearDupCanonical]] ignores
    * them retroactively, and an incremental face that flagged on them
    * would silently drop every incoming doc sharing one boilerplate line
    * with the corpus while the compaction pass would have kept it. The
    * count is over the EXISTING corpus only (the frozen side this face
    * is allowed to depend on).
    *
    * Scale shape: the existing side reduces to its DISTINCT non-hot
    * (band, 8-byte band-key) rows BEFORE the join — at 100 TB that is
    * the corpus's bucket directory, orders of magnitude smaller than its
    * text — and the one left-semi join on (band, bk) is
    * AQE-skew-splittable. Nothing re-scans the existing text per ingest
    * batch when the caller persists the [[bucketDirectory64]] artifact
    * once per compaction.
    */
  def nearDupAgainstMd5(incoming: DataFrame, existing: DataFrame,
                        idCol: String = "doc_id", textCol: String = "text",
                        k: Int = 3, h: Int = 16, bands: Int = 8,
                        maxBucket: Int = 50): DataFrame =
    flagAgainst(incoming,
      membershipsMd5(existing, idCol, textCol, k, h, bands),
      membershipsMd5(incoming, idCol, textCol, k, h, bands), idCol, maxBucket)

  /** [[nearDupAgainstMd5]] in the production xxhash64 family (native
    * ShingleHash64 signatures, same two-corpus contract and hot-bucket
    * policy).
    */
  def nearDupAgainst(incoming: DataFrame, existing: DataFrame,
                     idCol: String = "doc_id", textCol: String = "text",
                     k: Int = 3, h: Int = 64, bands: Int = 16,
                     maxBucket: Int = 50): DataFrame =
    flagAgainst(incoming,
      membershipsNative(existing, idCol, textCol, k, h, bands),
      membershipsNative(incoming, idCol, textCol, k, h, bands), idCol, maxBucket)

  /** The existing corpus's distinct NON-HOT band-bucket directory as
    * single 64-bit keys (`band << 32 | bandKey` — band keys are 32-bit
    * hashes, so the pack is collision-free across bands) — the
    * persistable artifact the incremental faces probe: build it once per
    * compaction, reuse it for every ingest batch instead of re-scanning
    * the corpus text. Buckets over `maxBucket` members are excluded (the
    * [[nearDupAgainst]] hot-bucket policy — boilerplate is not duplicate
    * evidence).
    */
  def bucketDirectory64(existing: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text",
                        k: Int = 3, h: Int = 64, bands: Int = 16,
                        maxBucket: Int = 50): DataFrame =
    membershipsNative(existing, idCol, textCol, k, h, bands)
      .groupBy("band", "bk").agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBucket)
      .select((col("band").cast("long") * lit(1L << 32) +
        col("bk").cast("long").bitwiseAND(lit(0xffffffffL))).as("key"))

  /** [[nearDupAgainst]] probing a PERSISTED [[bucketDirectory64]] key
    * frame instead of re-scanning the existing corpus — the compaction
    * production path at 100 TB: the directory is written ONCE as a table
    * bucketed on `key`, and every nightly ingest batch joins against it
    * with zero shuffle on the directory side (only the small batch's
    * memberships exchange to the directory's bucketing; see
    * BucketedDirectorySpec for the pinned plan). Exactly
    * [[nearDupAgainst]]'s flags when the directory was built with the
    * same (k, h, bands, maxBucket) — the hot-bucket policy is baked into
    * the directory at build time (spec-pinned equality).
    */
  def nearDupAgainstDirectory(incoming: DataFrame, directory: DataFrame,
                              idCol: String = "doc_id", textCol: String = "text",
                              k: Int = 3, h: Int = 64, bands: Int = 16): DataFrame = {
    val mem = membershipsNative(incoming, idCol, textCol, k, h, bands)
      .select(col(idCol),
        (col("band").cast("long") * lit(1L << 32) +
          col("bk").cast("long").bitwiseAND(lit(0xffffffffL))).as("key"))
    val hits = mem.join(directory, Seq("key"), "left_semi")
      .select(col(idCol)).distinct()
      .withColumn("dup_of_existing", lit(true))
    incoming.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("dup_of_existing"), lit(false)).as("dup_of_existing"))
  }

  /** [[bucketDirectory64]] folded into a Bloom sketch, bound to the
    * (k, h, bands, maxBucket) parameters it was built with — the probe
    * side MUST derive keys identically, and a bare BloomFilter cannot
    * carry that contract: a silent parameter mismatch would void the
    * zero-false-negative guarantee (never-inserted keys probe false and
    * every true duplicate passes the gate). O(n·log 1/fpp) BITS
    * regardless of corpus size, shippable to every executor where the
    * exact directory is not. Sizing: `count(existing) × bands` is an
    * UPPER bound on distinct bucket keys and costs one parquet-metadata
    * count — over-sizing only spends bits, while an under-sized bloom
    * silently saturates to fpp → 1 and the gate drops the whole stream.
    * Pass `expectedItems` when the directory cardinality is already
    * known.
    */
  final case class DirectoryBloom private[MinHash] (
      bloom: org.apache.spark.util.sketch.BloomFilter,
      k: Int, h: Int, bands: Int, maxBucket: Int)

  def directoryBloom(existing: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text",
                     k: Int = 3, h: Int = 64, bands: Int = 16,
                     maxBucket: Int = 50,
                     expectedItems: Long = -1L,
                     fpp: Double = 0.001): DirectoryBloom = {
    val n =
      if (expectedItems > 0) expectedItems
      else math.max(existing.count() * bands, 1024L)
    val dir = bucketDirectory64(existing, idCol, textCol, k, h, bands, maxBucket)
    DirectoryBloom(dir.stat.bloomFilter("key", n, fpp), k, h, bands, maxBucket)
  }

  /** `band << 32 | bandKey` for a doc's shingle hashes — the per-row JVM
    * twin of [[bucketDirectory64]]'s keys ([[signatureJvm]] +
    * [[bandKeysJvm]] are bit-identical to the column pipeline; spec'd).
    */
  def bucketKeys64Jvm(shingleHashes: Array[Long], h: Int = 64,
                      bands: Int = 16): Array[Long] = {
    val bks = bandKeysJvm(signatureJvm(shingleHashes, h), bands)
    Array.tabulate(bks.length)(b => (b.toLong << 32) | (bks(b).toLong & 0xffffffffL))
  }

  private def flagAgainst(incoming: DataFrame, existingMem: DataFrame,
                          incomingMem: DataFrame, idCol: String,
                          maxBucket: Int): DataFrame = {
    val ex = existingMem.groupBy("band", "bk").agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBucket).select("band", "bk")
    val hits = incomingMem
      .join(ex, Seq("band", "bk"), "left_semi")
      .select(col(idCol)).distinct()
      .withColumn("dup_of_existing", lit(true))
    incoming.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("dup_of_existing"), lit(false)).as("dup_of_existing"))
  }

  /** (id_a, id_b, shared_bands) with id_a < id_b — candidate pairs of the
    * md5 oracle family counted by how many band buckets they co-occur in.
    * Pair expansion is an array lambda over ≤ maxBucket elements
    * (interpreted, but tiny), so the only wide operations are the
    * signature aggregation, the bucket groupBy and the final pair count —
    * each a single shuffle.
    */
  def bucketPairCountsMd5(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                          k: Int = 3, h: Int = 16, bands: Int = 8, maxBucket: Int = 20): DataFrame = {
    val rows = h / bands
    val sigs = signaturesMd5(docs, idCol, textCol, k, h)
    bucketMembersFrom(
      sigs.select(col(idCol), posexplode(bandKeysMd5(col("sig"), bands, rows)).as(Seq("band", "bk"))),
      idCol, maxBucket)
      .select(explode(pairExpand("ids")).as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared_bands"))
  }

  /** EXACT Jaccard-≥ num/den duplicate pairs via the shingle inverted
    * index — the ground-truth feeder for [[minhashRecall]]. Complete by
    * construction: any pair with J > 0 shares at least one distinct
    * k-shingle, so grouping the per-shingle doc lists and counting pair
    * co-occurrences yields |A∩B| for every candidate, and the threshold
    * test is the integer cross-multiplication
    * `ni·(den+num) ≥ num·(na+nb)` ⇔ ni/(na+nb−ni) ≥ num/den — no floats.
    *
    * Shingles are reduced to md5-60 keys ([[md5Hash60]]) so the exchange
    * carries 8-byte keys, then (id, hash) de-duplicated — a 60-bit
    * collision merging two shingles is mirrored verbatim by the oracle's
    * identical hashing, so cross-engine parity holds even then.
    *
    * Scale posture: this is an EVALUATION face (the d_embed_cc
    * precedent: exact feeders are quadratic in the worst case, the LSH
    * family is the production path). Cost is Σ bucket² over shingle
    * buckets; a boilerplate-heavy corpus explodes it, so a fail-loud
    * pair-mass pre-flight REFUSES past `maxPairMass` instead of silently
    * dropping hot buckets — exactness forbids the canonical family's
    * drop policy.
    *
    * One text scan, one exchange: the per-shingle member arrays (with
    * (id, shingle) duplicates collapsed by array_distinct INSIDE the
    * aggregate — no separate dropDuplicates exchange) are eagerly
    * checkpointed, and the guard, the per-doc sizes, AND the pair
    * expansion all derive from that one 8-byte-keyed frame; the first
    * cut recomputed the explode+dedup shuffle for each of the three
    * faces and ran the interpreted Column shingle lambda — 8.0 s at
    * sf0.1 vs 2.2 s for checkpoint-once + typed kernel (measured,
    * 4-rep minima). A pathological bucket
    * materializes its array before the guard can refuse (bounded by
    * corpus doc count, refusal then precedes the quadratic expansion) —
    * the same trade hammingPairs documents.
    */
  def exactJaccardPairs(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                        k: Int = 3, num: Int = 1, den: Int = 2,
                        maxPairMass: Long = 100000000L): DataFrame = {
    require(num >= 1 && den >= num, s"threshold num/den = $num/$den must sit in (0, 1]")
    OpChecks.requireIntegralId(docs, idCol)
    // shingle stream via the typed flatMap kernel (the Column shingles()
    // form is an interpreted lambda per window — signaturesMd5's measured
    // rationale); repeated shingles inside a doc collapse via the
    // array_distinct INSIDE the aggregate, so the kernel's non-distinct
    // stream needs no pre-dedup exchange
    val spark = docs.sparkSession
    import spark.implicits._
    val buckets = graft.Spread(docs.filter(col(textCol).isNotNull))
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .flatMap { case (id, t) => shingleStrings(id, t, k) }
      .toDF("id", "s")
      .select(col("id"), md5Hash60(col("s")).as("sh"))
      .groupBy("sh").agg(array_sort(array_distinct(collect_list(col("id")))).as("ids"))
      .localCheckpoint(true)
    val mass = buckets
      .agg(sum(size(col("ids")).cast("long") * (size(col("ids")) - 1)).as("m")).head
    val pairMass = if (mass.isNullAt(0)) 0L else mass.getLong(0) / 2
    if (pairMass > maxPairMass)
      throw new IllegalStateException(
        s"exactJaccardPairs: $pairMass candidate pairs exceed maxPairMass=$maxPairMass — " +
          "the shingle inverted index is quadratic on hot shingles and exactness forbids " +
          "dropping them. Pre-remove boilerplate (substrDedupClean), raise maxPairMass, " +
          "or evaluate recall on a document sample.")
    val sizes = buckets.select(explode(col("ids")).as("id"))
      .groupBy("id").agg(count(lit(1)).as("nsz"))
    // pair expansion as a typed flatMap kernel: the SQL
    // transform/slice/flatten lambda ([[pairExpand]]) is interpreted
    // per element — measured 0.74 s for 1.3M pairs at sf0.1 vs ~0.2 s
    // for the tight two-level loop kernel emitting raw (Long, Long) rows
    val pairCounts = expandPairsTyped(buckets)
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("ni"))
    // size-join strategy is ADAPTIVE on the sizes side (one row per doc):
    // below the broadcast bound a hash join keeps the quadratic pair
    // frame in place — no exchange + sort of millions of pair rows
    // against a 5k-row dimension (measured 1.9 s → sub-second at sf0.1).
    // Past the bound the joins pin to sort-merge for the same reason the
    // recall face's full-outer does: the pair frame's post-aggregation
    // estimate undersells its true mult²-quadratic cardinality on a
    // replica-heavy corpus, and Spark 4 then broadcasts the PAIR side —
    // measured as a driver broadcast OOM at the 10× probe arm before
    // the hint. Both paths produce identical rows; only the exchange
    // shape differs.
    val nDocs = sizes.count()
    val joined =
      if (nDocs <= MaxBroadcastSizesRows)
        pairCounts
          .join(broadcast(sizes.select(col("id").as("id_a"), col("nsz").as("na"))), Seq("id_a"))
          .join(broadcast(sizes.select(col("id").as("id_b"), col("nsz").as("nb"))), Seq("id_b"))
      else
        pairCounts
          .hint("merge")
          .join(sizes.select(col("id").as("id_a"), col("nsz").as("na")), Seq("id_a"))
          .hint("merge")
          .join(sizes.select(col("id").as("id_b"), col("nsz").as("nb")), Seq("id_b"))
    joined
      .filter(col("ni") * (den + num) >= (col("na") + col("nb")) * num)
      .select("id_a", "id_b", "ni", "na", "nb")
  }

  /** Above this many docs the exact-pair size joins switch from broadcast
    * (sizes side — one row per doc) to sort-merge: 2M rows ≈ 32 MB of
    * (long, long) pairs, comfortably under the broadcast limit; a corpus
    * past it takes the exchange-based plan automatically — no refusal
    * needed because the merge path is always correct, just slower at
    * evaluation scale.
    */
  val MaxBroadcastSizesRows = 2000000L

  /** Ordered 2-combinations of each sorted `ids` array as raw
    * (id_a, id_b) rows — the typed twin of `explode(pairExpand(...))`.
    * The SQL lambda interprets transform/slice/named_struct per element;
    * this tight two-level loop emits the identical pair multiset
    * (measured ~3.5× faster on a 1.3M-pair expansion at sf0.1). Used by
    * the EXACT feeder only, where bucket arrays are unbounded: on the
    * maxBucket-capped LSH families the encoder boundary costs MORE than
    * the interpreted lambda (d_minhash_verified measured 2.1 → 2.9 s
    * when this kernel replaced pairExpand there — reverted).
    */
  private[operators] def expandPairsTyped(buckets: DataFrame): DataFrame = {
    val spark = buckets.sparkSession
    import spark.implicits._
    buckets
      .filter(size(col("ids")) >= 2)
      .select(col("ids"))
      .as[Seq[Long]]
      .flatMap { ids =>
        val n = ids.length
        // Long arithmetic + cap: exact-feeder buckets are unbounded, and
        // n*(n-1)/2 in Int overflows negative past 65535 ids; a full exact
        // hint past ~4M pairs would also pre-allocate a giant array — the
        // buffer grows to the true size either way, the hint just avoids
        // early re-allocations
        val hint = math.min(n.toLong * (n - 1) / 2, 1L << 22).toInt.max(16)
        val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](hint)
        var i = 0
        while (i < n) {
          var j = i + 1
          while (j < n) { out += ((ids(i), ids(j))); j += 1 }
          i += 1
        }
        out
      }
      .toDF("id_a", "id_b")
  }

  /** Dedup-recall accounting: how much of the EXACT Jaccard-≥τ pair set
    * ([[exactJaccardPairs]]) the banded MinHash candidate generation
    * ([[bucketPairCountsMd5]] — the oracled md5 family, the same
    * banding/hot-bucket policy as the production path) actually surfaces.
    * One row: n_true_pairs / n_cand_pairs / n_hit — the dedup twin of the
    * ANN recall faces (Similarity.recallAgainst), integer-valued end to
    * end so the whole measurement is DuckDB-oracle-able. Both pair sets
    * are duplicate-scale (≪ corpus) on a deduplicated corpus, but on a
    * replica-heavy one both can run to millions of rows — the merge is
    * pinned to sort-merge (`hint("merge")`): Spark 4 broadcasts
    * full-outer sides on post-aggregation estimates, and the 10× probe
    * measured that mis-estimate as a driver broadcast OOM before the
    * hint.
    */
  def minhashRecall(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                    k: Int = 3, num: Int = 1, den: Int = 2,
                    maxPairMass: Long = 100000000L): DataFrame = {
    val truth = exactJaccardPairs(docs, idCol, textCol, k, num, den, maxPairMass)
      .select(col("id_a"), col("id_b"), lit(1L).as("t"))
    val cand = bucketPairCountsMd5(docs, idCol, textCol, k)
      .select(col("id_a"), col("id_b"), lit(1L).as("c"))
    truth.hint("merge").join(cand.hint("merge"), Seq("id_a", "id_b"), "full_outer")
      .agg(
        count(col("t")).as("n_true_pairs"),
        count(col("c")).as("n_cand_pairs"),
        count(when(col("t").isNotNull && col("c").isNotNull, 1)).as("n_hit"))
  }

  /** Dedup-rate curve across Jaccard thresholds — the band-tuning report
    * a dedup owner reads before fixing τ: for each candidate threshold,
    * how many EXACT Jaccard-≥τ pairs exist and how many docs the greedy
    * drop policy (remove any doc that duplicates a smaller-id doc — the
    * standard keep-first rule) would remove. One row per threshold,
    * integer-exact end to end: the qualification test is the same
    * cross-multiplication [[exactJaccardPairs]] applies, per threshold.
    *
    * Scale shape: the exact pair frame is computed ONCE at the loosest
    * threshold (an EVALUATION face — quadratic by design on hot shingles,
    * pair-mass guard armed); the curve is a bounded explode of that
    * duplicate-scale frame (|pairs| × |thresholds|) into one aggregation.
    * Every threshold row is always emitted (zero-filled via the left join
    * from the threshold seed), so a clean corpus reads as a row of zeros,
    * not an empty frame.
    */
  def dedupThresholdCurve(docs: DataFrame,
                          thresholds: Seq[(Int, Int)] =
                            Seq((3, 10), (1, 2), (3, 5), (7, 10), (4, 5), (9, 10)),
                          idCol: String = "doc_id", textCol: String = "text",
                          k: Int = 3, maxPairMass: Long = 100000000L): DataFrame = {
    require(thresholds.nonEmpty, "thresholds must be non-empty")
    thresholds.foreach { case (n, d) =>
      require(n >= 1 && d >= n, s"threshold $n/$d must sit in (0, 1]")
    }
    val spark = docs.sparkSession
    import spark.implicits._
    val (minNum, minDen) = thresholds.minBy { case (n, d) => n.toDouble / d }
    val pairs = exactJaccardPairs(docs, idCol, textCol, k, minNum, minDen, maxPairMass)
    val ths = array(thresholds.map { case (n, d) =>
      struct(lit(n).as("num"), lit(d).as("den"))
    }: _*)
    val perTh = pairs
      .select(col("id_b"), col("ni"), col("na"), col("nb"), explode(ths).as("t"))
      .filter(col("ni") * (col("t.den") + col("t.num")) >= (col("na") + col("nb")) * col("t.num"))
      .groupBy(col("t.num").as("j_num"), col("t.den").as("j_den"))
      .agg(count(lit(1)).as("p"), count_distinct(col("id_b")).as("d"))
    thresholds.toDF("j_num", "j_den")
      .join(perTh, Seq("j_num", "j_den"), "left")
      .select(col("j_num"), col("j_den"),
        coalesce(col("p"), lit(0L)).as("n_pairs"),
        coalesce(col("d"), lit(0L)).as("n_docs_dropped"))
      .orderBy(col("j_num") * 10000 / col("j_den"), col("j_den"))
  }

  /** Verified near-dup canonicalization — the production
    * estimate-then-verify dedup face. [[nearDupCanonicalMd5]]
    * canonicalizes on band-bucket SHARING alone, so two docs colliding in
    * a single band (LSH's false-positive arm) merge without their texts
    * ever being compared. This face keeps only candidate pairs whose
    * EXACT shingle-set Jaccard clears num/den — the same integer
    * cross-multiplication [[exactJaccardPairs]] uses, no floats — and
    * labels the VERIFIED duplicate graph by connected components, so a
    * canonical chain a~b~c requires every hop to be a verified duplicate
    * pair (the transitive NearDup clustering of Lee et al. 2022 §2.2,
    * with LSH supplying candidates instead of the full pair space).
    *
    * Scale shape: candidates come from [[bucketPairCountsMd5]] (hot
    * buckets dropped structurally, pair mass ≤ maxBucket² per bucket);
    * verification never re-scans the corpus — the distinct 8-byte
    * shingle-hash frame is built ONCE over the candidate docs only
    * (semi-join against the duplicate-scale candidate id list, broadcast)
    * and both the sizes and the intersections derive from it; the closure
    * runs on the verified edge list (duplicate-scale ≪ corpus) through
    * [[Dedup.connectedComponents]]' adaptive union-find / pointer-jump.
    */
  def verifiedNearDupCanonicalMd5(docs: DataFrame, idCol: String = "doc_id",
                                  textCol: String = "text", k: Int = 3,
                                  h: Int = 16, bands: Int = 8, maxBucket: Int = 20,
                                  num: Int = 1, den: Int = 2): DataFrame = {
    require(num >= 1 && den >= num, s"threshold num/den = $num/$den must sit in (0, 1]")
    OpChecks.requireIntegralId(docs, idCol)
    val spark = docs.sparkSession
    import spark.implicits._
    // joined on both sides below AND feeding the semi-join id list — the
    // whole shingle→minhash→band pipeline must not re-run per face
    val cand = bucketPairCountsMd5(docs, idCol, textCol, k, h, bands, maxBucket)
      .select("id_a", "id_b")
      .localCheckpoint(true)
    val candIds = cand.select(col("id_a").as("__cid"))
      .union(cand.select(col("id_b").as("__cid"))).distinct()
    // distinct (id, shingle-hash) rows for candidate docs only — the only
    // texts verification ever touches
    val th = graft.Spread(docs
      .filter(col(textCol).isNotNull)
      .join(broadcast(candIds), col(idCol).cast("long") === col("__cid"), "left_semi"))
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .flatMap { case (id, t) => shingleStrings(id, t, k) }
      .toDF("id", "__s")
      .select(col("id"), md5Hash60(col("__s")).as("h"))
      .distinct()
      .localCheckpoint(true)
    val tsz = th.groupBy("id").agg(count(lit(1)).as("nsz"))
    val ni = cand
      .join(th.select(col("id").as("id_a"), col("h")), Seq("id_a"))
      .join(th.select(col("id").as("id_b"), col("h")), Seq("id_b", "h"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("ni"))
    val verified = ni
      .join(tsz.select(col("id").as("id_a"), col("nsz").as("na")), Seq("id_a"))
      .join(tsz.select(col("id").as("id_b"), col("nsz").as("nb")), Seq("id_b"))
      .filter(col("ni") * (den + num) >= (col("na") + col("nb")) * num)
      .select("id_a", "id_b")
    Dedup.connectedComponents(docs.select(col(idCol)), verified).labels
      .select(col("id").as(idCol), col("comp").as("canonical_id"))
  }

  /** membership rows → per-bucket member lists (band, bk, ids sorted asc),
    * singleton and hot (> maxBucket) buckets dropped. Pair generation
    * expands these small arrays instead of self-joining the bucket stream
    * (a self-join would recompute the whole shingle→signature pipeline once
    * per side). The hot filter runs on a windowed count BEFORE
    * collect_list, so a pathological bucket is counted (spillable sort) but
    * never materialized as an array; the groupBy reuses the window's
    * (band, bk) partitioning — one shuffle.
    */
  private def bucketMembersFrom(memberships: DataFrame, idCol: String, maxBucket: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "bk")
    memberships
      .withColumn("__n", count(lit(1)).over(w))
      .filter(col("__n").between(2, maxBucket))
      .groupBy("band", "bk")
      .agg(array_sort(collect_list(idCol)).as("ids"))
  }

  /** SQL lambda expanding a sorted array column into its ordered 2-element
    * combinations as `named_struct('a', x, 'b', y)` with x before y —
    * shared by every bucketed pair generator (the arrays are ≤ maxBucket
    * elements, so the interpreted lambda is cheap).
    */
  def pairExpand(arrayCol: String): Column =
    expr(
      s"flatten(transform($arrayCol, (a, i) -> " +
        s"transform(slice($arrayCol, i + 2, size($arrayCol)), b -> named_struct('a', a, 'b', b))))")

  /** docs → (doc_id, canonical_id): canonical is the smallest doc_id this
    * doc shares any LSH bucket with (including itself).
    */
  def nearDupCanonical(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 3,
      h: Int = 64,
      bands: Int = 16,
      maxBucket: Int = 50,
  ): DataFrame = {
    // one pass over the signatures, no self-joins: window over the bucket
    // key attaches (size, min) to every membership row, then a per-doc min
    // over non-hot buckets. Docs whose every bucket is hot fall out of the
    // conditional min as NULL; docs with NULL text have no shingles at all
    // (explode of a null array) — the left join from the full id list keeps
    // both as their own canonical.
    val rows = h / bands
    val memberships = signatures(docs, idCol, textCol, k, h)
      .select(col(idCol), posexplode(bandKeys(col("sig"), bands, rows)).as(Seq("band", "bk")))
    canonicalFromMemberships(docs, memberships, idCol, maxBucket)
  }

  /** JVM-side signature kernel for per-row pipelines (the streaming dedup
    * face): the SAME hash family as [[signatures]] — g_i = h1 XOR
    * rotl(xxhash64(h1), i), folded with signed min over the doc's
    * [[graft.functions.ShingleHash64]] array — without the explode +
    * aggregate shuffle (a stream row already carries all of its doc's
    * shingles). xxhash64 parity: Spark's XxHash64 over a LongType column
    * is exactly `XXH64.hashLong(v, 42)`. Bit-parity with the Column
    * pipeline is pinned by MinHashSpec's kernel-parity test.
    */
  def signatureJvm(shingleHashes: Array[Long], h: Int = 64): Array[Long] = {
    require(h >= 1 && h <= 64, s"signature width h=$h must be in [1, 64] (rotl family)")
    val sig = Array.fill(h)(Long.MaxValue)
    var s = 0
    while (s < shingleHashes.length) {
      val h1 = shingleHashes(s)
      val h2 = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(h1, 42L)
      var i = 0
      while (i < h) {
        val r = i & 63
        val g = h1 ^ (if (r == 0) h2 else (h2 << r) | (h2 >>> (64 - r)))
        if (g < sig(i)) sig(i) = g
        i += 1
      }
      s += 1
    }
    sig
  }

  /** JVM-side band keys, bit-identical to [[bandKeys]]'
    * `hash(lit(b), slice(sig, b·rows+1, rows))`: Spark's murmur3 `hash`
    * folds children left-to-right from seed 42 — int literal first, then
    * the array slice element-wise — which is exactly the
    * Murmur3HashFunction composition below.
    */
  def bandKeysJvm(sig: Array[Long], bands: Int = 16): Array[Int] = {
    import org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType}
    require(bands >= 1 && sig.length % bands == 0,
      s"signature width ${sig.length} must divide into $bands bands")
    val rows = sig.length / bands
    Array.tabulate(bands) { b =>
      val s1 = Murmur3HashFunction.hash(b, IntegerType, 42L).toInt
      val slice = new GenericArrayData(java.util.Arrays.copyOfRange(sig, b * rows, (b + 1) * rows))
      Murmur3HashFunction.hash(slice, ArrayType(LongType), s1.toLong).toInt
    }
  }

  /** Exact n-gram Jaccard between two texts (for candidate verification).
    * Set ops run over native 64-bit shingle hashes (ShingleHash64 —
    * tokenization byte-parity-pinned against the string chain), not
    * shingle STRINGS: |A∩B|/|A∪B| over hashes equals the string-set value
    * modulo collision p ≈ n²/2⁶⁵ per pair, and the per-pair cost drops
    * from building + comparing O(n·k) chars of shingle strings to one byte
    * scan per text and long-array intersection. The string-side DuckDB
    * oracles (d_ngram_jaccard, d_jaccard_exact) pin the equivalence.
    */
  def exactJaccard(textA: Column, textB: Column, k: Int = 3): Column = {
    val sa = array_distinct(graft.functions.ShingleHash64(textA, k))
    val sb = array_distinct(graft.functions.ShingleHash64(textB, k))
    val inter = size(array_intersect(sa, sb)).cast("double")
    inter / (size(sa) + size(sb) - inter)
  }

  /** JVM-side exact Jaccard for typed-map pipelines. Semantically identical
    * to [[exactJaccard]] — it reuses the SAME native kernel
    * (ShingleHash64.compute, so tokenization and the < k fallback can never
    * drift) — but sorts the two primitive hash arrays and merge-counts the
    * intersection: no per-shingle String, no boxing, no hash-set
    * allocation. Dominant in bulk pair-verification jobs.
    */
  def exactJaccardJvm(textA: String, textB: String, k: Int = 3): Double = {
    def hashes(t: String): Array[Long] = {
      val arr = graft.functions.ShingleHash64
        .compute(org.apache.spark.unsafe.types.UTF8String.fromString(t), k)
        .toLongArray()
      java.util.Arrays.sort(arr)
      arr
    }
    def dedupInPlace(a: Array[Long]): Int = {
      if (a.isEmpty) return 0
      var w = 1
      var i = 1
      while (i < a.length) {
        if (a(i) != a(w - 1)) { a(w) = a(i); w += 1 }
        i += 1
      }
      w
    }
    val sa = hashes(textA); val na = dedupInPlace(sa)
    val sb = hashes(textB); val nb = dedupInPlace(sb)
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      if (sa(i) == sb(j)) { inter += 1; i += 1; j += 1 }
      else if (sa(i) < sb(j)) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter)
  }
}
