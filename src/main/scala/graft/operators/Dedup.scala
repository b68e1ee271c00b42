package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, Tables}

/** Deduplication operators over `documents`. Exact dedup is here; MinHash/
  * SimHash/Jaccard/embedding variants live alongside and register their own
  * queries as they land.
  */
object Dedup {

  /** Exact dedup: canonical id per identical text. The fingerprint pass is
    * one scan and one shuffle: project to (doc_id, md5 fingerprint) — at
    * 100 TB you shuffle 16-byte keys, not document bodies — and take the
    * per-fingerprint min via a window. NULL-text docs stay SELF-canonical
    * via the cheap id-scan left join (module-wide contract — see
    * SimHash/MinHash): md5(NULL) is NULL, and running them through the
    * window would both declare all null-text docs mutual duplicates AND
    * pile every one of them onto a single NULL-fingerprint reducer.
    */
  def exactCanonical(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    val clustered = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), md5(col("text")).as("fp"))
      .withColumn("canonical_id", min("doc_id").over(w))
      .select("doc_id", "canonical_id")
    docs.select(col("doc_id"))
      .join(clustered, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("canonical_id"), col("doc_id")).as("canonical_id"))
  }

  /** Cluster-size report over ANY canonical assignment (exact, MinHash,
    * SimHash, CC — anything emitting a canonical-id column): per cluster
    * size, how many clusters and docs — the dedup summary every pipeline
    * release prints (singleton share, largest-cluster sanity, the size
    * histogram that tells boilerplate from true mirrors). Two bounded
    * aggregations; the second's key domain is distinct cluster SIZES
    * (≤ √n_docs distinct values by a counting argument), so nothing here
    * grows with the corpus beyond the canonical frame's own shuffle.
    */
  def clusterStats(canonical: DataFrame, canonCol: String = "canonical_id"): DataFrame =
    canonical.groupBy(canonCol).agg(count(lit(1)).as("__sz"))
      .groupBy(col("__sz").as("cluster_size"))
      .agg(count(lit(1)).cast("long").as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))

  /** Unicode-robust text normalization for dedup keys (the CCNet
    * pre-hash normalization): lowercase, punctuation → space, collapse
    * whitespace, trim. Case-variant and punctuation-variant mirrors of
    * the same content collide AFTER this where raw exact dedup misses
    * them; pair with [[exactCanonical]] over the normalized column.
    * Same regex semantics in both engines (\\p{L}/\\p{N} classes exist
    * in Java regex and RE2; oracle-verified).
    */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^\\p{L}\\p{N}\\s]", " "), "\\s+", " "))

  /** A connected-component closure's result: `labels` (id, comp = the
    * component's min vertex id) and the number of `rounds` the closure ran
    * (0 for the union-find collect path). Both closures carry logarithmic
    * round bounds (stars O(log² n), min-label + jump O(log diameter)), so
    * `rounds` is the convergence witness a scale test reads.
    */
  final case class Components(labels: DataFrame, rounds: Int)

  /** Connected components over an undirected edge list — the exact closure
    * of pairwise near-dup relations into canonical clusters (the one-pass
    * min-over-shared-bucket canonicalization in MinHash/SimHash is the
    * cheap approximation; this is the fixpoint).
    *
    * Iterative min-label propagation: each round every vertex takes the min
    * of its own label and its neighbors' labels; converged when no label
    * changes. O(diameter) rounds of two shuffles each; `localCheckpoint`
    * truncates the lineage so 50 rounds don't build a 100-stage plan. At
    * 100 TB diameters are small for near-dup graphs (clusters are dense);
    * for adversarial chain graphs use [[connectedComponentsStars]], which
    * contracts in O(log n) rounds regardless of diameter (spec-checked
    * equivalent on chain/random/isolated graphs).
    */
  def connectedComponents(
      vertices: DataFrame, // one column: vertex id (long)
      edges: DataFrame,    // two columns: endpoint ids
      maxIter: Int = 50,
      /** graphs whose edge AND vertex counts fit under this bound are
        * solved with driver-side union-find (one collect, no iteration) —
        * the iterative path costs ~4 Spark jobs per round, which dominates
        * small graphs; large graphs take the distributed path. The same
        * adaptive shape as broadcast-join thresholds.
        */
      collectThreshold: Long = 1000000L,
  ): Components = {
    val vCol = vertices.columns.head
    // comp labels are the min vertex id, carried as long — fail fast on
    // non-integral ids (a silent cast would null every label and converge
    // immediately to garbage)
    OpChecks.requireIntegralId(vertices, vCol)
    val (ea, eb) = (edges.columns(0), edges.columns(1))
    // materialize the edge list ONCE — it joins into every round, and an
    // expensive upstream (e.g. an O(N²) similarity join) must not re-run
    // per iteration
    val spark = vertices.sparkSession
    val vtx = vertices.select(col(vCol).cast("long").as("id")).localCheckpoint(true)
    val edg = edges.select(col(ea).cast("long").as("a"), col(eb).cast("long").as("b"))
      .localCheckpoint(true)
    val nV = vtx.count()
    val nE = edg.count()
    if (nV <= collectThreshold && nE <= collectThreshold) {
      // driver union-find with path compression; roots resolved to the
      // component's min id. Edges with an endpoint outside the vertex set
      // are ignored — the same contract the distributed path enforces
      // (label joins drop unknown endpoints), so results never depend on
      // which path the size heuristic picks.
      val ids = vtx.collect().map(_.getLong(0))
      val known = ids.toSet
      val parent = scala.collection.mutable.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      edg.collect().foreach { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        if (known(a) && known(b)) {
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
      }
      // unions always attach the larger root beneath the smaller, so every
      // root IS its component's min id — find() alone yields the label
      import spark.implicits._
      return Components(ids.toSeq.map(id => (id, find(id))).toDF("id", "comp"), 0)
    }

    val sym = edg.select(col("a").as("src"), col("b").as("dst"))
      .union(edg.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint(true)
    var labels = vtx.select(col("id"), col("id").as("comp"))
      .localCheckpoint(true)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // neighbor-min step: each vertex takes the min label in its closed
      // neighborhood
      val nbrMin = sym.join(labels, sym("src") === labels("id"))
        .groupBy(col("dst").as("id2"))
        .agg(min("comp").as("nbr_comp"))
      val stepped = labels
        .join(nbrMin, labels("id") === col("id2"), "left")
        .select(col("id"), col("comp").as("old_comp"),
          least(col("comp"), col("nbr_comp")).as("mid"))
      // pointer-jump step: comp := label(comp) — labels only decrease, so
      // this contracts label chains and drops the round count from
      // O(diameter) to O(log diameter)
      val jump = labels.select(col("id").as("jid"), col("comp").as("jcomp"))
      val updated = stepped
        .join(jump, stepped("mid") === col("jid"), "left")
        .select(col("id"), least(col("mid"), col("jcomp")).as("comp"),
          (least(col("mid"), col("jcomp")) < col("old_comp")).as("changed"))
        .localCheckpoint(true)
      converged = updated.filter(col("changed")).limit(1).count() == 0
      labels = updated.select("id", "comp")
      iter += 1
    }
    // pointer jumping converges in O(log diameter) rounds, so 50 covers any
    // real graph — but an unconverged label set is silently WRONG (labels
    // stop mid-propagation), so fail fast like connectedComponentsStars
    // instead of returning it
    require(converged,
      s"min-label propagation did not converge within $maxIter rounds — raise " +
        "maxIter or use connectedComponentsStars (O(log² n) on any diameter)")
    Components(labels, iter)
  }

  /** Connected components by alternating large-star/small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14 — a published algorithm, re-expressed on DataFrames):
    *
    *   large-star: per node u, attach every neighbor v > u to
    *     m = min(N(u) ∪ {u});
    *   small-star: attach every neighbor v ≤ u (and u itself) to m.
    *
    * Converges in O(log² n) rounds (the paper's proven bound; ~log n in
    * practice) on ANY graph — including the long-chain adversarial case
    * where plain min-label propagation needs O(diameter) rounds — each
    * round two groupBy shuffles over the (shrinking) edge list. Throws if
    * `maxIter` is exhausted before the star-forest fixpoint (the read-off
    * assumes one root per member; returning the unconverged edge set would
    * silently emit duplicate vertex rows). Use this over
    * [[connectedComponents]]' neighbor-min + pointer-jump when the graph
    * may be chain-like; both return (id, comp = component's min vertex id)
    * and drop edges with endpoints outside the vertex set.
    */
  def connectedComponentsStars(
      vertices: DataFrame,
      edges: DataFrame,
      maxIter: Int = 50,
  ): Components = {
    val vCol = vertices.columns.head
    OpChecks.requireIntegralId(vertices, vCol)
    val (ea, eb) = (edges.columns(0), edges.columns(1))
    val vtx = vertices.select(col(vCol).cast("long").as("id")).localCheckpoint(true)
    // drop unknown endpoints (same contract as connectedComponents), then
    // orient (u, v) arbitrarily — the stars re-orient every round
    var e = edges
      .select(col(ea).cast("long").as("a"), col(eb).cast("long").as("b"))
      .join(vtx.select(col("id").as("a")), Seq("a"), "left_semi")
      .join(vtx.select(col("id").as("b")), Seq("b"), "left_semi")
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct()
      .localCheckpoint(true)

    // Round shape, trimmed to 3 shuffles + 1 checkpoint (from 4 + 3):
    // - symmetrize with a single-pass explode instead of a self-union, so
    //   each stage reads its input exactly once (no checkpoint needed just
    //   to stop a double computation);
    // - collect_set (not collect_list) dedupes each neighbor multiset
    //   inside the groupBy itself, absorbing duplicate (v, m) pairs from
    //   different u's, so the large-star output needs no distinct() of its
    //   own before feeding the small-star groupBy;
    // - the small-star arm folds its two reads (v ≤ u neighbors, plus u
    //   itself) into one explode over filter(nbrs) ++ [u].
    // Only the round's final deduped edge set is checkpointed — it is the
    // loop-carried value the convergence check counts.
    def neighborhoods(edgeList: DataFrame): DataFrame =
      edgeList
        .select(explode(array(
          struct(col("a").as("u"), col("b").as("v")),
          struct(col("b").as("u"), col("a").as("v")))).as("p"))
        .select(col("p.u").as("u"), col("p.v").as("v"))
        .groupBy("u")
        .agg(min(least(col("v"), col("u"))).as("m"), collect_set(col("v")).as("nbrs"))

    var eCount = e.count()
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // large-star: (v, m) for v ∈ N(u), v > u
      val large = neighborhoods(e)
        .select(col("m"), explode(filter(col("nbrs"), _ > col("u"))).as("v"))
        .select(least(col("v"), col("m")).as("a"), greatest(col("v"), col("m")).as("b"))
        .filter(col("a") =!= col("b"))
      // small-star: (v, m) for v ∈ N(u), v ≤ u — plus (u, m)
      val small = neighborhoods(large)
        .select(col("m"),
          explode(concat(filter(col("nbrs"), _ <= col("u")), array(col("u")))).as("x"))
        .filter(col("x") =!= col("m"))
        .select(least(col("x"), col("m")).as("a"), greatest(col("x"), col("m")).as("b"))
        .distinct()
        .localCheckpoint(true)
      // r21 note: fusing this two-job check (count + exceptAll probe) into
      // one full-outer one-sided-row probe was TRIED and measured SLOWER
      // (d_embed_cc_stars 1.97→2.41 s at sf0.1 — the shuffle join costs
      // more than the saved action). Reverted to the count + exceptAll
      // shape.
      val smallCount = small.count()
      converged = smallCount == eCount && small.exceptAll(e).limit(1).count() == 0
      e = small
      eCount = smallCount
      iter += 1
    }
    require(converged,
      s"star contraction did not converge within $maxIter rounds — raise maxIter " +
        "(the read-off below assumes a star forest; an unconverged edge set would " +
        "silently emit duplicate vertex rows)")
    // after convergence every edge is (root=min, member): components read
    // off directly; isolated vertices are their own component
    val comp = e.select(col("b").as("id"), col("a").as("comp"))
    Components(
      vtx.join(comp, Seq("id"), "left").select(col("id"), coalesce(col("comp"), col("id")).as("comp")),
      iter)
  }

  /** Passage-level exact dedup stats: split each doc into NON-overlapping
    * `w`-word chunks (stride w — passages, not shingles) and count, per
    * doc, how many of its chunks appear verbatim more than once
    * corpus-wide, within-document repeats included (boilerplate headers,
    * licence blocks, templated intros — the sub-document duplication
    * document-level dedup can't see). Shape:
    * explode chunk fingerprints (map-only), one map-side-combined
    * aggregation over the 16-byte md5 keys, filter to the duplicated
    * minority (AQE broadcasts it back), one per-doc aggregation — two
    * shuffles total, nothing carries document bodies.
    */
  def passageDupStats(docs: DataFrame, w: Int = 16, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    require(w >= 1)
    val ws = split(trim(col(textCol)), "\\s+")
    // chunk starts 1, 1+w, 1+2w, … ≤ len — slice clamps the final partial
    // chunk; "" splits to [""], one empty chunk, so every non-null doc has
    // ≥1 row (n_chunks ≥ 1)
    val hs = transform(sequence(lit(1), size(ws), lit(w)),
      st => md5(array_join(slice(ws, st, lit(w)), " ")))
    // r21: spread before the per-row chunk-hash explode (graft.Spread —
    // single-task on one-split bench scans, no-op at lake scale)
    val chunks = graft.Spread(docs.filter(col(textCol).isNotNull))
      .select(col(idCol), explode(hs).as("h"))
    val dup = chunks.groupBy("h").agg(count(lit(1)).as("__cnt")).filter(col("__cnt") > 1)
    chunks
      .join(dup, Seq("h"), "left")
      .groupBy(idCol)
      .agg(
        count(lit(1)).cast("long").as("n_chunks"),
        sum(when(col("__cnt").isNotNull, 1L).otherwise(0L)).as("n_dup_chunks"))
  }

  /** Content-defined chunk dedup stats — the insertion-robust counterpart
    * of [[passageDupStats]]: chunk boundaries fall AFTER words whose
    * md5-60 hash is ≡ 0 (mod `avgChunkWords`), so they are determined by
    * CONTENT, not position. (Content-defined chunking is the published
    * technique of Muthitacharoen et al., "A Low-bandwidth Network File
    * System", SOSP'01 — Rabin-fingerprint boundaries — re-expressed here
    * at word granularity with the md5-60 oracle family.) Insert a word near the top of a document and
    * a fixed-stride passage split shifts every later chunk (nothing
    * deduplicates any more); the CDC split re-synchronizes at the next
    * boundary word and every later chunk is byte-identical again — the
    * reason crawl pipelines chunk content-defined (spec-pinned property).
    *
    * Per doc the split is one sequential pass in a typed flatMap (CDC is
    * inherently sequential; exploding words through a windowed cumulative
    * sum would shuffle and sort EVERY WORD of the corpus — the typed
    * kernel ships only 16-byte chunk fingerprints into the same two
    * aggregations as passageDupStats). The md5 family keeps the boundary
    * rule and fingerprints bit-reproducible in DuckDB; same output schema
    * as passageDupStats: (id, n_chunks, n_dup_chunks), within-doc repeats
    * included.
    */
  def cdcChunkStats(docs: DataFrame, avgChunkWords: Int = 8, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    require(avgChunkWords >= 2 && Integer.bitCount(avgChunkWords) == 1,
      "avgChunkWords must be a power of two >= 2 (the boundary rule is a mask test)")
    val spark = docs.sparkSession
    import spark.implicits._
    val mask = avgChunkWords - 1
    // r21: NOT spread — tried, d_cdc_dup regressed 0.85→1.01 s (kernel too
    // cheap for the exchange at bench scale)
    val chunks = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .flatMap { case (id, t) => cdcChunkHashes(t, mask).map(h => (id, h)) }
      .toDF(idCol, "h")
    val dup = chunks.groupBy("h").agg(count(lit(1)).as("__cnt")).filter(col("__cnt") > 1)
    chunks
      .join(dup, Seq("h"), "left")
      .groupBy(idCol)
      .agg(
        count(lit(1)).cast("long").as("n_chunks"),
        sum(when(col("__cnt").isNotNull, 1L).otherwise(0L)).as("n_dup_chunks"))
  }

  /** One sequential CDC pass: tokenize like the SQL side (sqlTrim +
    * `\s+`, limit -1 — OpChecks contract), append each word to the open
    * chunk, close it after a boundary word (md5-60(word) & mask == 0).
    * Returns the md5 hex fingerprint of each chunk ("word word ..."),
    * the trailing partial chunk included; an empty/whitespace-only text
    * yields exactly one ""-word chunk REGARDLESS of mask (md5_60("") &
    * mask happens to be 0 for mask 7 but not 63 — the trailing-emit
    * guard below pins one chunk either way, so no doc ever vanishes
    * from the per-doc accounting).
    * ONE MessageDigest per call, reset between hashes — getInstance is a
    * provider-registry lookup, and this runs twice per word.
    */
  private[graft] def cdcChunkHashes(text: String, mask: Int): Seq[String] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val words = OpChecks.sqlTrim(text).split("\\s+", -1)
    val out = Seq.newBuilder[String]
    var nChunks = 0
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < words.length) {
      if (sb.length > 0) sb.append(' ')
      sb.append(words(i))
      if ((md5Hash60Jvm(md, words(i)) & mask) == 0L) {
        out += md5Hex(md, sb.toString); nChunks += 1; sb.setLength(0)
      }
      i += 1
    }
    if (sb.length > 0 || nChunks == 0) out += md5Hex(md, sb.toString)
    out.result()
  }

  /** first 15 hex chars of md5 as a long — ≡ MinHash.md5Hash60 /
    * DuckDB `CAST('0x' || substring(md5(x), 1, 15) AS BIGINT)`
    */
  private[operators] def md5Hash60Jvm(md: java.security.MessageDigest, s: String): Long =
    java.lang.Long.parseLong(md5Hex(md, s).substring(0, 15), 16)

  private def md5Hex(md: java.security.MessageDigest, s: String): String = {
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i < d.length) {
      sb.append(Character.forDigit((d(i) >> 4) & 0xf, 16))
      sb.append(Character.forDigit(d(i) & 0xf, 16))
      i += 1
    }
    sb.toString
  }

  // ---- substring-level exact dedup (Lee et al. 2022, "Deduplicating
  // Training Data Makes Language Models Better" — the ExactSubstr
  // operator re-expressed distributively) -------------------------------
  //
  // The paper's suffix-array formulation finds every substring of >= k
  // tokens that occurs more than once and removes it. The distributed
  // reduction used here is EXACT for that semantics at token granularity:
  // a token lies inside some repeated substring of length >= k IFF it is
  // covered by some repeated k-token shingle —
  //   (⇒) every k-window of a repeated substring is itself repeated;
  //   (⇐) a repeated k-shingle IS a repeated substring of length k.
  // So the union of repeated-shingle coverage intervals equals the
  // paper's removal set exactly, and no suffix array — a global sorted
  // structure that does not shard — is needed: the shapes are one
  // explode (a row per token position, the same cardinality the suffix
  // array would index), one map-side-combined aggregation over shingle
  // fingerprints, one semi-join back, and a PER-DOCUMENT window to merge
  // overlapping shingle intervals into maximal spans (partitioned by
  // doc_id — no global sort anywhere).

  /** Maximal duplicated-substring spans per document: one row per maximal
    * run of tokens covered by a k-shingle that also occurs in at least
    * one OTHER document (`crossDoc = true`, the corpus-dedup posture) or
    * anywhere else including the same document (`crossDoc = false`, the
    * paper's full ExactSubstr semantics — self-repeats count). Spans are
    * 1-based inclusive token intervals [span_start, span_end].
    *
    * Fingerprints are the native [[graft.functions.ShingleHash64]]
    * xxhash64 values — one byte scan per doc, no per-shingle string
    * materialization (the same measured ~8× win that moved
    * c_bigram_support off md5; distinct shingles collide with
    * p ≈ n²/2⁶⁵). The oracle groups the raw shingle STRINGS themselves,
    * so the cross-engine check pins the true substring semantics, not
    * the hash. Only the duplicated minority reaches the window, so the
    * per-doc sort is over dup positions, not the whole corpus.
    */
  def substrDupSpans(docs: DataFrame, k: Int = 8, crossDoc: Boolean = true,
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 2, "k must be >= 2 (a 1-token shingle marks every repeated word)")
    // the token explode feeds BOTH the fingerprint aggregation and the
    // semi-join probe side and therefore executes twice — DELIBERATELY
    // left recomputed: the explode is a map-only codegen'd byte scan,
    // and pinning it was MEASURED SLOWER at scale (localCheckpoint of
    // the (id, pos, h) rows read 22.6 s vs 14.3 s recomputed for the
    // 100× probe arm — serializing 26M rows through block storage costs
    // more than re-running a cheap lineage). packSequences pins for a
    // different reason: its two passes must agree on SAMPLED range
    // bounds, a correctness requirement, not a cost trade.
    val shingles = shingleStream(docs, k, idCol, textCol)
    // cross-doc test as min(doc) != max(doc) — exactly "appears in >= 2
    // distinct docs", but ONE ordinary aggregate whose map-side combine
    // keeps 2 longs per fingerprint, instead of count_distinct's
    // two-phase (h, doc) dedup pass over the full token-cardinality
    // explode (the dominant shuffle of this operator at 100×)
    val dup =
      if (crossDoc)
        shingles.groupBy("h").agg(min(col(idCol)).as("__a"), max(col(idCol)).as("__b"))
          .filter(col("__a") =!= col("__b"))
      else
        shingles.groupBy("h").agg(count(lit(1)).as("nd")).filter(col("nd") > 1)
    spansFromMarked(shingles.join(dup.select("h"), Seq("h"), "left_semi"), k, idCol)
  }

  /** Substring-level decontamination spans (the paper's OTHER ExactSubstr
    * use: test-set leakage removal): per train document, the maximal
    * token runs covered by a k-shingle that appears ANYWHERE in
    * `testDocs` — the same coverage equivalence as [[substrDupSpans]],
    * against a foreign shingle set instead of the corpus's own. The test
    * side reduces to its DISTINCT fingerprints before one semi-join
    * (the incremental-dedup directory shape); the held-out corpus's
    * bodies never shuffle.
    */
  def substrContaminatedSpans(docs: DataFrame, testDocs: DataFrame, k: Int = 8,
                              idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 2, "k must be >= 2")
    val testH = shingleStream(testDocs, k, idCol, textCol).select("h").distinct()
    spansFromMarked(
      shingleStream(docs, k, idCol, textCol).join(testH, Seq("h"), "left_semi"), k, idCol)
  }

  /** The test split's distinct k-shingle fingerprint DIRECTORY as a
    * sorted long array — the frozen artifact the streaming
    * decontamination gate ([[graft.streaming.DocStream.deconFilter]])
    * probes by binary search. EXACT (not a sketch): the gate's verdict
    * then equals the batch semi-join's bit-for-bit, which is what a
    * leakage audit wants. Driver-bounded by the HELD-OUT split's token
    * count (8 bytes per distinct shingle — a 10M-token test split is an
    * 80 MB broadcast; the held-out split is small by construction, and
    * a caller with a corpus-scale "test side" wants
    * [[substrDecontaminate]]'s distributed semi-join instead).
    */
  def substrDirectory(testDocs: DataFrame, k: Int = 8,
                      idCol: String = "doc_id", textCol: String = "text"): Array[Long] = {
    require(k >= 2, "k must be >= 2")
    val arr = shingleStream(testDocs, k, idCol, textCol)
      .select("h").distinct().collect().map(_.getLong(0))
    java.util.Arrays.sort(arr)
    arr
  }

  /** (id, pos, h): one row per k-shingle position, fingerprinted by the
    * native kernel. Docs shorter than k tokens are filtered BEFORE the
    * kernel (whose <k-token contract is one joined shingle — a
    * shorter-than-k fingerprint that must not enter the matching).
    */
  private def shingleStream(docs: DataFrame, k: Int,
                            idCol: String, textCol: String): DataFrame =
    // r21: NOT spread — a drift-cancelled A/B (2×4 reps each way) read
    // the substr family consistently SLOWER with a spread here
    // (c_substr_decon 0.79→1.37, c_substr_decon_clean 1.00→1.69,
    // d_substr_dup 1.43→1.71): the xxhash shingle explode is cheap, and
    // this stream's TWO consumers each pay the added exchange.
    docs.filter(col(textCol).isNotNull)
      .filter(size(split(trim(col(textCol)), "\\s+")) >= k)
      .select(col(idCol), posexplode(graft.functions.ShingleHash64(col(textCol), k)))
      .select(col(idCol), (col("pos") + 1).as("pos"), col("col").as("h"))

  /** Gaps-and-islands over equal-length intervals [pos, pos+k-1]: a new
    * span starts when the previous shingle's coverage can no longer touch
    * this one (pos > prev + k ⇔ pos > prev_end + 1 — strictly past
    * adjacency, so abutting coverage merges into one maximal span). The
    * window is PER-DOCUMENT over the marked minority only.
    */
  private def spansFromMarked(marked: DataFrame, k: Int, idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(idCol).orderBy("pos")
    marked
      .withColumn("__prev", lag("pos", 1).over(w))
      .withColumn("__brk",
        when(col("__prev").isNull || col("pos") > col("__prev") + k, 1L).otherwise(0L))
      .withColumn("__island", sum("__brk").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("__island"))
      .agg(min("pos").cast("long").as("span_start"),
        (max("pos") + (k - 1)).cast("long").as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"))
  }

  /** Per-document substring-dedup stats over [[substrDupSpans]]:
    * (id, n_tokens, n_dup_spans, n_dup_tokens) for every non-null-text
    * document — zeros where nothing repeats, so the frame is a complete
    * per-doc accounting like [[passageDupStats]].
    */
  def substrDupStats(docs: DataFrame, k: Int = 8, crossDoc: Boolean = true,
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    statsFromSpans(docs, substrDupSpans(docs, k, crossDoc, idCol, textCol), idCol, textCol)

  /** Per-train-doc decontamination stats over [[substrContaminatedSpans]]:
    * (id, n_tokens, n_dup_spans, n_dup_tokens) with zeros for untainted
    * docs — the audit a leakage review reads before deciding between
    * span REMOVAL ([[substrDecontaminate]]) and doc-level drop.
    */
  def substrDecontaminateStats(docs: DataFrame, testDocs: DataFrame, k: Int = 8,
                               idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    statsFromSpans(docs, substrContaminatedSpans(docs, testDocs, k, idCol, textCol),
      idCol, textCol)

  /** Lee et al.'s decontamination remediation: train docs with every
    * test-overlapping span removed, keeping the rest of the document
    * (doc-level drop loses the clean majority of a barely-tainted doc).
    */
  def substrDecontaminate(docs: DataFrame, testDocs: DataFrame, k: Int = 8,
                          idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    cleanFromSpans(docs, substrContaminatedSpans(docs, testDocs, k, idCol, textCol),
      idCol, textCol)

  private def statsFromSpans(docs: DataFrame, spans: DataFrame,
                             idCol: String, textCol: String): DataFrame = {
    val base = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), size(split(trim(col(textCol)), "\\s+")).cast("long").as("n_tokens"))
    val agg = spans
      .groupBy(idCol)
      .agg(count(lit(1)).cast("long").as("n_dup_spans"),
        sum(col("span_end") - col("span_start") + 1L).as("n_dup_tokens"))
    base.join(agg, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"))
  }

  /** Span-removal remediation: drop every token inside a duplicated span
    * and return (id, clean_text) with the survivors space-joined.
    *
    * SEMANTICS NOTE — no copy is retained: a substring duplicated across
    * docs is removed from EVERY occurrence, so the content vanishes from
    * the corpus entirely. Lee et al. 2022's ExactSubstr implementation
    * keeps one occurrence per duplicate group; this face deliberately
    * does not — "keep one" requires electing a canonical occurrence per
    * group (an extra per-group argmin exchange) and callers here pair
    * the clean face with [[substrDupStats]] to audit what was cut.
    * Callers expecting upstream keep-one semantics get a strictly
    * smaller corpus; the divergence is oracle-consistent (the DuckDB
    * twin removes all occurrences too).
    *
    * The survivors are whitespace-normalized by construction (the same
    * split both engines apply); the text is
    * whitespace-normalized by construction (the same split both engines
    * apply). Spans arrive as a small per-doc array on each document row
    * (one groupBy of span rows), and the token filter runs inside
    * whole-stage codegen via a positional `filter` lambda — no second
    * explode of the corpus, no UDF.
    */
  def substrDedupClean(docs: DataFrame, k: Int = 8, crossDoc: Boolean = true,
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    cleanFromSpans(docs, substrDupSpans(docs, k, crossDoc, idCol, textCol), idCol, textCol)

  private def cleanFromSpans(docs: DataFrame, spanRows: DataFrame,
                             idCol: String, textCol: String): DataFrame = {
    val spans = spanRows
      .groupBy(idCol)
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("__spans"))
    val ws = split(trim(col(textCol)), "\\s+")
    // a span-free doc carries NULL __spans after the left join, and a NULL
    // exists() would null the keep-predicate and DROP every token — the
    // empty array makes exists() false and keeps the doc verbatim
    val sp = coalesce(col("__spans"),
      array().cast("array<struct<span_start:bigint,span_end:bigint>>"))
    docs.filter(col(textCol).isNotNull)
      .join(spans, Seq(idCol), "left")
      .select(col(idCol),
        array_join(
          filter(ws, (word, i) => !exists(sp,
            s => (i + 1 >= s("span_start")) && (i + 1 <= s("span_end")))),
          " ").as("clean_text"))
  }

  /** The (doc, pos, trimmed non-empty line, md5) frame behind the
    * line-dedup faces: split on newlines, trim each line, drop blanks —
    * the same normalization both engines apply, so "duplicate" means
    * duplicate CONTENT, not duplicate surrounding whitespace. Map-only;
    * only 16-byte line fingerprints (plus the line itself for the clean
    * face's reconstruction) leave the scan.
    */
  private def lineFrame(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ls = filter(transform(split(col(textCol), "\n"), l => trim(l)), l => l =!= "")
    // r21: NOT spread — tried, and d_line_dup regressed 0.45→0.82 s (the
    // line split + md5 is cheap, and the frame's two consumers each pay
    // the added exchange)
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol), posexplode(ls).as(Seq("pos", "line")))
      .withColumn("h", md5(col("line")))
  }

  /** Per-line cross-doc duplicate directory: md5 keys of lines appearing
    * in ≥ 2 DISTINCT documents, decided by the min(doc)≠max(doc) two-long
    * combine state (the substrDupStats discipline — deliberately lighter
    * than count_distinct at 100 TB, where a boilerplate line can occur
    * billions of times and its combine state must stay two longs).
    */
  private def dupLines(lines: DataFrame, idCol: String): DataFrame =
    lines.groupBy("h")
      .agg(min(idCol).as("__mn"), max(idCol).as("__mx"))
      .filter(col("__mn") =!= col("__mx"))
      .select(col("h"), lit(1L).as("__dup"))

  /** Line-level exact dedup stats — the RefinedWeb/CCNet line-dedup stage
    * (Penedo et al. 2023 "The RefinedWeb Dataset", §3; Wenzek et al. 2019
    * CCNet both dedup at line granularity before document-level passes):
    * per document, how many of its trimmed non-empty lines appear verbatim
    * in at least one OTHER document. Navigation headers, cookie banners,
    * copyright footers — the boilerplate that survives document-level
    * dedup because the surrounding page differs, and that the word-window
    * passage face can't isolate because a line is a LAYOUT unit, not a
    * fixed word count. Cross-document by definition: within-doc repeats
    * are the repetition face's business (c_repetition), so a doc's own
    * repeated line counts 0 here unless some other doc shares it.
    *
    * Shape: map-only line split, explode md5 line keys, one
    * map-side-combined aggregation to the dup minority (two-long combine
    * state, see [[dupLines]]), AQE broadcasts it back, one per-doc
    * aggregation — the passageDupStats plan with a distinct-doc dup rule.
    */
  def lineDupStats(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val lines = lineFrame(docs, idCol, textCol)
    lines.join(dupLines(lines, idCol), Seq("h"), "left")
      .groupBy(idCol)
      .agg(
        count(lit(1)).cast("long").as("n_lines"),
        sum(coalesce(col("__dup"), lit(0L))).as("n_dup_lines"))
  }

  /** The cross-doc duplicate-line directory as a SORTED md5-hex array —
    * the persistable boilerplate dictionary the streaming strip gate
    * broadcasts ([[graft.streaming.DocStream.lineStrip]]): build it once
    * per compaction from the frozen corpus, apply it at the ingest edge.
    * Bounded by the BOILERPLATE vocabulary (shared lines), not the
    * corpus — the substrDirectory collection posture.
    */
  def lineDirectory(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): Array[String] = {
    val arr = dupLines(lineFrame(docs, idCol, textCol), idCol)
      .select("h").collect().map(_.getString(0))
    java.util.Arrays.sort(arr.asInstanceOf[Array[AnyRef]])
    arr
  }

  /** Line-level dedup CLEAN face: each document with its cross-doc
    * duplicated lines removed, surviving lines re-joined with newlines in
    * original order. Removes EVERY occurrence (the RefinedWeb choice for
    * boilerplate lines — a shared cookie banner has no meaningful
    * "canonical" document; same no-keep posture as [[substrDedupClean]],
    * documented there). A doc whose every line is boilerplate survives
    * with empty clean_text — fail-visible, not silently dropped.
    *
    * The reconstruction is one per-doc aggregation over (pos, line)
    * structs with a bounded array_sort (per-doc line count), not a
    * corpus-wide window sort.
    */
  def lineDedupClean(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    val lines = lineFrame(docs, idCol, textCol)
    lines.join(dupLines(lines, idCol), Seq("h"), "left")
      .groupBy(idCol)
      .agg(
        count(lit(1)).cast("long").as("n_lines"),
        sum(when(col("__dup").isNull, 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("__dup").isNull,
              struct(col("pos"), col("line"))))),
            s => s("line")),
          "\n").as("clean_text"))
  }

  /** 16-word boilerplate block `i` — the engineered duplicate passages for
    * the d_passage_dup oracle (the synthetic corpus's random texts share no
    * natural 16-word chunk, which would leave the dup arm vacuously zero;
    * same fixture technique as Curation.withSyntheticPii). Exactly `w`
    * words so the doc's own text stays chunk-aligned behind it.
    */
  private[graft] def boilerplate(i: Int, w: Int = 16): String =
    (0 until w).map(j => s"p${i}w$j").mkString(" ")

  /** Planted-repeat fixture for the substring-dedup queries: a shared
    * 16-word prefix block (doc_id % 4) AND a shared 16-word suffix block
    * (doc_id % 3 — blocks 4..6, disjoint words from the prefixes), so
    * every doc carries two separated cross-doc-repeated regions and the
    * span merge/count logic is exercised non-vacuously (the random corpus
    * shares no natural 8-word shingle). Boundary shingles straddling into
    * the doc's own unique words repeat nowhere, so each planted block is
    * its own maximal span.
    */
  private def plantedText(docs: DataFrame): DataFrame = {
    val pfx = when(col("doc_id") % 4 === 0, boilerplate(0))
      .when(col("doc_id") % 4 === 1, boilerplate(1))
      .when(col("doc_id") % 4 === 2, boilerplate(2))
      .otherwise(boilerplate(3))
    val sfx = when(col("doc_id") % 3 === 0, boilerplate(4))
      .when(col("doc_id") % 3 === 1, boilerplate(5))
      .otherwise(boilerplate(6))
    docs.withColumn("ptext", concat(pfx, lit(" "), col("text"), lit(" "), sfx))
  }

  /** Shared oracle CTE chain for the substring queries — the planted
    * prefix/suffix construction with the hash-split bucket, shingles as
    * RAW 8-word strings (the oracle pins the true substring semantics;
    * the Spark side's native hash is an implementation detail it
    * deliberately does not share), then the island merge over a
    * query-specific `m(doc_id, pos)` marking CTE supplied by the caller.
    * Yields `w` (doc_id, split, ws) and `sp` (doc_id, a, b — disjoint
    * maximal spans).
    */
  private def substrCtes(markedCte: String): String = s"""
        p AS (
          SELECT doc_id,
                 ${TextAnalysis.splitCaseSql()} AS split,
                 CASE CAST(doc_id % 4 AS INT)
                   WHEN 0 THEN '${boilerplate(0)}'
                   WHEN 1 THEN '${boilerplate(1)}'
                   WHEN 2 THEN '${boilerplate(2)}'
                   ELSE '${boilerplate(3)}' END || ' ' || text || ' ' ||
                 CASE CAST(doc_id % 3 AS INT)
                   WHEN 0 THEN '${boilerplate(4)}'
                   WHEN 1 THEN '${boilerplate(5)}'
                   ELSE '${boilerplate(6)}' END AS ptext
          FROM documents WHERE text IS NOT NULL
        ),
        w AS (SELECT doc_id, split, string_split_regex(trim(ptext), '\\s+') AS ws FROM p),
        t AS (SELECT doc_id, split, unnest(range(1, len(ws) - 6)) AS pos, ws FROM w),
        s AS (SELECT doc_id, split, pos, array_to_string(ws[pos:pos+7], ' ') AS sh FROM t),
        $markedCte,
        i AS (SELECT doc_id, pos,
                CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                       OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
                     THEN 1 ELSE 0 END AS brk
              FROM m),
        j AS (SELECT doc_id, pos,
                SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
              FROM i),
        sp AS (SELECT doc_id, MIN(pos) AS a, MAX(pos) + 7 AS b
               FROM j GROUP BY doc_id, island)"""

  /** corpus-internal duplication marking (d_substr_* queries) */
  private def substrDupMarked: String = """
        d AS (SELECT sh FROM s GROUP BY sh HAVING COUNT(DISTINCT doc_id) > 1),
        m AS (SELECT s.doc_id, s.pos FROM s JOIN d ON s.sh = d.sh)"""

  /** test-split contamination marking (c_substr_decon* queries): a train
    * position is marked iff its shingle appears anywhere in the test
    * split — mirrors substrContaminatedSpans' distinct-directory
    * semi-join.
    */
  private def substrDeconMarked: String = """
        d AS (SELECT DISTINCT sh FROM s WHERE split = 'test'),
        m AS (SELECT s.doc_id, s.pos FROM s JOIN d ON s.sh = d.sh
              WHERE s.split = 'train')"""

  val queries: Seq[Q] = Seq(
    Q(
      "d_exact_dup",
      (s, dir) => exactCanonical(Tables(s, dir, "documents")).orderBy("doc_id"),
      Some("""
        SELECT d.doc_id, COALESCE(m.canonical_id, d.doc_id) AS canonical_id
        FROM documents d
        LEFT JOIN (SELECT md5(text) AS fp, MIN(doc_id) AS canonical_id
              FROM documents WHERE text IS NOT NULL GROUP BY md5(text)) m
          ON md5(d.text) = m.fp
        ORDER BY d.doc_id"""),
    ),
    // Passage-level dedup over docs prefixed with one of 4 shared
    // boilerplate blocks (doc_id % 4): every doc's first chunk duplicates
    // corpus-wide, its own words stay unique — both arms of the stat are
    // non-vacuous and fully oracled.
    Q(
      "d_passage_dup",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
          .withColumn("ptext", concat(
            when(col("doc_id") % 4 === 0, boilerplate(0))
              .when(col("doc_id") % 4 === 1, boilerplate(1))
              .when(col("doc_id") % 4 === 2, boilerplate(2))
              .otherwise(boilerplate(3)),
            lit(" "), col("text")))
        passageDupStats(docs, w = 16, textCol = "ptext").orderBy("doc_id")
      },
      Some(s"""
        WITH p AS (
          SELECT doc_id,
                 CASE CAST(doc_id % 4 AS INT)
                   WHEN 0 THEN '${boilerplate(0)}'
                   WHEN 1 THEN '${boilerplate(1)}'
                   WHEN 2 THEN '${boilerplate(2)}'
                   ELSE '${boilerplate(3)}' END || ' ' || text AS ptext
          FROM documents WHERE text IS NOT NULL
        ),
        w AS (SELECT doc_id, string_split_regex(trim(ptext), '\\s+') AS ws FROM p),
        c AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(ws) + 1, 16),
                        i -> md5(array_to_string(ws[i:i+15], ' ')))) AS h
          FROM w
        ),
        d AS (SELECT h FROM c GROUP BY h HAVING COUNT(*) > 1)
        SELECT c.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(SUM(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
        FROM c LEFT JOIN d ON c.h = d.h
        GROUP BY c.doc_id ORDER BY c.doc_id"""),
    ),
    // Content-defined chunk dedup over the same engineered boilerplate
    // prefixes as d_passage_dup — but chunk boundaries fall after
    // content-determined boundary words, so blocks 0/2/3 (which contain
    // boundary words) dedup their leading chunks corpus-wide while
    // block 1 (no boundary word) shows the chunk-spans-into-the-doc
    // case. The windowed cumulative sum in the oracle mirrors the
    // kernel's sequential boundary scan exactly (md5-60 & mask parity).
    Q(
      "d_cdc_dup",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
          .withColumn("ptext", concat(
            when(col("doc_id") % 4 === 0, boilerplate(0))
              .when(col("doc_id") % 4 === 1, boilerplate(1))
              .when(col("doc_id") % 4 === 2, boilerplate(2))
              .otherwise(boilerplate(3)),
            lit(" "), col("text")))
        cdcChunkStats(docs, avgChunkWords = 8, textCol = "ptext").orderBy("doc_id")
      },
      Some(s"""
        WITH p AS (
          SELECT doc_id,
                 CASE CAST(doc_id % 4 AS INT)
                   WHEN 0 THEN '${boilerplate(0)}'
                   WHEN 1 THEN '${boilerplate(1)}'
                   WHEN 2 THEN '${boilerplate(2)}'
                   ELSE '${boilerplate(3)}' END || ' ' || text AS ptext
          FROM documents WHERE text IS NOT NULL
        ),
        w AS (SELECT doc_id, string_split_regex(trim(ptext), '\\s+') AS ws FROM p),
        t AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS pos FROM w),
        x AS (SELECT doc_id, pos, ws[pos] AS word,
                     CASE WHEN CAST('0x' || substring(md5(ws[pos]), 1, 15) AS BIGINT) % 8 = 0
                          THEN 1 ELSE 0 END AS b
              FROM t),
        y AS (SELECT doc_id, pos, word,
                     COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cid
              FROM x),
        c AS (SELECT doc_id, cid, md5(string_agg(word, ' ' ORDER BY pos)) AS h
              FROM y GROUP BY doc_id, cid),
        d AS (SELECT h FROM c GROUP BY h HAVING COUNT(*) > 1)
        SELECT c.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(SUM(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
        FROM c LEFT JOIN d ON c.h = d.h
        GROUP BY c.doc_id ORDER BY c.doc_id"""),
    ),
    // Substring-level exact dedup (Lee et al. 2022 ExactSubstr, k=8 over
    // the planted prefix+suffix corpus): per-doc token count, maximal
    // duplicated-span count and covered-token count. The oracle groups raw
    // shingle strings — it verifies the SUBSTRING semantics, not the
    // md5-fingerprint implementation.
    Q(
      "d_substr_dup",
      (s, dir) =>
        substrDupStats(plantedText(Tables(s, dir, "documents")), k = 8,
          textCol = "ptext").orderBy("doc_id"),
      Some(s"""
        WITH ${substrCtes(substrDupMarked)},
        ag AS (SELECT doc_id, COUNT(*) AS n_dup_spans, SUM(b - a + 1) AS n_dup_tokens
               FROM sp GROUP BY doc_id)
        SELECT w.doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
               CAST(COALESCE(ag.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
               CAST(COALESCE(ag.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens
        FROM w LEFT JOIN ag ON w.doc_id = ag.doc_id
        ORDER BY w.doc_id"""),
    ),
    // The paper's remediation applied: duplicated spans removed, survivors
    // space-joined. Every planted block must vanish while each doc's own
    // words survive verbatim — hash-compared string-for-string.
    Q(
      "d_substr_clean",
      (s, dir) =>
        substrDedupClean(plantedText(Tables(s, dir, "documents")), k = 8,
          textCol = "ptext").orderBy("doc_id"),
      Some(s"""
        WITH ${substrCtes(substrDupMarked)},
        x AS (SELECT doc_id, unnest(range(1, len(ws) + 1)) AS pos, ws FROM w),
        wd AS (SELECT doc_id, pos, ws[pos] AS word FROM x),
        keep AS (SELECT wd.doc_id, wd.pos, wd.word
                 FROM wd LEFT JOIN sp
                   ON wd.doc_id = sp.doc_id AND wd.pos BETWEEN sp.a AND sp.b
                 WHERE sp.doc_id IS NULL),
        k AS (SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS clean_text
              FROM keep GROUP BY doc_id)
        SELECT w.doc_id, COALESCE(k.clean_text, '') AS clean_text
        FROM w LEFT JOIN k ON w.doc_id = k.doc_id
        ORDER BY w.doc_id"""),
    ),
    // Substring-level decontamination audit (Lee et al.'s leakage use of
    // ExactSubstr): per TRAIN doc, maximal spans sharing an 8-word
    // shingle with ANY test-split doc. The planted blocks span splits
    // (doc_id % 4 / % 3 classes occur in both), so every train doc
    // carries non-vacuous contaminated spans over the hash split the
    // whole decontamination family uses.
    Q(
      "c_substr_decon",
      (s, dir) => {
        val docs = plantedText(Tables(s, dir, "documents"))
        val train = docs.filter(TextAnalysis.splitName(col("doc_id")) === "train")
        val test = docs.filter(TextAnalysis.splitName(col("doc_id")) === "test")
        substrDecontaminateStats(train, test, k = 8, textCol = "ptext").orderBy("doc_id")
      },
      Some(s"""
        WITH ${substrCtes(substrDeconMarked)},
        ag AS (SELECT doc_id, COUNT(*) AS n_dup_spans, SUM(b - a + 1) AS n_dup_tokens
               FROM sp GROUP BY doc_id)
        SELECT w.doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
               CAST(COALESCE(ag.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
               CAST(COALESCE(ag.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens
        FROM w LEFT JOIN ag ON w.doc_id = ag.doc_id
        WHERE w.split = 'train'
        ORDER BY w.doc_id"""),
    ),
    // The remediation face: train docs with every test-overlapping span
    // removed — span removal keeps the clean majority of a barely-tainted
    // doc where doc-level drop would discard it.
    Q(
      "c_substr_decon_clean",
      (s, dir) => {
        val docs = plantedText(Tables(s, dir, "documents"))
        val train = docs.filter(TextAnalysis.splitName(col("doc_id")) === "train")
        val test = docs.filter(TextAnalysis.splitName(col("doc_id")) === "test")
        substrDecontaminate(train, test, k = 8, textCol = "ptext").orderBy("doc_id")
      },
      Some(s"""
        WITH ${substrCtes(substrDeconMarked)},
        x AS (SELECT doc_id, unnest(range(1, len(ws) + 1)) AS pos, ws FROM w
              WHERE split = 'train'),
        wd AS (SELECT doc_id, pos, ws[pos] AS word FROM x),
        keep AS (SELECT wd.doc_id, wd.pos, wd.word
                 FROM wd LEFT JOIN sp
                   ON wd.doc_id = sp.doc_id AND wd.pos BETWEEN sp.a AND sp.b
                 WHERE sp.doc_id IS NULL),
        k AS (SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS clean_text
              FROM keep GROUP BY doc_id)
        SELECT w.doc_id, COALESCE(k.clean_text, '') AS clean_text
        FROM w LEFT JOIN k ON w.doc_id = k.doc_id
        WHERE w.split = 'train'
        ORDER BY w.doc_id"""),
    ),
    // COMPOSED r14 pipeline: substring-decontaminate the train split vs
    // the test split, then pack the CLEANED text into fixed sequences
    // denominated in BPE subword tokens — three operators chained, one
    // end-to-end hash (a wrong span, a wrong subword count, or a wrong
    // cumsum all surface in the final (seq_id, seq_offset) columns). The
    // oracle chains the decon CTEs into the recursive-CTE tokenizer into
    // the naive global window.
    Q(
      "c_pipeline_llm",
      (s, dir) => {
        val docs = plantedText(Tables(s, dir, "documents"))
        val train = docs.filter(TextAnalysis.splitName(col("doc_id")) === "train")
        val test = docs.filter(TextAnalysis.splitName(col("doc_id")) === "test")
        val cleaned = substrDecontaminate(train, test, k = 8, textCol = "ptext")
        Curation.packSequences(cleaned, maxLen = 256, textCol = "clean_text",
          countOf = c => TextAnalysis.bpeTokenCount(c)).orderBy("doc_id")
      },
      Some(s"""
        WITH RECURSIVE ${substrCtes(substrDeconMarked)},
        x AS (SELECT doc_id, unnest(range(1, len(ws) + 1)) AS pos, ws FROM w
              WHERE split = 'train'),
        wd AS (SELECT doc_id, pos, ws[pos] AS word FROM x),
        keep AS (SELECT wd.doc_id, wd.pos, wd.word
                 FROM wd LEFT JOIN sp
                   ON wd.doc_id = sp.doc_id AND wd.pos BETWEEN sp.a AND sp.b
                 WHERE sp.doc_id IS NULL),
        kk AS (SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS clean_text
               FROM keep GROUP BY doc_id),
        ct AS (SELECT w.doc_id, COALESCE(kk.clean_text, '') AS ctext
               FROM w LEFT JOIN kk ON w.doc_id = kk.doc_id
               WHERE w.split = 'train'),
        vocab(t) AS (SELECT unnest([${TextAnalysis.bpeVocabSqlList}])),
        wd2 AS (SELECT doc_id, unnest(string_split_regex(trim(ctext), '\\s+')) AS wrd
                FROM ct),
        r2 AS (
          SELECT doc_id, wrd, 1 AS pos, 0 AS cnt FROM wd2
          UNION ALL
          SELECT doc_id, wrd,
                 pos + COALESCE((SELECT MAX(length(t)) FROM vocab
                                 WHERE substr(wrd, pos, length(t)) = t), 1),
                 cnt + 1
          FROM r2 WHERE pos <= length(wrd)
        ),
        f2 AS (SELECT doc_id, cnt FROM r2 WHERE pos > length(wrd)),
        bt AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n FROM f2 GROUP BY doc_id),
        tt AS (SELECT ct.doc_id, COALESCE(bt.n, 0) AS n
               FROM ct LEFT JOIN bt ON ct.doc_id = bt.doc_id),
        cc AS (
          SELECT doc_id, n,
                 COALESCE(SUM(n) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
          FROM tt
        )
        SELECT doc_id, n AS n_tokens,
               CAST(s // 256 AS BIGINT) AS seq_id,
               CAST(s % 256 AS BIGINT) AS seq_offset
        FROM cc ORDER BY doc_id"""),
    ),
    // Line-level dedup over docs wrapped in shared header (doc_id % 4) and
    // footer (doc_id % 3) lines plus one per-doc unique line — every doc
    // carries cross-doc-duplicated lines AND guaranteed-unique lines, so
    // both arms of the stat and the clean reconstruction are non-vacuous.
    // The oracle joins raw LINE STRINGS (the true semantics), guarding the
    // Spark side's md5 keys.
    Q(
      "d_line_dup",
      (s, dir) =>
        lineDupStats(linedText(Tables(s, dir, "documents")), textCol = "ltext")
          .orderBy("doc_id"),
      Some(s"""
        WITH $lineCtes
        SELECT l.doc_id, COUNT(*) AS n_lines,
               CAST(SUM(CASE WHEN d.line IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_lines
        FROM l LEFT JOIN d ON l.line = d.line
        GROUP BY l.doc_id ORDER BY l.doc_id"""),
    ),
    // Normalized exact dedup over the case-variant fixture: variants
    // fold onto their originals only AFTER normalization (raw md5 would
    // leave them self-canonical — the spec pins that contrast). Null
    // text stays self-canonical per the module contract.
    Q(
      "d_exact_dup_norm",
      (s, dir) =>
        exactCanonical(
          withCaseVariants(Tables(s, dir, "documents"))
            .select(col("doc_id"), normalizeText(col("text")).as("text")))
          .orderBy("doc_id"),
      Some("""
        WITH u AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 1000000, upper(text) || '!!  '
          FROM documents WHERE doc_id % 7 = 0 AND text IS NOT NULL),
        n AS (SELECT doc_id,
                     CASE WHEN text IS NULL THEN NULL ELSE
                       trim(regexp_replace(regexp_replace(lower(text),
                         '[^\p{L}\p{N}\s]', ' ', 'g'), '\s+', ' ', 'g')) END AS ntext
              FROM u),
        m AS (SELECT md5(ntext) AS fp, MIN(doc_id) AS canonical_id
              FROM n WHERE ntext IS NOT NULL GROUP BY 1)
        SELECT n.doc_id, COALESCE(m.canonical_id, n.doc_id) AS canonical_id
        FROM n LEFT JOIN m ON md5(n.ntext) = m.fp
        ORDER BY n.doc_id"""),
    ),
    // Dedup cluster-size report over the MinHash canonical assignment —
    // the release summary (singleton share, size histogram). Shares the
    // md5 band-bucket semantics with d_minhash_lsh's oracle.
    Q(
      "d_cluster_stats",
      (s, dir) =>
        clusterStats(MinHash.nearDupCanonicalMd5(Tables(s, dir, "documents")))
          .orderBy("cluster_size"),
      Some(clusterStatsOracleSql),
    ),
    Q(
      "d_line_clean",
      (s, dir) =>
        lineDedupClean(linedText(Tables(s, dir, "documents")), textCol = "ltext")
          .orderBy("doc_id"),
      Some(s"""
        WITH $lineCtes
        SELECT l.doc_id, COUNT(*) AS n_lines,
               CAST(SUM(CASE WHEN d.line IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               COALESCE(string_agg(CASE WHEN d.line IS NULL THEN l.line END,
                                   chr(10) ORDER BY l.pos), '') AS clean_text
        FROM l LEFT JOIN d ON l.line = d.line
        GROUP BY l.doc_id ORDER BY l.doc_id"""),
    ),
  )

  /** Case/punctuation-variant fixture for the normalized-dedup query:
    * every 7th doc gains a mirror at doc_id+1000000 whose text is
    * uppercased with trailing punctuation and extra whitespace — the
    * variants RAW exact dedup provably misses (spec'd) and normalized
    * dedup must fold onto the original (min-id canonical = the original).
    */
  private def withCaseVariants(docs: DataFrame): DataFrame = {
    val variants = docs
      .filter(col("doc_id") % 7 === 0 && col("text").isNotNull)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(upper(col("text")), lit("!!  ")).as("text"))
    docs.select("doc_id", "text").unionByName(variants)
  }

  /** Shared line-boilerplate block `i` for the d_line_* fixture — one
    * LINE of distinct words (ln-prefixed so they collide with no other
    * fixture vocabulary).
    */
  private[graft] def lineBlock(i: Int): String =
    s"ln${i}nav ln${i}home ln${i}products ln${i}contact ln${i}legal"

  /** Planted multi-line fixture for the line-dedup queries: the flat
    * synthetic corpus has no newlines at all (every doc is one line), so
    * line dedup would be vacuously document dedup. Wraps each doc as
    *   header(doc_id % 4) \n own text \n footer(doc_id % 3) \n unique(id)
    * — headers/footers duplicate corpus-wide, the unique tail line never
    * does, and the body line duplicates exactly when the whole doc text
    * does (which the corpus's engineered exact-dup docs exercise).
    */
  private[graft] def linedText(docs: DataFrame): DataFrame = {
    val hdr = when(col("doc_id") % 4 === 0, lineBlock(0))
      .when(col("doc_id") % 4 === 1, lineBlock(1))
      .when(col("doc_id") % 4 === 2, lineBlock(2))
      .otherwise(lineBlock(3))
    val ftr = when(col("doc_id") % 3 === 0, lineBlock(4))
      .when(col("doc_id") % 3 === 1, lineBlock(5))
      .otherwise(lineBlock(6))
    // every-5th-doc promo line: present on a MINORITY of docs (and dup
    // among them), so line counts VARY across docs — a fixture where every
    // doc has identical counts would let a per-doc/corpus-wide mixup pass.
    // concat_ws skips the null branch entirely on the other docs.
    val promo = when(col("doc_id") % 5 === 0, lineBlock(7))
    // null-text docs are excluded entirely (the oracle's WHERE text IS NOT
    // NULL arm) — concat_ws would otherwise still build a non-null ltext
    // out of the header/footer/uniq lines and silently diverge from the
    // oracle on a corpus with null texts.
    docs.filter(col("text").isNotNull)
      .withColumn("ltext", concat_ws("\n", hdr, col("text"), ftr, promo,
        concat(lit("lnuniq tail of doc "), col("doc_id"))))
  }

  /** ≡ clusterStats(MinHash.nearDupCanonicalMd5(documents)): the
    * d_minhash_lsh canonical chain (shared md5 band CTEs — one
    * definition, so the report can never drift from the assignment it
    * summarizes) folded into the size histogram.
    */
  private def clusterStatsOracleSql: String = s"""
        WITH ${TrainingDataQueries.md5BandCtes},
        sz AS (SELECT band, bkv, COUNT(*) AS n, MIN(doc_id) AS bmin FROM bk GROUP BY band, bkv),
        cm AS (SELECT bk.doc_id, MIN(CASE WHEN sz.n <= 50 THEN sz.bmin END) AS cmin
               FROM bk JOIN sz USING (band, bkv) GROUP BY bk.doc_id),
        can AS (SELECT d.doc_id, COALESCE(cm.cmin, d.doc_id) AS canonical_id
                FROM documents d LEFT JOIN cm ON d.doc_id = cm.doc_id),
        cs AS (SELECT canonical_id, COUNT(*) AS csize FROM can GROUP BY canonical_id)
        SELECT CAST(csize AS BIGINT) AS cluster_size,
               CAST(COUNT(*) AS BIGINT) AS n_clusters,
               CAST(csize * COUNT(*) AS BIGINT) AS n_docs
        FROM cs GROUP BY csize ORDER BY cluster_size"""

  /** Shared oracle CTE chain for the line-dedup queries: the planted
    * header/footer/unique-line construction, line split + trim + blank
    * drop (the exact normalization [[lineFrame]] applies), then the
    * cross-doc dup directory on raw line strings. Yields
    * `l(doc_id, pos, line)` and `d(line)`.
    */
  private def lineCtes: String = s"""
        p AS (
          SELECT doc_id,
                 CASE CAST(doc_id % 4 AS INT)
                   WHEN 0 THEN '${lineBlock(0)}'
                   WHEN 1 THEN '${lineBlock(1)}'
                   WHEN 2 THEN '${lineBlock(2)}'
                   ELSE '${lineBlock(3)}' END || chr(10) || text || chr(10) ||
                 CASE CAST(doc_id % 3 AS INT)
                   WHEN 0 THEN '${lineBlock(4)}'
                   WHEN 1 THEN '${lineBlock(5)}'
                   ELSE '${lineBlock(6)}' END ||
                 CASE WHEN doc_id % 5 = 0
                   THEN chr(10) || '${lineBlock(7)}' ELSE '' END || chr(10) ||
                 'lnuniq tail of doc ' || CAST(doc_id AS VARCHAR) AS ltext
          FROM documents WHERE text IS NOT NULL
        ),
        w AS (SELECT doc_id,
                     list_filter(list_transform(string_split(ltext, chr(10)),
                       x -> trim(x)), x -> x <> '') AS ls
              FROM p),
        t AS (SELECT doc_id, unnest(range(1, len(ls) + 1)) AS pos, ls FROM w),
        l AS (SELECT doc_id, pos, ls[pos] AS line FROM t),
        d AS (SELECT line FROM l GROUP BY line HAVING MIN(doc_id) <> MAX(doc_id))"""
}
