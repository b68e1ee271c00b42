package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** Behavioral specs for the dedup/similarity operators on planted data —
  * the properties rows-only driver checks can't cover.
  */
class TrainingOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession =
    GraftSession.builder("4").appName("training-ops-spec").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def docsDf(rows: Seq[(Long, String)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("minhash lsh finds planted near-duplicates and not unrelated docs") {
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val nearDup = base.replace("today", "tonight") // 1-word edit
    val unrelated = "completely different content about spark query engines and column pruning"
    val docs = docsDf(Seq(1L -> base, 2L -> nearDup, 3L -> unrelated))
    val canon = MinHash.nearDupCanonical(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(canon(2L) == 1L, "near-dup should canonicalize to the earlier doc")
    assert(canon(3L) == 3L, "unrelated doc should stay its own canonical")
  }

  test("production signatures == Column shingles()+xxhash64 double-hash twin") {
    // the native ShingleHash64 base must yield exactly the signature an
    // independent Column-form pipeline computes: xxhash64 of each shingle
    // STRING from shingles(), then min over g_i = h1 XOR rotl(h2, i) —
    // including non-space whitespace edges and sub-k texts
    val docs = docsDf(Seq(
      1L -> "\tleading tab here and newline\ntext today now",
      2L -> "  double  spaced  words  here  now  then  ",
      3L -> "sub k",
      4L -> "plain text with no whitespace games at all",
    ))
    val h = 8
    def rotl(c: org.apache.spark.sql.Column, n: Int) = {
      val r = n & 63
      if (r == 0) c else shiftleft(c, r).bitwiseOR(shiftrightunsigned(c, 64 - r))
    }
    val got = MinHash.signatures(docs, "doc_id", "text", k = 3, h = h)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val want = docs
      .select(col("doc_id"),
        org.apache.spark.sql.functions.explode(MinHash.shingles(col("text"), 3)).as("__s"))
      .select(col("doc_id"), xxhash64(col("__s")).as("h1"))
      .select(col("doc_id"), col("h1"), xxhash64(col("h1")).as("h2"))
      .groupBy("doc_id")
      .agg(org.apache.spark.sql.functions.array(
        (0 until h).map(i =>
          org.apache.spark.sql.functions.min(col("h1").bitwiseXOR(rotl(col("h2"), i)))): _*).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got == want)
  }

  test("typed md5 shingle kernel == Column shingles() on non-space whitespace") {
    // Java String.trim strips \t/\n, SQL trim strips spaces only — the
    // typed kernel must follow SQL semantics or texts with leading/trailing
    // tabs/newlines silently diverge from the DuckDB oracle
    val docs = docsDf(Seq(
      1L -> "\tleading tab here and newline\ntext today now",
      2L -> "  double  spaced  words  here  now  then  ",
      3L -> "plain text with no whitespace games at all",
    ))
    val typed = MinHash.signaturesMd5(docs)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // Column-form twin of signaturesMd5, built from shingles() directly
    val columnForm = docs
      .select(col("doc_id"), org.apache.spark.sql.functions.explode(MinHash.shingles(col("text"))).as("__s"))
      .select(col("doc_id"), md5(col("__s")).as("__m"))
      .select(col("doc_id"),
        conv(substring(col("__m"), 1, 7), 16, 10).cast("long").as("h1"),
        conv(substring(col("__m"), 8, 7), 16, 10).cast("long").as("h2"))
      .groupBy("doc_id")
      .agg(org.apache.spark.sql.functions.array(
        (0 until 16).map(i => org.apache.spark.sql.functions.min(col("h1") + lit(i.toLong) * col("h2"))): _*).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(typed == columnForm)
  }

  test("md5 oracle family: minhash lsh still finds planted near-duplicates") {
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val nearDup = base.replace("today", "tonight")
    val unrelated = "completely different content about spark query engines and column pruning"
    val docs = docsDf(Seq(1L -> base, 2L -> nearDup, 3L -> unrelated))
    val canon = MinHash.nearDupCanonicalMd5(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(canon(2L) == 1L)
    assert(canon(3L) == 3L)
  }

  test("md5 oracle family: simhash small edits cluster, unrelated docs don't") {
    val base = "one two three four five six seven eight nine ten eleven twelve"
    val edited = base.replace("twelve", "thirteen")
    val unrelated = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val docs = docsDf(Seq(1L -> base, 2L -> edited, 3L -> unrelated))
    val out = SimHash.nearDupCanonicalMd5(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(out(1L)._1, out(2L)._1) < ham(out(1L)._1, out(3L)._1))
    assert(out(2L)._2 == 1L, "edited doc should canonicalize to the base doc")
  }

  test("exact jaccard is 1 for identical and low for unrelated") {
    val docs = docsDf(Seq(1L -> "a b c d e f g", 2L -> "a b c d e f g", 3L -> "x y z w q r t"))
    val j = docs.as("l")
      .crossJoin(docs.as("r"))
      .filter(col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id"), col("r.doc_id"),
        MinHash.exactJaccard(col("l.text"), col("r.text")).as("j"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((1L, 2L)) == 1.0)
    assert(j((1L, 3L)) == 0.0)
  }

  test("hammingPairs == brute-force distance join on the production 64-bit face") {
    val s = spark
    import s.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = docsDf(Seq(
      (0L, base), (1L, base), (2L, base + " tail"), (3L, base + " different tail"),
      (4L, "completely unrelated text about catalyst optimizer internals"),
      (5L, "another fully distinct document with its own vocabulary set"),
      (6L, null), (7L, base + " tail"),
    ))
    val sh = SimHash.simhashOf(docs.filter(col("text").isNotNull), "doc_id", "text")
    val banded = SimHash.hammingPairs(sh, r = 3, bits = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute force over the same fingerprints (test-only cross join)
    val fps = sh.collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (ia, fa) <- fps; (ib, fb) <- fps if ia < ib
      d = java.lang.Long.bitCount(fa ^ fb) if d <= 3
    } yield (ia, ib, d)).toSet
    assert(banded == brute, s"banded $banded\nbrute $brute")
    // non-vacuity: the planted exact dups must appear at distance 0
    assert(banded.exists { case (a, b, d) => Set(a, b).subsetOf(Set(0L, 1L)) && d == 0 })
    // hot-bucket guard (armed by default): 120 identical fingerprints in
    // one bucket with maxBucket=10 would silently lose every pair among
    // the MOST-replicated content — the default maxHotDropFrac must fail
    // loudly instead of emitting the empty subset
    val clones = (0L until 120L).map(i => (i, base)).toDF("doc_id", "text")
    val shc = SimHash.simhashOf(clones, "doc_id", "text")
    val guardErr = intercept[IllegalStateException] {
      SimHash.hammingPairs(shc, r = 3, bits = 64, maxBucket = 10).count()
    }
    assert(guardErr.getMessage.contains("hot"), guardErr.getMessage)
    // explicit opt-out retains the documented prospective-cap subset
    // semantics (here: everything hot → empty output)
    assert(SimHash.hammingPairs(shc, r = 3, bits = 64, maxBucket = 10,
      maxHotDropFrac = 1.0).count() == 0)
    // and a corpus under the cap sails through the armed default: the
    // 8-doc face above already proved that (banded == brute ran with the
    // guard on), so the guard adds zero false positives at benign sizes
  }

  test("simhash: small edits stay within small hamming distance") {
    val base = "one two three four five six seven eight nine ten eleven twelve"
    val edited = base.replace("twelve", "thirteen")
    val unrelated = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val df = docsDf(Seq(1L -> base, 2L -> edited, 3L -> unrelated))
      .select(col("doc_id"), SimHash.simhash64(split(col("text"), " ")).as("sh"))
    val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(m(1L), m(2L)) < ham(m(1L), m(3L)),
      s"edit distance ${ham(m(1L), m(2L))} should be below unrelated ${ham(m(1L), m(3L))}")
    assert(m(1L) != m(3L))
  }

  test("block-partitioned exact pairs == broadcast exact pairs (and never collects the corpus)") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    // the block kernel must be lazy: the old implementation ran a
    // corpus-collect job at CALL time — assert plan construction runs no job
    val jobsBefore = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val block = Similarity.exactPairsAbove(emb, threshold = 0.35, blocks = 7)
    val jobsAfter = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(jobsAfter == jobsBefore, "building the block-pairs plan must not run a driver collect")

    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val blockPairs = pairs(block)
    val broadcastPairs = pairs(Similarity.exactPairsAboveBroadcast(emb, threshold = 0.35))
    assert(blockPairs == broadcastPairs)
    assert(blockPairs.nonEmpty, "sf0.001 embeddings should contain planted near-dup pairs")
    assert(blockPairs.forall { case (a, bb) => a < bb })
    // equivalence must hold for every block count, including degenerate B=1
    assert(pairs(Similarity.exactPairsAbove(emb, threshold = 0.35, blocks = 1)) == broadcastPairs)
  }

  test("exactPairsAboveBroadcast collect cap: refusal, conf override, malformed conf") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val key = Similarity.MaxBroadcastRowsKey
    try {
      // cap below the corpus size → the pre-flight must refuse the collect
      // and point at the scale paths, never reach the driver broadcast
      spark.conf.set(key, "3")
      val refusal = intercept[IllegalArgumentException] {
        Similarity.exactPairsAboveBroadcast(emb, threshold = 0.35).count()
      }
      assert(refusal.getMessage.contains("quantizedLshPairsAbove"), refusal.getMessage)
      assert(refusal.getMessage.contains(key), refusal.getMessage)
      // cap above the corpus size → runs normally (whitespace tolerated)
      spark.conf.set(key, " 100000 ")
      assert(Similarity.exactPairsAboveBroadcast(emb, threshold = 0.35).count() > 0)
      // malformed conf → loud parse error naming the key, not a bare
      // NumberFormatException from deep inside an option chain
      spark.conf.set(key, "lots")
      val parseErr = intercept[IllegalArgumentException] {
        Similarity.exactPairsAboveBroadcast(emb, threshold = 0.35).count()
      }
      assert(parseErr.getMessage.contains(key) && parseErr.getMessage.contains("lots"),
        parseErr.getMessage)
    } finally spark.conf.unset(key)
    // default (conf unset) admits the tiny corpus
    assert(Similarity.exactPairsAboveBroadcast(emb, threshold = 0.35).count() > 0)
  }

  test("star-contraction CC == union-find CC on random, chain and isolated graphs") {
    val s = spark
    import s.implicits._
    def check(vs: Seq[Long], es: Seq[(Long, Long)], clue: String): Unit = {
      val vdf = vs.toDF("id")
      val edf = es.toDF("x", "y")
      val starsCc = Dedup.connectedComponentsStars(vdf, edf)
      val stars = starsCc.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // every closure call reports the rounds it ran
      assert(starsCc.rounds >= 1, s"$clue: stars rounds unset")
      val baselineCc = Dedup.connectedComponents(vdf, edf)
      val baseline = baselineCc.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(baselineCc.rounds >= 0, s"$clue: min-label rounds unset")
      assert(stars == baseline, clue)
    }
    // long chain — the adversarial case for min-label propagation
    check(1L to 400L, (1L until 400L).map(i => (i, i + 1)), "chain")
    // isolated vertices + an edge with an unknown endpoint (must drop)
    check(Seq(1L, 2L, 3L, 10L), Seq((1L, 2L), (2L, 999L)), "isolated+unknown")
    // random graphs
    for (seed <- Seq(11, 22, 33)) {
      val rnd = new scala.util.Random(seed)
      val n = 120
      val es = Seq.fill(100)((rnd.nextInt(n).toLong + 1, rnd.nextInt(n).toLong + 1))
        .filter { case (a, b) => a != b }
      check(1L to n.toLong, es, s"random seed=$seed")
    }
  }

  test("frame sample: per-blob frame_idx, bounded fanout, stable under repartitioning") {
    val s = spark
    import s.implicits._
    // blob sizes chosen around the slice boundaries: 0.5, 1, 2.5, 9 KiB
    val blobs = Seq(
      (1L, Array.fill[Byte](512)(1)),
      (2L, Array.fill[Byte](1024)(2)),
      (3L, Array.fill[Byte](2560)(3)),
      (4L, Array.fill[Byte](9216)(4)),
      (5L, null: Array[Byte]),
    ).toDF("id", "blob")
    def run(df: org.apache.spark.sql.DataFrame) =
      Multimodal.frameSample(df, "blob", everyNth = 2, maxFrames = 3)
        .select(col("id"), col("frame_idx"), length(col("frame")).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val out = run(blobs)
    assert(out == Set(
      (1L, 0L, 512),           // single short slice
      (2L, 0L, 1024),          // exactly one slice
      (3L, 0L, 1024), (3L, 2L, 512),  // 3 slices → idx 0, 2
      (4L, 0L, 1024), (4L, 2L, 1024), (4L, 4L, 1024), // 9 slices, capped at 3 frames
    ))
    // frame_idx comes from the generator, not a global id — any partitioning
    // must produce the identical set
    assert(run(blobs.repartition(7)) == out)
  }

  test("multi-frame GIF decode: exact round-trip, slice fallback, bomb guard, corrupt classify") {
    val s = spark
    import s.implicits._
    // round-trip: every synthesized frame decodes back to EXACTLY the
    // aHash of the raster that was encoded (gray palette is lossless)
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .limit(30).select(col("doc_id"))
    val out = Multimodal.decodeFrames(Multimodal.synthesizeGifs(docs, "doc_id"), "blob")
      .select(col("doc_id"), col("frame_idx"), col("kind"), col("width"),
        col("height"), col("frame_ahash"), col("n_frames"))
      .collect()
    val byDoc = out.groupBy(_.getLong(0))
    assert(byDoc.size == 30)
    byDoc.foreach { case (id, rows) =>
      val nf = (2 + id % 3).toInt
      val (w, h) = ((8 + id % 9).toInt, (8 + (id / 3) % 9).toInt)
      assert(rows.length == nf && rows.forall(_.getString(2) == "frame"))
      assert(rows.forall(r => r.getInt(3) == w && r.getInt(4) == h && r.getInt(6) == nf))
      rows.foreach { r =>
        val k = r.getLong(1)
        // expectation from the RAW LCG bytes (what the oracle derives) —
        // NOT getRGB over the gray source image, whose color model runs
        // the ICC gray→sRGB conversion; the decoded GIF palette returns
        // the raw samples, which is the whole point of the fixture
        val sums = new Array[Long](64); val counts = new Array[Long](64)
        var x = (id + 1) * 1000003L + k
        for (j <- 0 until h; i <- 0 until w) {
          x = x * 6364136223846793005L + 1442695040888963407L
          val c = (j * 8 / h) * 8 + i * 8 / w
          sums(c) += (x >>> 40) & 0xff; counts(c) += 1
        }
        val expected = Multimodal.aHash(
          Array.tabulate(64)(c => sums(c) / counts(c)))
        assert(r.getLong(5) == expected, s"doc $id frame $k hash drift")
      }
    }
    // undecodable blob → byte-slice fallback rows in the same schema
    // (frameSample's stride contract), null/empty blobs → no rows
    val junk = Seq(
      (1L, Array.fill[Byte](2560)(7)),
      (2L, null: Array[Byte]),
      (3L, Array.emptyByteArray),
    ).toDF("doc_id", "blob")
    val slices = Multimodal.decodeFrames(junk, "blob", maxFrames = 3, sliceEveryNth = 2)
      .select(col("doc_id"), col("frame_idx"), col("kind"), col("width")).collect()
    assert(slices.forall(r => r.getLong(0) == 1L && r.getString(2) == "slice" && r.isNullAt(3)))
    assert(slices.map(_.getLong(1)).sorted.toSeq == Seq(0L, 2L))
    // decompression bomb: patch a real GIF's logical-screen + image
    // descriptor dims (little-endian u16) to 65535×65535 ≈ 4.3 Gpx — the
    // per-frame header guard must classify "oversize" without decoding
    val (bw, bh) = (9, 8)
    val bomb = {
      val g = new Multimodal.GifEncoder()
        .encode(Seq(Multimodal.syntheticGifFrame(5L, bw, bh))).clone()
      def le16(v: Int) = ((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
      // logical screen descriptor dims at offsets 6..9
      g(6) = 0xff.toByte; g(7) = 0xff.toByte; g(8) = 0xff.toByte; g(9) = 0xff.toByte
      // image descriptor: 0x2C sep, left(2), top(2), w LE, h LE
      val i = g.indices.indexWhere { i =>
        i + 8 < g.length && g(i) == 0x2c.toByte &&
          (g(i + 5), g(i + 6)) == le16(bw) && (g(i + 7), g(i + 8)) == le16(bh)
      }
      assert(i > 0, "image descriptor not found")
      g(i + 5) = 0xff.toByte; g(i + 6) = 0xff.toByte
      g(i + 7) = 0xff.toByte; g(i + 8) = 0xff.toByte
      g
    }
    val bombRows = Multimodal.decodeFrameRows(bomb, 8, 4, 1024)
    assert(bombRows.nonEmpty && bombRows.head.getString(1) == "oversize",
      bombRows.mkString(","))
    assert(bombRows.head.getInt(2) == 65535 && bombRows.head.isNullAt(4))
    // truncated container (valid magic, headers gone): classifies corrupt,
    // never throws out of the task
    val truncated = new Multimodal.GifEncoder()
      .encode(Seq(Multimodal.syntheticGifFrame(5L, 9, 8))).take(20)
    val corrupt = Multimodal.decodeFrameRows(truncated, 8, 4, 1024)
    assert(corrupt.forall(_.getString(1) == "corrupt"), corrupt.mkString(","))
    // deterministic fixture bytes (streaming replay safety)
    val enc = new Multimodal.GifEncoder
    assert(java.util.Arrays.equals(
      enc.encode(Seq(Multimodal.syntheticGifFrame(7L, 10, 9))),
      enc.encode(Seq(Multimodal.syntheticGifFrame(7L, 10, 9)))))
  }

  test("GIF frame decode fuzz: random dims × frame counts round-trip exactly") {
    // the registered fixture covers dims 8..16 and 2..4 frames; the codec
    // contract (gray palette losslessness, frame enumeration) must hold
    // across the wider space, including 1-pixel-wide and single-frame
    // containers
    val enc = new Multimodal.GifEncoder
    for (seed <- 1 to 25) {
      val rnd = new scala.util.Random(seed)
      val (w, h) = (1 + rnd.nextInt(40), 1 + rnd.nextInt(40))
      val nF = 1 + rnd.nextInt(6)
      val frames = (0 until nF).map(k => Multimodal.syntheticGifFrame(seed * 1000L + k, w, h))
      val rows = Multimodal.decodeFrameRows(enc.encode(frames), maxFrames = 8,
        sliceEveryNth = 4, sliceBytes = 1024)
      assert(rows.length == nF && rows.forall(_.getString(1) == "frame"),
        s"seed $seed ${w}x$h x$nF: $rows")
      rows.zipWithIndex.foreach { case (r, k) =>
        assert(r.getInt(2) == w && r.getInt(3) == h && r.getInt(5) == nF)
        // recompute the expected hash from the raw LCG bytes (grid the
        // samples exactly as luminanceGrid does, incl. the point-sample
        // fallback for sources smaller than 8x8)
        val img = frames(k)
        val expected = {
          val sums = new Array[Long](64); val counts = new Array[Long](64)
          if (w >= 8 && h >= 8) {
            for (j <- 0 until h; i <- 0 until w) {
              val c = (j * 8 / h) * 8 + i * 8 / w
              sums(c) += img.getRaster.getSample(i, j, 0); counts(c) += 1
            }
            Multimodal.aHash(Array.tabulate(64)(c => sums(c) / counts(c)))
          } else Multimodal.aHash(Array.tabulate(64) { c =>
            img.getRaster.getSample((c % 8) * w / 8, (c / 8) * h / 8, 0).toLong
          })
        }
        assert(r.getLong(4) == expected, s"seed $seed frame $k hash drift")
      }
    }
    // maxFrames truncation is bounded and visible via n_frames
    val many = enc.encode((0 until 6).map(k => Multimodal.syntheticGifFrame(k, 9, 9)))
    val capped = Multimodal.decodeFrameRows(many, maxFrames = 3, 4, 1024)
    assert(capped.length == 3 && capped.forall(_.getInt(5) == 6))
  }

  test("resizeLuma: lossless gray round-trip, point-sample fallback, undecodable classifies") {
    val s = spark
    import s.implicits._
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .limit(25).select(col("doc_id"), (col("doc_id") * 4 + 1).as("img_id"))
    val blobs = Multimodal.synthesizeImages(docs, "img_id")
    val out = Multimodal.resizeLuma(blobs, "blob", outW = 6, outH = 5)
      .select(col("doc_id"), col("img_id"), col("resized")).collect()
    assert(out.length == 25 && out.forall(!_.isNullAt(2)))
    out.foreach { r =>
      // decoding the resized blob back must return EXACTLY the area-mean
      // grid of the original raster — the sample-direct gray PNG encode
      // is lossless by construction
      val original = Multimodal.synthesizeImages(
        Seq((r.getLong(1), r.getLong(1))).toDF("doc_id", "img_id"), "img_id")
        .select("blob").head.getAs[Array[Byte]](0)
      val grid = Multimodal.luminanceGrid(
        javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(original)), 6, 5)
      val expectedHex = grid.map(v => f"$v%02x").mkString
      assert(Multimodal.graySamplesHex(r.getAs[Array[Byte]](2)) == expectedHex,
        s"doc ${r.getLong(0)} resize round-trip drift")
    }
    // tiny source (4×3 < 6×5 target): the point-sample fallback still
    // produces a full 6×5 resized raster
    val tiny = Seq((1L, Multimodal.syntheticPng(5L, 4, 3))).toDF("doc_id", "blob")
    val tinyOut = Multimodal.resizeLuma(tiny, "blob", 6, 5)
      .select("resized").head.getAs[Array[Byte]](0)
    assert(tinyOut != null && Multimodal.graySamplesHex(tinyOut).length == 6 * 5 * 2)
    // undecodable → null resized, never throws
    val junk = Seq((1L, "not an image".getBytes("UTF-8"))).toDF("doc_id", "blob")
    assert(Multimodal.resizeLuma(junk, "blob", 6, 5).select("resized").head.isNullAt(0))
  }

  test("lsh ann recall vs brute force on sf0.001 embeddings") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(emb, queries, k = 5).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val lsh = Similarity.lshTopK(emb, queries, k = 5, planes = 2).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    // with only 2 planes (4 buckets) recall should be decent on 500 vecs
    val recalls = brute.keys.toSeq.map { q =>
      val found = lsh.getOrElse(q, Set.empty)
      found.intersect(brute(q)).size.toDouble / 5.0
    }
    assert(recalls.nonEmpty && recalls.sum / recalls.size > 0.2,
      s"mean recall too low: ${recalls.sum / recalls.size}")
  }

  test("ivf ann recall vs brute force on sf0.001 embeddings") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(emb, queries, k = 5).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val ivf = Similarity.ivfTopK(emb, queries, k = 5, nCells = 8, nProbe = 4).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    // probing half the cells should catch most true neighbors
    val recalls = brute.keys.toSeq.map { q =>
      ivf.getOrElse(q, Set.empty).intersect(brute(q)).size.toDouble / 5.0
    }
    assert(recalls.nonEmpty && recalls.sum / recalls.size > 0.4,
      s"mean recall too low: ${recalls.sum / recalls.size}")
  }

  test("undersized LSH planes fail loudly when armed; autoPlanes sizes from occupancy") {
    val s = spark
    import s.implicits._
    // 120 near-identical vectors: with planes=4 they all share one bucket,
    // which blows a maxBucket of 10 — the silent outcome is an EMPTY edge
    // set (the r9 degeneration incident); the armed guard must throw with
    // a sizing hint instead
    val clones = (0L until 120L)
      .map(i => (i, Array.fill(8)(1.0f + (i % 3) * 1e-7f)))
      .toDF("vec_id", "embedding")
    val silent = Similarity.quantizedLshPairsAbove(
      clones, tNum = 7, tDen = 20, planes = 4, maxBucket = 10)
    assert(silent.count() == 0, "unarmed undersized planes degenerate silently (documented)")
    val e = intercept[IllegalStateException] {
      Similarity.quantizedLshPairsAbove(
        clones, tNum = 7, tDen = 20, planes = 4, maxBucket = 10,
        maxHotDropFrac = 0.5).count()
    }
    assert(e.getMessage.contains("autoPlanes") && e.getMessage.contains("120 of 120"),
      e.getMessage)
    // a healthy corpus passes with the guard armed (sf0.001 embeddings,
    // the registered query's own configuration)
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    assert(Similarity.quantizedLshPairsAbove(
      emb, tNum = 7, tDen = 20, planes = 8, maxHotDropFrac = 0.5).count() >= 0)
    // the sizing rule: ≈log2(N/targetOccupancy), clamped to [min, max]
    assert(Similarity.autoPlanes(1000, targetOccupancy = 500) == 4) // clamp floor
    assert(Similarity.autoPlanes(512000, targetOccupancy = 500) == 10)
    assert(Similarity.autoPlanes(1L << 40, targetOccupancy = 1) == 40)
    assert(Similarity.autoPlanes(1L << 60, targetOccupancy = 1, maxPlanes = 62) == 60)
    assert(Similarity.autoPlanes(0) == 4)
  }

  test("quantized LSH near-dup pairs are a subset of the exact quantized pair set") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val exact = Similarity.quantizedPairsAbove(emb, tNum = 7, tDen = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bucketed = Similarity.quantizedLshPairsAbove(emb, tNum = 7, tDen = 20, planes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bucketed.nonEmpty, "bucketed pair set must not be empty on the test corpus")
    assert(bucketed.subsetOf(exact),
      s"bucketing may drop pairs but must never admit below-threshold ones: ${bucketed -- exact}")
  }

  test("multi-probe quantized LSH never finds fewer neighbors than single-probe") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    def ids(mp: Boolean) =
      Similarity.quantizedLshTopK(emb, queries, k = 5, planes = 8, multiProbe = mp)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val single = ids(mp = false)
    val multi = ids(mp = true)
    assert(single.nonEmpty)
    // Hamming-1 probes only ADD candidate buckets; with more candidates the
    // per-query top-k can only improve (scores are exact), so every
    // single-probe result set size is a lower bound
    assert(multi.size >= single.size,
      s"multi-probe shrank the result set: ${single.size} -> ${multi.size}")
  }

  test("quantized IVF recall vs exact quantized MIPS on sf0.001 embeddings") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val exact = Similarity.quantizedMipsTopK(emb, queries, k = 5).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val ivf = Similarity.quantizedIvfTopK(emb, queries, k = 5, nCells = 8, nProbe = 4).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val recalls = exact.keys.toSeq.map { q =>
      ivf.getOrElse(q, Set.empty).intersect(exact(q)).size.toDouble / 5.0
    }
    assert(recalls.nonEmpty && recalls.sum / recalls.size > 0.4,
      s"mean recall too low: ${recalls.sum / recalls.size}")
  }

  test("connected components closes transitive near-dup chains (both paths)") {
    val s = spark
    import s.implicits._
    // chain 1-2-3-4, pair 10-11, singleton 20
    val vertices = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a", "b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L, 20L -> 20L)
    // driver union-find path (under the collect threshold)
    val small = graft.operators.Dedup.connectedComponents(vertices, edges).labels
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(small == expected)
    // distributed min-label + pointer-jumping path (threshold forced to 0)
    val dist = graft.operators.Dedup.connectedComponents(vertices, edges, collectThreshold = 0L).labels
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == expected)
    // an iteration budget too small to converge must fail fast, never
    // return a silently-unconverged (wrong) label set
    val e = intercept[IllegalArgumentException] {
      graft.operators.Dedup.connectedComponents(
        vertices, edges, maxIter = 1, collectThreshold = 0L).labels.collect()
    }
    assert(e.getMessage.contains("converge"))
  }

  test("native cosine expression matches the HOF formulation bit-for-bit") {
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val l = emb.select(col("vec_id").as("ia"), col("embedding").as("va")).limit(40)
    val r = emb.select(col("vec_id").as("ib"), col("embedding").as("vb")).limit(40)
    val pairs = l.crossJoin(r)
    val diffs = pairs
      .select(
        Similarity.cosine(col("va"), col("vb")).as("native"),
        Similarity.cosineHof(col("va"), col("vb")).as("hof"))
      .filter(col("native") =!= col("hof"))
      .count()
    assert(diffs == 0)
    // null inputs propagate null
    val s = spark
    import s.implicits._
    val withNull = Seq((Some(Array(1.0f, 2.0f)), Option.empty[Array[Float]])).toDF("a", "b")
    assert(withNull.select(Similarity.cosine(col("a"), col("b"))).head.isNullAt(0))
    // registered with the SQL function registry via GraftExtensions
    val sqlVal = Seq((Array(1.0f, 0.0f), Array(1.0f, 0.0f))).toDF("a", "b")
      .createOrReplaceTempView("cos_probe")
    assert(spark.sql("SELECT cosine_similarity(a, b) FROM cos_probe").head.getDouble(0) == 1.0)
  }

  test("null embedding rows are dropped by every similarity kernel, never NPE") {
    val s = spark
    import s.implicits._
    // 5 real vectors + one null row — the shape decodeAndFeaturize emits
    // for an undecodable blob composed into a retrieval stage
    val base = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .filter(col("vec_id") < 5).select("vec_id", "embedding")
    val withNull = base.unionByName(
      Seq((99L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding"))
    val qs = withNull.filter(col("vec_id") < 2 || col("vec_id") === 99L)
    // each family: runs clean, and id 99 appears as neither query nor
    // neighbor in any result
    def ids(df: org.apache.spark.sql.DataFrame, cols: String*): Set[Long] =
      df.collect().flatMap(r => cols.map(c => r.getLong(r.fieldIndex(c)))).toSet
    val brute = ids(Similarity.bruteForceTopK(withNull, qs, k = 2), "query_id", "neighbor_id")
    val mips = ids(Similarity.quantizedMipsTopK(withNull, qs, k = 2), "query_id", "neighbor_id")
    val pairs = ids(Similarity.exactPairsAbove(withNull, threshold = -1.0), "id_a", "id_b")
    val qpairs = ids(Similarity.quantizedLshPairsAbove(withNull, 1, 100), "id_a", "id_b")
    for ((got, name) <- Seq((brute, "brute"), (mips, "mips"), (pairs, "pairs"), (qpairs, "lsh-pairs")))
      assert(!got.contains(99L), s"$name must drop the null-vector row, got $got")
    // and the CC closure keeps the null-vector id as its own component
    val cc = graft.operators.Dedup.connectedComponentsStars(
      withNull.select("vec_id"),
      Similarity.quantizedLshPairsAbove(withNull, 1, 100, planes = 2)).labels
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc(99L) == 99L, s"null-vector doc must stay self-canonical: $cc")
  }

  test("JVM minhash kernels are bit-identical to the batch Column pipeline") {
    val docs = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("text").isNotNull).limit(60)
    val fromCols = MinHash.signatures(docs, "doc_id", "text")
      .select(col("doc_id"), col("sig"), MinHash.bandKeys(col("sig"), 16, 4).as("bks"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getSeq[Long](1).toVector, r.getSeq[Int](2).toVector)))
      .toMap
    val s = spark
    import s.implicits._
    val fromJvm = docs
      .select(col("doc_id"), graft.functions.ShingleHash64(col("text"), 3).as("hs"))
      .as[(Long, Array[Long])]
      .collect()
      .map { case (id, hs) =>
        val sig = MinHash.signatureJvm(hs, 64)
        id -> ((sig.toVector, MinHash.bandKeysJvm(sig, 16).toVector))
      }
      .toMap
    assert(fromJvm.size == fromCols.size && fromJvm.nonEmpty)
    fromCols.foreach { case (id, (sig, bks)) =>
      assert(fromJvm(id)._1 == sig, s"signature drift at doc $id")
      assert(fromJvm(id)._2 == bks, s"band-key drift at doc $id")
    }
  }

  test("multimodal real decode round-trips synthesized PNG headers; non-images classify") {
    val docs = Multimodal.synthesizeImages(
      graft.Tables(spark, "/root/testdata/sf0.001", "documents")
        .limit(50).select(col("doc_id")), "doc_id")
    val out = Multimodal.decodeAndFeaturize(docs, "blob")
    val rows = out.select(
      col("doc_id"), col("meta.width"), col("meta.height"), col("meta.channels"),
      col("meta.format"), col("features")).collect()
    assert(rows.length == 50)
    // javax.imageio must read back exactly the dims/bands the writer encoded
    assert(rows.forall { r =>
      val id = r.getLong(0)
      r.getInt(1) == 8 + (id % 32).toInt && r.getInt(2) == 8 + ((id / 3) % 32).toInt &&
        r.getInt(3) == (if (id % 4 == 0) 1 else 3) && r.getString(4) == "png"
    }, rows.take(5).mkString(", "))
    assert(rows.forall(r => r.getSeq[Float](5).length == 64))
    // non-image bytes classify as undecodable, never throw — the common
    // row on a real crawl corpus
    val junk = Multimodal.decodeImageMeta("not an image".getBytes("UTF-8"))
    assert(junk.getString(3) == "undecodable")
    assert(Multimodal.decodeImageMeta(Array.emptyByteArray).getString(3) == "empty")
    // valid PNG magic but truncated header — the typical corrupt row on a
    // crawl corpus: must classify, never throw out of the task
    val truncated = Multimodal.syntheticPng(3L, 10, 10).take(16)
    assert(Multimodal.decodeImageMeta(truncated).getString(3) == "undecodable")
    // deterministic: same seed → identical bytes (streaming replay safety)
    assert(java.util.Arrays.equals(Multimodal.syntheticPng(7L, 12, 9),
      Multimodal.syntheticPng(7L, 12, 9)))
  }

  test("ahash64/dhash64 SQL expressions match decodeAndFeaturize bit-for-bit; nulls classify") {
    val s = spark
    import s.implicits._
    val blobs = Multimodal.synthesizeImages(
      graft.Tables(spark, "/root/testdata/sf0.001", "documents")
        .limit(30).select(col("doc_id")), "doc_id")
    val op = Multimodal.decodeAndFeaturize(blobs, "blob")
      .select(col("doc_id"), col("ahash"), col("dhash"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    blobs.createOrReplaceTempView("ph_probe")
    val sql = spark.sql("SELECT doc_id, ahash64(blob) AS a, dhash64(blob) AS d FROM ph_probe")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(sql == op, "SQL expressions must emit the operator's exact bits")
    // undecodable and null blobs evaluate to NULL, never throw
    val junk = Seq((1L, "not an image".getBytes("UTF-8")), (2L, null.asInstanceOf[Array[Byte]]))
      .toDF("doc_id", "blob")
    junk.createOrReplaceTempView("ph_junk")
    val nulls = spark.sql("SELECT ahash64(blob), dhash64(blob) FROM ph_junk").collect()
    assert(nulls.forall(r => r.isNullAt(0) && r.isNullAt(1)), nulls.mkString(","))
  }

  test("perceptual hashes: deterministic, sensitive, Hamming-meaningful; gray path covered") {
    def img(seed: Long, w: Int = 24, h: Int = 16): java.awt.image.BufferedImage =
      javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(Multimodal.syntheticPng(seed, w, h)))
    def hashes(seed: Long, w: Int = 24, h: Int = 16): (Long, Long) = {
      val im = img(seed, w, h)
      (Multimodal.aHash(Multimodal.luminanceGrid(im, 8, 8)),
        Multimodal.dHash(Multimodal.luminanceGrid(im, 9, 8)))
    }
    // deterministic across decodes (replay safety)
    assert(hashes(11L) == hashes(11L))
    // different content → different hashes (sensitivity; LCG noise images
    // are maximally far apart, so equality would mean a dead kernel)
    assert(hashes(11L) != hashes(13L))
    // a solid image and its one-bright-block variant are CLOSE in Hamming
    // distance but not equal — the property perceptual hashing exists for.
    // (The block is BRIGHTER than the background: one bright cell leaves
    // the floor-mean at the background level, flipping exactly that cell's
    // bit; a darker block would drag the mean under the 63 background
    // cells and flip all of them — aHash's known near-uniform edge.)
    val flat = new java.awt.image.BufferedImage(32, 32,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (j <- 0 until 32; i <- 0 until 32) flat.setRGB(i, j, 0xc0c0c0)
    val dent = new java.awt.image.BufferedImage(32, 32,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (j <- 0 until 32; i <- 0 until 32)
      dent.setRGB(i, j, if (i < 4 && j < 4) 0xffffff else 0xc0c0c0)
    def d64(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val fa = Multimodal.aHash(Multimodal.luminanceGrid(flat, 8, 8))
    val da = Multimodal.aHash(Multimodal.luminanceGrid(dent, 8, 8))
    assert(fa != da && d64(fa, da) <= 8, s"ahash dist ${d64(fa, da)}")
    // gray images (seed % 4 == 0 → TYPE_BYTE_GRAY) flow through the same
    // kernel deterministically — the JDK ICC gray conversion is stable
    // within a JVM even though it is not SQL-re-derivable
    assert(hashes(8L) == hashes(8L))
    assert(img(8L).getColorModel.getNumComponents == 1)
    // tiny images take the point-sample fallback and still hash
    val tiny = Multimodal.luminanceGrid(img(5L, 4, 3), 8, 8)
    assert(tiny.length == 64 && tiny.forall(v => v >= 0 && v <= 255))
    // decompression-bomb guard: a PNG declaring a raster past
    // MaxDecodePixels must classify (null features), never allocate.
    // Forge the dims in a real tiny PNG's IHDR (bytes 16-23 w/h,
    // big-endian) — the header parse sees 1 Gpx, the guard refuses
    // before ImageIO.read can try to build a 4 GB raster
    val bomb = Multimodal.syntheticPng(9L, 10, 10).clone()
    def put32(off: Int, v: Int): Unit = {
      bomb(off) = (v >>> 24).toByte; bomb(off + 1) = (v >>> 16).toByte
      bomb(off + 2) = (v >>> 8).toByte; bomb(off + 3) = v.toByte
    }
    put32(16, 32768); put32(20, 32768)
    // re-sign the IHDR chunk (type + 13 data bytes) so the header parse
    // sees a VALID header with huge dims, not a CRC error
    val crc = new java.util.zip.CRC32
    crc.update(bomb, 12, 17)
    put32(29, crc.getValue.toInt)
    val s2 = spark
    import s2.implicits._
    val bombed = Multimodal.decodeAndFeaturize(
      Seq((1L, bomb)).toDF("doc_id", "blob"), "blob")
      .select(col("meta.width"), col("features")).head
    assert(bombed.getInt(0) == 32768 && bombed.isNullAt(1),
      "oversized raster must classify with null features, not allocate")
    // known fixture: hand-computable 2-level image — left half dark,
    // right half bright → aHash sets exactly the right-half bits;
    // dHash fires exactly at the dark→bright column boundary
    val half = new java.awt.image.BufferedImage(16, 16,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (j <- 0 until 16; i <- 0 until 16)
      half.setRGB(i, j, if (i < 8) 0x000000 else 0xffffff)
    val hg8 = Multimodal.luminanceGrid(half, 8, 8)
    // grid mean = (0*32 + 255*32)/64 = 127 (floor) → bright cells (gx>=4) set
    val expectA = (0 until 64).filter(c => c % 8 >= 4).map(1L << _).sum
    assert(Multimodal.aHash(hg8) == expectA)
    val hg9 = Multimodal.luminanceGrid(half, 9, 8)
    // 9-col cells: gx = i*9/16 → cols 0..3 dark (i<8), col 4 mixed
    // (i=8 dark? i*9/16: i=7→3, i=8→4 bright 255... i in cell 4: 8
    // → bright), cols 4..8 bright → single rising edge at gx=3→4
    val expectD = (0 until 8).map(gy => 1L << (gy * 8 + 3)).sum
    assert(Multimodal.dHash(hg9) == expectD)
  }

  test("nearDupAgainst: flags incoming-vs-existing only, never incoming-vs-incoming") {
    val s = spark
    import s.implicits._
    val existing = docsDf(Seq(
      100L -> "alpha beta gamma delta epsilon zeta",
      101L -> "unrelated totally different words here",
    ))
    val incoming = docsDf(Seq(
      1L -> "alpha beta gamma delta epsilon zeta", // exact dup of existing 100
      2L -> "fresh new content nothing shared anywhere", // genuinely new
      3L -> "fresh new content nothing shared anywhere", // dup of INCOMING 2 only
      4L -> null, // null text: no shingles, never flagged
    ))
    def flags(out: org.apache.spark.sql.DataFrame) =
      out.collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val expected = Map(1L -> true, 2L -> false, 3L -> false, 4L -> false)
    val md5 = flags(MinHash.nearDupAgainstMd5(incoming, existing))
    assert(md5 == expected, s"md5 family: $md5")
    // the production xxhash64 family holds the same two-corpus contract
    val native = flags(MinHash.nearDupAgainst(incoming, existing))
    assert(native == expected, s"native family: $native")
    // layout independence: re-partitioned incoming gives identical flags
    assert(flags(MinHash.nearDupAgainstMd5(incoming.repartition(5), existing)) == expected)
    // hot-bucket policy inherited from the canonical family: 60 identical
    // boilerplate existing docs blow the maxBucket=50 cap, so an incoming
    // copy is NOT flagged (boilerplate ≠ duplicate evidence) — raising the
    // cap past the bucket size flags it again
    val boiler = docsDf((500L until 560L).map(i => i -> "the same boilerplate line everywhere"))
    val incBp = docsDf(Seq(9L -> "the same boilerplate line everywhere"))
    assert(flags(MinHash.nearDupAgainstMd5(incBp, boiler)) == Map(9L -> false))
    assert(flags(MinHash.nearDupAgainstMd5(incBp, boiler, maxBucket = 100)) == Map(9L -> true))
  }

  test("nearDupAgainst fuzz: exact dups always flagged, disjoint-vocab never, both families") {
    val s = spark
    import s.implicits._
    for (seed <- Seq(11, 23, 37)) {
      val rnd = new scala.util.Random(seed)
      val vocabA = Vector("aa", "bb", "cc", "dd", "ee", "ff")
      val vocabB = Vector("zz", "yy", "xx", "ww", "vv") // fully disjoint
      def sent(v: Vector[String]) =
        Seq.fill(3 + rnd.nextInt(6))(v(rnd.nextInt(v.size))).mkString(" ")
      val existing = (100L until 115L).map(i => (i, sent(vocabA)))
      val incoming: Seq[(Long, String)] = (0L until 30L).map { i =>
        i -> (rnd.nextInt(3) match {
          case 0 => existing(rnd.nextInt(existing.size))._2 // exact dup → MUST flag
          case 1 => sent(vocabB) // zero shared shingles → must NOT flag
          case _ => if (rnd.nextBoolean()) null else sent(vocabB)
        })
      }
      val exTexts = existing.map(_._2).toSet
      val expected = incoming.map { case (id, t) =>
        id -> (t != null && exTexts.contains(t))
      }.toMap
      val exDf = existing.toDF("doc_id", "text")
      val inDf = incoming.toDF("doc_id", "text")
      def flags(out: org.apache.spark.sql.DataFrame) =
        out.collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(flags(MinHash.nearDupAgainstMd5(inDf, exDf)) == expected, s"md5, seed=$seed")
      assert(flags(MinHash.nearDupAgainst(inDf.repartition(4), exDf)) == expected,
        s"native, seed=$seed")
    }
  }

  test("bucketKeys64Jvm == bucketDirectory64 column pipeline key-for-key") {
    val s = spark
    import s.implicits._
    val docs = docsDf(Seq(
      1L -> "alpha beta gamma delta epsilon",
      2L -> "one two three",
      3L -> "x", // sub-k text: single whole-text shingle
    ))
    val colKeys = MinHash.bucketDirectory64(docs).collect().map(_.getLong(0)).toSet
    val jvmKeys = docs.select(col("doc_id"),
        graft.functions.ShingleHash64(col("text"), 3).as("hs"))
      .as[(Long, Array[Long])].collect()
      .flatMap { case (_, hs) => MinHash.bucketKeys64Jvm(hs) }.toSet
    assert(colKeys == jvmKeys, s"column ${colKeys.size} keys vs jvm ${jvmKeys.size}")
  }

  test("semDedup == pure-Scala mirror on planted clusters; cell cap fails loudly") {
    val s = spark
    import s.implicits._
    // two planted directions; ids 0 and 1 seed the centroids (nCells = 2).
    // Members of each cluster are near-parallel (cos >> 0.35); the
    // cross-cluster pairs are orthogonal-ish; id 50 is a cluster-A dup of
    // id 10's direction, id 51 sits BETWEEN clusters (assignment decides).
    val vecs: Seq[(Long, Array[Float])] = Seq(
      0L -> Array(1.0f, 0.02f), // centroid 0 (cluster A)
      1L -> Array(0.03f, 1.0f), // centroid 1 (cluster B)
      10L -> Array(0.9f, 0.05f),
      11L -> Array(0.85f, -0.02f),
      20L -> Array(-0.01f, 0.7f),
      50L -> Array(0.88f, 0.06f),
      51L -> Array(0.5f, 0.52f),
      60L -> Array(-0.9f, -0.01f), // anti-parallel to A: assigned somewhere, dominates nothing
    )
    val df = vecs.map { case (id, v) => (id, v) }.toDF("vec_id", "embedding")

    // shared-code-free mirror of the documented semantics
    def qz(v: Array[Float]): Array[Long] = v.map(x => math.floor(x.toDouble * 1e6).toLong)
    val cents = vecs.sortBy(_._1).take(2).map(p => qz(p._2))
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    def cellOf(q: Array[Long]): Int =
      cents.indices.minBy(c => (-dot(q, cents(c)), c))
    def above(a: Array[Long], b: Array[Long]): Boolean = {
      val d = dot(a, b)
      d > 0 && BigInt(400) * (BigInt(d) * d) >= BigInt(49) * (BigInt(dot(a, a)) * dot(b, b))
    }
    val byCell = vecs.map { case (id, v) => (id, qz(v), cellOf(qz(v))) }
    val expected = byCell.map { case (id, q, c) =>
      val dominated = byCell.exists { case (id2, q2, c2) => c2 == c && id2 < id && above(q2, q) }
      id -> ((c, !dominated))
    }.toMap

    def run(d: org.apache.spark.sql.DataFrame) =
      Similarity.semDedup(d, tNum = 7, tDen = 20, nCells = 2).collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getBoolean(2)))).toMap
    val got = run(df)
    assert(got == expected, s"got $got\nexpected $expected")
    // the fixture must exercise both outcomes
    assert(got.values.exists(!_._2) && got.values.exists(_._2))
    // physical layout must not matter (cells re-shuffle by key)
    assert(run(df.repartition(7)) == got)
    // duplicate ids are NOT smaller-id mates: two identical id-0 rows must
    // both keep (the domination compare is strict on id, not sort position)
    val dup = (vecs :+ (0L -> Array(1.0f, 0.02f)))
      .map { case (id, v) => (id, v) }.toDF("vec_id", "embedding")
    val dupRows = Similarity.semDedup(dup, tNum = 7, tDen = 20, nCells = 2)
      .filter("vec_id = 0").collect().map(_.getBoolean(2)).toSeq
    assert(dupRows == Seq(true, true), s"duplicate id-0 rows: $dupRows")
    // fail-loud cap: cluster A holds >2 rows
    val e = intercept[org.apache.spark.SparkException] {
      Similarity.semDedup(df, tNum = 7, tDen = 20, nCells = 2, maxCellRows = 2).collect()
    }
    assert(e.getMessage.contains("maxCellRows") ||
      Option(e.getCause).exists(_.getMessage.contains("maxCellRows")))
  }

  test("ivfTopKWith: pre-trained centroids reproduce ivfTopK exactly") {
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = emb.filter(col("vec_id") < 5 && col("embedding").isNotNull)
    val cent = Similarity.ivfCentroids(emb, nCells = 8, iters = 2)
    val a = Similarity.ivfTopK(emb, queries, k = 3, nCells = 8, nProbe = 2, iters = 2)
      .select("query_id", "rank", "neighbor_id").collect().map(_.toString).sorted
    val b = Similarity.ivfTopKWith(cent, emb, queries, k = 3, nProbe = 2)
      .select("query_id", "rank", "neighbor_id").collect().map(_.toString).sorted
    assert(a.nonEmpty && a.sameElements(b))
  }

  test("recallAgainst: per-query intersection counts, zero rows for missed queries") {
    import spark.implicits._
    val approx = Seq((1L, 10L), (1L, 11L), (2L, 20L)).toDF("query_id", "neighbor_id")
    val exact = Seq((1L, 11L), (1L, 12L), (2L, 21L), (3L, 30L)).toDF("query_id", "neighbor_id")
    val queries = Seq(1L, 2L, 3L).toDF("vec_id")
    val got = Similarity.recallAgainst(approx, exact, queries)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // q1: 2 approx results, 1 in exact; q2: 1 approx, 0 found; q3: the
    // approximate pass returned nothing — still a (0, 0) row
    assert(got == Set((1L, 2L, 1L), (2L, 1L, 0L), (3L, 0L, 0L)))
  }

  test("pairCosineGate: keep iff quantized cosine clears the rational threshold; nulls drop") {
    val s = spark
    import s.implicits._
    val pairs = Seq(
      // identical vectors: cosine 1 — keep at any threshold
      (1L, Array(1f, 0f, 2f), Array(1f, 0f, 2f)),
      // orthogonal: dot 0 — never keep (dot > 0 is strict)
      (2L, Array(1f, 0f, 0f), Array(0f, 1f, 0f)),
      // opposed: negative dot — never keep
      (3L, Array(1f, 0f, 0f), Array(-1f, 0f, 0f)),
      // cos = 1/√2 ≈ 0.707: keep at 1/2, drop at 3/4
      (4L, Array(1f, 0f, 0f), Array(1f, 1f, 0f)),
      // missing modality: dropped, not errored
      (5L, null.asInstanceOf[Array[Float]], Array(1f, 0f, 0f)),
      (6L, Array(1f, 0f, 0f), null.asInstanceOf[Array[Float]]),
    ).toDF("doc_id", "features", "embedding")
    def keeps(tn: Int, td: Int): Map[Long, Long] =
      Multimodal.pairCosineGate(pairs, tn, td)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val atHalf = keeps(1, 2)
    assert(atHalf == Map(1L -> 1L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 5L -> 0L, 6L -> 0L), atHalf)
    val atThreeQ = keeps(3, 4)
    assert(atThreeQ(4L) == 0L && atThreeQ(1L) == 1L, atThreeQ.toString)
    // monotone: raising the threshold can only shrink the kept set
    val keptHalf = atHalf.filter(_._2 == 1L).keySet
    val keptThreeQ = atThreeQ.filter(_._2 == 1L).keySet
    assert(keptThreeQ.subsetOf(keptHalf))
    // the reported dot is the exact quantized integer product
    val dots = Multimodal.pairCosineGate(pairs, 1, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dots(1L) == 1000000L * 1000000L + 2000000L * 2000000L)
    assert(dots(3L) == -1000000L * 1000000L)
  }
}
