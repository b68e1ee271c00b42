package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Asserted plan properties for representative registered queries — the
  * invariants that keep the 100 TB posture honest, pinned so a refactor
  * that silently reintroduces a cartesian product, drops a broadcast, or
  * loses parquet pushdown fails CI instead of only showing up in a manual
  * PlanAudit run.
  */
class PlanAuditSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession =
    GraftSession.builder("4").appName("plan-audit").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("m1_fsm_count_prepared plans strictly fewer shuffles than the cold run") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // AQE wraps the plan in AdaptiveSparkPlanExec and hides exchanges from
    // collect — disable it here so the raw physical plan is inspectable
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def shuffles(name: String): Int =
        SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }.length
      val cold = shuffles("m1_fsm_count")
      val prepared = shuffles("m1_fsm_count_prepared")
      assert(cold >= 1, s"cold run should shuffle trails at least once, got $cold")
      assert(prepared < cold,
        s"prepared run must drop the per-query trail shuffle: prepared=$prepared cold=$cold")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("ta_sessionize_prepared drops the per-query events shuffle") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def shuffles(name: String): Int =
        SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }.length
      val cold = shuffles("ta_sessionize")
      val prepared = shuffles("ta_sessionize_prepared")
      assert(cold >= 1, s"cold sessionize should shuffle events at least once, got $cold")
      // the shared FSM trail layout serves the analytics windows too: the
      // uuid clustering satisfies the window + session aggregation keys
      assert(prepared < cold,
        s"prepared sessionize must ride the trail layout: prepared=$prepared cold=$cold")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("prepared ta faces drop their per-query events shuffles") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def shuffles(name: String): Int =
        SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }.length
      // each pair: the shared trail layout's uuid clustering satisfies the
      // face's window/aggregation/join keys, so the prepared plan must
      // carry strictly fewer exchanges than its cold twin
      for (base <- Seq("ta_purchase_paths", "ta_time_to_convert", "ta_funnel_cohort")) {
        val cold = shuffles(base)
        val prepared = shuffles(s"${base}_prepared")
        assert(cold >= 1, s"cold $base should shuffle events at least once, got $cold")
        assert(prepared < cold,
          s"${base}_prepared must ride the trail layout: prepared=$prepared cold=$cold")
      }
      // ta_time_to_convert_prepared is the strongest claim: both
      // aggregations AND the join are co-partitioned on the layout — the
      // only exchanges left are the bounded histogram fold + orderBy
      // (single-partition-scale rows, never event-scale)
      assert(shuffles("ta_time_to_convert_prepared") <= 2,
        "time_to_convert_prepared should be co-partitioned end to end")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("m1_fsm_count_durable reads the bucketed table with no pre-FSM shuffle") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val qe = SparkEntry.queries("m1_fsm_count_durable")(spark, sfDir).queryExecution
      // the only exchange allowed is the final single-partition fold of the
      // counter rows — the trail pass itself must ride the bucketed layout
      val shuffles = qe.executedPlan.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.length <= 1,
        s"durable run must not shuffle trails (bucketed scan broken?): $shuffles")
      assert(qe.explainString(ExplainMode.fromString("formatted")).contains("Bucketed: true"),
        "the scan must engage the bucketed layout")
      // at Spark's default: the trail operator's required distribution is
      // what keeps the scan bucketed
      assert(spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled") == "true")
      val belowMatch = qe.executedPlan.collect { case m: engine.TrailMatchExec => m }
        .flatMap(_.collect { case e: ShuffleExchangeExec => e })
      assert(belowMatch.isEmpty, qe.executedPlan.toString)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("a persisted prepare layout plans no exchange and no sort below TrailMatch") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for (name <- Seq("m1_fsm_count_prepared", "m1_fsm_count")) {
        val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan
        val matches = plan.collect { case m: engine.TrailMatchExec => m }
        assert(matches.size == 1, plan.toString)
        val exchanges = matches.head.collect { case e: ShuffleExchangeExec => e }
        val sorts = matches.head.collect { case s: SortExec => s }
        // the cold twin shows what the layout saves: one exchange, one sort
        val want = if (name == "m1_fsm_count") 1 else 0
        assert(exchanges.size == want && sorts.size == want, s"$name: $plan")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("r10 queries keep their scale shapes: no joins/cartesians where none belong") {
    // bigram support is ONE windowed count — the join formulation it
    // replaced scanned the corpus twice and benched 3x slower
    val bg = plan("c_bigram_support")
    assert(!bg.contains("SortMergeJoin") && !bg.contains("ShuffledHashJoin") &&
      !bg.contains("CartesianProduct"), bg.take(2000))
    // resize is a narrow per-row pipeline: decode → grid → encode
    val rz = plan("mm_resize")
    assert(!rz.contains("Join") && !rz.contains("CartesianProduct") &&
      !rz.contains("HashAggregate"), rz.take(2000))
    // the Hamming joins never materialize a pair cross join: candidates
    // expand inside chunk-bucket member arrays
    for (q <- Seq("d_simhash_hamming", "mm_phash_hamming")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q: ${p.take(2000)}")
    }
    // frame decode and the audio queries are narrow per-row pipelines too
    for (q <- Seq("mm_frame_decode", "au_decode_meta", "au_fingerprint_dup")) {
      val p = plan(q)
      assert(!p.contains("Join") && !p.contains("CartesianProduct"), s"$q: ${p.take(2000)}")
    }
  }

  test("r13 shapes: agg-join bigram twin is window-free and join-bounded") {
    // the skew-fallback twin exists precisely because a window partition
    // cannot be split: its plan must carry NO Window node, fold through
    // partial hash aggregates, and join only on the bgh equi-key
    val aj = plan("c_bigram_support_aggjoin")
    assert(!aj.contains("Window"), aj.take(2000))
    assert(aj.contains("HashAggregate"), aj.take(2000))
    assert(!aj.contains("CartesianProduct") && !aj.contains("BroadcastNestedLoopJoin"),
      aj.take(2000))
  }

  test("r13 new-op shapes: lm_score equi-joins only, shard/pack window-free, semdedup scan-narrow") {
    // lmScore: two explode passes + one bgh equi-join + the id join back —
    // never a cartesian or nested-loop fallback; per-doc folds are hash
    // aggregates (map-side partial)
    val lm = plan("c_lm_score")
    assert(!lm.contains("CartesianProduct") && !lm.contains("BroadcastNestedLoopJoin"),
      lm.take(2000))
    assert(lm.contains("HashAggregate"), lm.take(2000))
    // the two-level rank/cumsum operators exist to AVOID the global
    // window: their plans must carry no Window node at all
    for (q <- Seq("c_shard_assign", "c_pack_sequences")) {
      val p = plan(q)
      assert(!p.contains("Window"), s"$q grew a window: ${p.take(2000)}")
      assert(!p.contains("CartesianProduct"), s"$q: ${p.take(2000)}")
    }
    // semDedup reads only (id, embedding) — assignment is map-side against
    // broadcast centroids, pairs stay inside per-cell groups
    val sd = plan("d_semdedup")
    assert(!sd.contains("CartesianProduct") && !sd.contains("SortMergeJoin"),
      sd.take(2000))
    // incremental dedup: band-key equi-joins only (semi-join against the
    // distinct directory), no pair materialization
    val inc = plan("d_incremental_dedup")
    assert(!inc.contains("CartesianProduct") && !inc.contains("BroadcastNestedLoopJoin"),
      inc.take(2000))
    // temperature cap: the caps side must be a broadcast join (one row per
    // source), not a shuffled join on the full corpus
    val tc = plan("c_temperature_cap")
    assert(tc.contains("BroadcastHashJoin"), tc.take(2000))
    assert(!tc.contains("CartesianProduct"), tc.take(2000))
  }

  test("r14 new-op shapes: substr dedup join-bounded with doc-partitioned window, bpe map-only") {
    // substring dedup: shingle-hash aggregation + one semi-join back +
    // the per-DOC window over the duplicated minority — never a cartesian
    // or nested-loop fallback, and the only Window is doc-partitioned
    // (a global-sort window would be the single-task scale bug)
    for (q <- Seq("d_substr_dup", "d_substr_clean")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q: ${p.take(2000)}")
      assert(p.contains("HashAggregate"), s"$q: ${p.take(2000)}")
    }
    // subword counting is a pure map over (doc_id, text): no join, no
    // window, no exchange before the final ordering
    val bpe = plan("c_token_count_bpe")
    assert(!bpe.contains("Join") && !bpe.contains("Window"), bpe.take(2000))
    // bpe-denominated packing keeps the two-level cumsum's window-free
    // contract — the pluggable count column must not smuggle one in
    val pb = plan("c_pack_bpe")
    assert(!pb.contains("Window") && !pb.contains("CartesianProduct"), pb.take(2000))
    // ANN recall: bounded-size aggregations and equi-joins only
    for (q <- Seq("ann_lsh_recall", "ann_ivf_recall")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q: ${p.take(2000)}")
    }
    // substring decontamination: same join-bounded shape as the dup
    // faces — the test-split directory rides a semi-join, never a
    // cartesian, and the span merge stays a doc-partitioned window
    for (q <- Seq("c_substr_decon", "c_substr_decon_clean")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q: ${p.take(2000)}")
    }
    // shard materialization: one seq-keyed aggregation after the token
    // explode, an equi-join for the offsets — no window (the cumsum is
    // the two-level shape), no cartesian
    val pt = plan("c_pack_tokens")
    assert(!pt.contains("Window") && !pt.contains("CartesianProduct"), pt.take(2000))
    assert(pt.contains("HashAggregate"), pt.take(2000))
    // linear quality scoring is one typed map pass: no join, no window,
    // no aggregate anywhere in the plan
    val ql = plan("c_quality_linear")
    assert(!ql.contains("Join") && !ql.contains("Window") && !ql.contains("HashAggregate"),
      ql.take(2000))
  }

  test("r15 shapes: bpe training iteration join-free, pair dedup equi-join + composed-key window") {
    // one BPE-training iteration = the pair-frequency argmax: a hash
    // aggregation over exploded adjacent pairs + TakeOrdered — no join,
    // no window, no global sort in the hot loop
    val it = operators.BpeTrain.auditPairAggPlan(spark, sfDir)
    assert(it.contains("HashAggregate") && it.contains("TakeOrderedAndProject"),
      it.take(2000))
    assert(!it.contains("Join") && !it.contains("Window"), it.take(2000))
    // joint pair dedup: id-keyed equi-joins to attach the image hash,
    // one window over the COMPOSED (band, ah, bk) key — never a
    // cartesian/nested-loop fallback, and the memberships never carry
    // caption text into the window exchange
    val pd = plan("mm_pair_dedup")
    assert(!pd.contains("CartesianProduct") && !pd.contains("BroadcastNestedLoopJoin"),
      pd.take(2000))
    assert(pd.contains("Window"), pd.take(2000))
    // trained-weights scorer keeps the map-only typed-pass contract of
    // its synthetic-weights twin
    val qt = plan("c_quality_linear_table")
    assert(!qt.contains("Join") && !qt.contains("Window") && !qt.contains("HashAggregate"),
      qt.take(2000))
  }

  test("r15 additions keep their scale shapes: rules map-only, card join-free, tfidf/recall no cartesian") {
    // quality rules: a pure projection — no join, no aggregate, no window;
    // the registered orderBy is the only exchange
    val qr = SparkEntry.queries("c_quality_rules")(spark, sfDir).queryExecution.optimizedPlan
    assert(qr.collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.isEmpty)
    assert(qr.collect { case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a }.isEmpty)
    // dataset card: ONE global aggregate over a projection — the pass flags
    // are computed inline, never via a self-join on doc_id
    val dc = SparkEntry.queries("c_dataset_card")(spark, sfDir).queryExecution.optimizedPlan
    assert(dc.collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.isEmpty,
      "datasetCard must not join the rules face back onto the corpus")
    assert(dc.collect { case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a }.nonEmpty)
    // tfidf: equi-join on token only, per-doc window — no cartesian, and
    // the token exchanges never carry document text
    val tp = plan("c_tfidf_topk")
    assert(!tp.contains("CartesianProduct") && !tp.contains("BroadcastNestedLoopJoin"), tp.take(2000))
    assert(tp.contains("Window"), tp.take(2000))
    val tfEx = tp.linesIterator.filter(_.contains("Arguments: hashpartitioning")).toList
    assert(tfEx.nonEmpty && !tfEx.exists(_.contains("text#")),
      "tf/df exchanges must carry tokens, not bodies:\n" + tfEx.mkString("\n"))
    // minhash recall: both feeders bucket-expand — no cartesian anywhere,
    // and no document text in any exchange (8-byte hash keys only)
    val mr = plan("d_minhash_recall")
    assert(!mr.contains("CartesianProduct") && !mr.contains("BroadcastNestedLoopJoin"), mr.take(2000))
    val mrEx = mr.linesIterator.filter(_.contains("Arguments: hashpartitioning")).toList
    assert(mrEx.nonEmpty && !mrEx.exists(_.contains("text#")),
      "recall exchanges must carry hashes, not bodies:\n" + mrEx.mkString("\n"))
  }

  test("r15 continuation shapes: chunking map-only, dsir broadcast scoring, diff/quantiles text-free") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    // chunking: a pure bounded explode — no join, no aggregate, no window
    val ch = SparkEntry.queries("c_chunk_docs")(spark, sfDir).queryExecution.optimizedPlan
    assert(ch.collect { case j: Join => j }.isEmpty, "chunkDocs must not join")
    assert(ch.collect { case a: Aggregate => a }.isEmpty, "chunkDocs must not aggregate")
    // dsir weights: bucket-keyed aggregations only — no cartesian, and the
    // exchanges carry 8-byte buckets, never document text
    val dw = plan("c_dsir_weights")
    assert(!dw.contains("CartesianProduct") && !dw.contains("BroadcastNestedLoopJoin"),
      dw.take(2000))
    val dwEx = dw.linesIterator.filter(_.contains("Arguments: hashpartitioning")).toList
    assert(dwEx.nonEmpty && !dwEx.exists(_.contains("text#")),
      "dsir exchanges must carry buckets, not bodies:\n" + dwEx.mkString("\n"))
    // dsir selection: the d-bounded weight table BROADCASTS into the gram
    // stream — a shuffled weight join would exchange the corpus twice
    val dt = plan("c_dsir_topq")
    assert(dt.contains("BroadcastHashJoin"), dt.take(2000))
    assert(!dt.contains("CartesianProduct"), dt.take(2000))
    // corpus diff: one id-keyed join whose exchanges carry fingerprints,
    // never text (both sides project to (id, md5) before the join)
    val cd = plan("c_corpus_diff")
    assert(!cd.contains("CartesianProduct") && !cd.contains("BroadcastNestedLoopJoin"),
      cd.take(2000))
    val cdEx = cd.linesIterator.filter(_.contains("Arguments: hashpartitioning")).toList
    assert(cdEx.nonEmpty && !cdEx.exists(_.contains("text#")),
      "diff exchanges must carry fingerprints, not bodies:\n" + cdEx.mkString("\n"))
    // length quantiles: histogram aggregate + window over the tiny
    // histogram — never a join, never a per-source corpus sort
    val lqPlan = SparkEntry.queries("t_length_quantiles")(spark, sfDir)
      .queryExecution.optimizedPlan
    assert(lqPlan.collect { case j: Join => j }.isEmpty, "quantiles must not join")
    val lq = plan("t_length_quantiles")
    assert(lq.contains("Window") && lq.contains("HashAggregate"), lq.take(2000))
  }

  test("r15 sampling shapes: drift top-k heap-based, balance join-free, split/curve no cartesian") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    // vocab drift: the global top-k must plan as TakeOrderedAndProject
    // (per-partition heaps), never a full sort of the vocabulary
    val vd = plan("c_vocab_drift")
    assert(vd.contains("TakeOrderedAndProject"), vd.take(2000))
    assert(!vd.contains("CartesianProduct") && !vd.contains("BroadcastNestedLoopJoin"),
      vd.take(2000))
    // language balance: one corpus aggregation to a languages-sized frame,
    // windows on that frame — never a join
    val lb = SparkEntry.queries("c_lang_balance")(spark, sfDir).queryExecution.optimizedPlan
    assert(lb.collect { case j: Join => j }.isEmpty, "langBalance must not join")
    val lbp = plan("c_lang_balance")
    assert(lbp.contains("HashAggregate") && lbp.contains("Window"), lbp.take(2000))
    // stratified split: rank pass over the checkpointed range layout —
    // no join anywhere (thresholds ride broadcast maps, not frames)
    val ss = SparkEntry.queries("c_split_stratified")(spark, sfDir)
      .queryExecution.optimizedPlan
    assert(ss.collect { case j: Join => j }.isEmpty, "stratifiedSplit must not join")
    // threshold curve: equi-joins only (sizes + the 6-row threshold seed);
    // the bounded threshold explode must never become a cartesian
    val dc = plan("d_dedup_thresholds")
    assert(!dc.contains("CartesianProduct") && !dc.contains("BroadcastNestedLoopJoin"),
      dc.take(2000))
    // source overlap: everything past the scan is keyed by the 8-byte
    // shingle hash — no exchange may carry document text, no cartesian
    val so = plan("c_source_overlap")
    assert(!so.contains("CartesianProduct") && !so.contains("BroadcastNestedLoopJoin"),
      so.take(2000))
    val soEx = so.linesIterator.filter(_.contains("Arguments: hashpartitioning")).toList
    assert(soEx.nonEmpty && !soEx.exists(_.contains("text#")),
      "overlap exchanges must carry hashes, not bodies:\n" + soEx.mkString("\n"))
    // calibration: the ONLY nested-loop join allowed is the deliberate
    // one-row broadcast threshold cross join; id-keyed exchanges must
    // carry scores/flags, never text
    val qc = plan("c_quality_calibration")
    assert(!qc.contains("CartesianProduct"), qc.take(2000))
    val qcEx = qc.linesIterator.filter(_.contains("Arguments: hashpartitioning")).toList
    assert(qcEx.nonEmpty && !qcEx.exists(_.contains("text#")),
      "calibration exchanges must carry scores, not bodies:\n" + qcEx.mkString("\n"))
    // balanced sample: rank pass over the checkpointed per-language range
    // layout — no join (quotas ride the closure map)
    val bs = SparkEntry.queries("c_balanced_sample")(spark, sfDir)
      .queryExecution.optimizedPlan
    assert(bs.collect { case j: Join => j }.isEmpty, "sourceBudgetSample must not join")
    // novelty: one hash-keyed join of two distinct fingerprint frames —
    // no cartesian, exchanges never carry text
    val nv = plan("c_novelty_stats")
    assert(!nv.contains("CartesianProduct") && !nv.contains("BroadcastNestedLoopJoin"),
      nv.take(2000))
    val nvEx = nv.linesIterator.filter(_.contains("Arguments: hashpartitioning")).toList
    assert(nvEx.nonEmpty && !nvEx.exists(_.contains("text#")),
      "novelty exchanges must carry hashes, not bodies:\n" + nvEx.mkString("\n"))
  }

  test("f1_filter_cnf pushes its predicate into the parquet scan") {
    val p = plan("f1_filter_cnf")
    assert("PushedFilters: \\[[^\\]]+\\]".r.findAllIn(p).exists(!_.contains("[]")), p.take(2000))
  }

  test("q5_join_broadcast broadcasts the dimension side, no cartesian") {
    val p = plan("q5_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
  }

  test("exact near-dup pair queries contain no cartesian product or corpus broadcast") {
    for (q <- Seq("d_embed_neardup_exact", "d_embed_cc")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a broadcast nested loop")
    }
  }

  test("trail queries read only the columns the program needs") {
    val p = plan("m1_fsm_count")
    val schemas = "ReadSchema: [^\n]+".r.findAllIn(p).toList
    assert(schemas.nonEmpty)
    // the events scan must not drag payload/properties columns through the
    // shuffle for a count-only program
    assert(schemas.forall(!_.contains("payload")), schemas.mkString("\n"))
  }

  test("c_decontaminate: no forced broadcast on the test-hash side, text never reaches the join") {
    // The test side of the decontamination semi-join is billions of rows at
    // corpus scale — a `broadcast()` hint there bypasses Spark's size
    // heuristics and OOMs every executor (the round-4 scale-killer). Pin:
    // the LOGICAL plan carries no ResolvedHint (AQE may still legitimately
    // CHOOSE a broadcast at this sf via its size estimate), and the join
    // itself sees only the 64-bit shingle hash + doc id — no text column.
    // both decontamination shapes carry the same invariants — the staged
    // variant's bloom prefilter must not change the join's inputs either
    for (q <- Seq("c_decontaminate", "c_decontaminate_bloom")) {
      val df = SparkEntry.queries(q)(spark, sfDir)
      val hints = df.queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }
      assert(hints.isEmpty, s"$q must not force a broadcast: $hints")
      val joins = df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }
      assert(joins.exists(_.joinType.sql == "LEFT SEMI"), s"$q: expected the hash semi-join")
      for (j <- joins if j.joinType.sql == "LEFT SEMI")
        assert(!(j.left.output ++ j.right.output).exists(_.name == "text"),
          s"$q: document text must be pruned before the semi-join: ${j.output.map(_.name)}")
    }
  }

  test("d_exact_dup shuffles fingerprints, not document bodies") {
    val p = plan("d_exact_dup")
    val exchangeSchemas = p.linesIterator.filter(_.contains("Arguments: hashpartitioning")).toList
    assert(!exchangeSchemas.exists(_.contains("text#")),
      "the md5-fingerprint shuffle must not carry the text column:\n" + exchangeSchemas.mkString("\n"))
  }

  test("c_source_sample is a map-only filter: no join, no aggregate, pruned scan") {
    val df = SparkEntry.queries("c_source_sample")(spark, sfDir)
    val opt = df.queryExecution.optimizedPlan
    assert(opt.collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.isEmpty)
    assert(opt.collect { case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a }.isEmpty)
    val p = plan("c_source_sample")
    // only doc_id + source reach the scan; the registered orderBy is the
    // single exchange (for the deterministic compare), the operator itself
    // is shuffle-free
    val schemas = "ReadSchema: [^\n]+".r.findAllIn(p).toList
    assert(schemas.nonEmpty && schemas.forall(s => !s.contains("text")), schemas.mkString("\n"))
  }

  test("d_passage_dup: chunk-hash shuffles never carry text; no cartesian") {
    val p = plan("d_passage_dup")
    assert(!p.contains("CartesianProduct"))
    val exchangeSchemas = p.linesIterator.filter(_.contains("Arguments: hashpartitioning")).toList
    assert(exchangeSchemas.nonEmpty)
    assert(!exchangeSchemas.exists(s => s.contains("text#") || s.contains("ptext#")),
      "chunk shuffles must carry fingerprints, not document bodies:\n" + exchangeSchemas.mkString("\n"))
  }

  test("mm_features: narrow per-row pipeline — no join, no aggregate, no cartesian") {
    // synthesize → decode → hash is mapPartitions chains; the ONLY wide
    // operation should be the registered deterministic orderBy. A join or
    // aggregate appearing here means someone re-shaped the feature path
    // into a shuffle it does not need.
    val df = SparkEntry.queries("mm_features")(spark, sfDir)
    val opt = df.queryExecution.optimizedPlan
    assert(opt.collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.isEmpty,
      "feature extraction must not join")
    assert(opt.collect { case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a }.isEmpty,
      "feature extraction must not aggregate")
    assert(!plan("mm_features").contains("CartesianProduct"))
  }

  test("d_embed_cc_lsh edge build: bucketed expansion only — no join at all in the kernel") {
    // the registered production CC path must candidate-generate via the
    // bucket mechanism. The registered query's own plan starts from the
    // stars closure's eager checkpoints, so audit the edge KERNEL the
    // query feeds it — whose plan must contain no join of any kind
    // (pairs expand inside each bounded bucket group), let alone the
    // cartesian the exact O(N²) kernel would show.
    import org.apache.spark.sql.functions.col
    val edges = graft.operators.Similarity.quantizedLshPairsAbove(
      Tables(spark, sfDir, "embeddings").select(col("vec_id"), col("embedding")),
      tNum = 7, tDen = 20, planes = 8)
    val p = edges.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct") && !p.contains("Join"),
      "the LSH edge kernel must not join:\n" + p.take(1500))
    val schemas = "ReadSchema: [^\n]+".r.findAllIn(p).toList
    assert(schemas.nonEmpty && schemas.forall(!_.contains("text")), schemas.mkString("\n"))
  }

  test("m1_fsm_funnel folds the converted minority: exactly one aggregate pair after the trail pass") {
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val exec = SparkEntry.queries("m1_fsm_funnel")(spark, sfDir).queryExecution.executedPlan
      val aggs = exec.collect {
        case a: HashAggregateExec => a
        case a: ObjectHashAggregateExec => a
        case a: SortAggregateExec => a
      }
      // countDistinct plans as partial/final (+ distinct expand stages) of
      // ONE logical aggregation — at most 4 physical agg nodes; the old
      // countersByUuid fold added a full (uuid, dst) aggregation pair on
      // top, pushing this count up. The bound fails if that fold returns.
      assert(aggs.nonEmpty && aggs.length <= 4,
        s"funnel should fold once over the filtered conv stream, got ${aggs.length} agg nodes")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("r16 shapes: line dedup join-bounded, bm25 shuffle-free scan, embed decon map-only, pack stats window-free") {
    // line dedup: md5-key aggregation + one equi-join back + per-doc
    // aggregation — never a cartesian/nested-loop fallback, no window
    // (the clean face's ordering is a bounded per-doc array_sort, not a
    // corpus sort)
    for (q <- Seq("d_line_dup", "d_line_clean")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q: ${p.take(2000)}")
      assert(!p.contains("Window"), s"$q: ${p.take(2000)}")
      assert(p.contains("HashAggregate"), s"$q: ${p.take(2000)}")
    }
    // bm25: the corpus never shuffle-joins — the only join is the
    // broadcast of the ONE-ROW stats frame, and the top-k is TakeOrdered,
    // not a global sort
    val bm = plan("t_bm25_topk")
    assert(!bm.contains("SortMergeJoin") && !bm.contains("ShuffledHashJoin") &&
      !bm.contains("CartesianProduct"), bm.take(2000))
    assert(bm.contains("TakeOrderedAndProject"), bm.take(2000))
    assert(!bm.contains("Generate"), "bm25 must not explode the corpus:\n" + bm.take(2000))
    // embed decon: one typed map-partitions pass over the train side —
    // no join of any kind in the plan (the test split rides a broadcast
    // variable, not a plan-level join)
    val ed = plan("c_embed_decon")
    assert(!ed.contains("Join") && !ed.contains("Window"), ed.take(2000))
    // pack stats: the packer's bucket exchange plus bounded aggregations;
    // no window, no join
    val ps = plan("c_pack_stats")
    assert(!ps.contains("Window") && !ps.contains("Join") && !ps.contains("CartesianProduct"),
      ps.take(2000))
    // NB-ratio training: gram aggregation + d-row frames only — no
    // cartesian, no window; the serving join in the eval face must ride
    // a broadcast of the d-row weight table
    val qt = plan("c_quality_train")
    assert(!qt.contains("CartesianProduct") && !qt.contains("Window"), qt.take(2000))
    val qe = plan("c_quality_train_eval")
    assert(qe.contains("BroadcastHashJoin"), qe.take(2000))
    assert(!qe.contains("CartesianProduct"), qe.take(2000))
    // line rules: a pure projection over the layout fixture — no join,
    // no aggregate, no window, no explode
    val lr = plan("t_line_rules")
    assert(!lr.contains("Join") && !lr.contains("HashAggregate") &&
      !lr.contains("Window") && !lr.contains("Generate"), lr.take(2000))
    // epochs: one languages-sized aggregation + the langBalance frame —
    // no cartesian, no corpus-sized exchange beyond the aggregation
    val se = plan("c_source_epochs")
    assert(!se.contains("CartesianProduct"), se.take(2000))
    assert(se.contains("HashAggregate"), se.take(2000))
    // normalized dedup keeps d_exact_dup's shape: fingerprint window +
    // id-keyed left join, no cartesian; cluster stats is aggs only
    val dn = plan("d_exact_dup_norm")
    assert(!dn.contains("CartesianProduct") && !dn.contains("BroadcastNestedLoopJoin"),
      dn.take(2000))
    val cst = plan("d_cluster_stats")
    assert(!cst.contains("CartesianProduct") && cst.contains("HashAggregate"),
      cst.take(2000))
    // markup strip: a pure projection — no join, no aggregate, no window
    val hs = plan("t_html_strip")
    assert(!hs.contains("Join") && !hs.contains("HashAggregate") && !hs.contains("Window"),
      hs.take(2000))
  }

  test("r17 shapes: mojibake/code rules map-only, domain blocklist broadcast-joined without text") {
    // mojibake fix + code rules: pure projections over the fixture — no
    // join, no aggregate, no window, no explode; these must stay
    // embarrassingly parallel map stages at 100 TB
    for (q <- Seq("t_mojibake_fix", "t_code_rules")) {
      val p = plan(q)
      assert(!p.contains("Join") && !p.contains("HashAggregate") &&
        !p.contains("Window") && !p.contains("Generate"), s"$q: ${p.take(2000)}")
    }
    // domain blocklist: the list side must ride a broadcast hash join
    // (a UT1 list is millions of rows — broadcast-able, never a shuffle
    // of the corpus against it), no cartesian/nested-loop fallback, and
    // no exchange may carry document text (only id/host/rule strings)
    val db = plan("c_domain_block")
    assert(db.contains("BroadcastHashJoin"), db.take(2000))
    assert(!db.contains("CartesianProduct") && !db.contains("BroadcastNestedLoopJoin"),
      db.take(2000))
    val dbEx = db.linesIterator.filter(_.contains("Arguments: hashpartitioning")).toList
    assert(!dbEx.exists(_.contains("text#")),
      "blocklist exchanges must carry hosts/rules, not bodies:\n" + dbEx.mkString("\n"))
  }

  test("r17 shapes: wordpiece map-only; CMS sketch side never explodes and broadcasts onto candidates") {
    // wordpiece + unigram ids: pure projections (native expressions) — no
    // join, no aggregate, no window, no explode
    for (q <- Seq("c_tokenize_wordpiece", "c_tokenize_unigram")) {
      val wp = plan(q)
      assert(!wp.contains("Join") && !wp.contains("HashAggregate") &&
        !wp.contains("Window") && !wp.contains("Generate"), s"$q: ${wp.take(2000)}")
    }
    // CMS: exactly one Generate total (the exact-count audit side); the
    // sketch build must be aggregation without explode — the whole point
    // of the Aggregator is that token occurrences never become shuffle
    // rows — and the 1-row sketch joins the candidates via broadcast,
    // never by shuffling them
    val cmsQe = SparkEntry.queries("t_heavy_hitters_cms")(spark, sfDir).queryExecution
    val generates = cmsQe.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }.length
    val cms = cmsQe.explainString(ExplainMode.fromString("formatted"))
    assert(generates <= 1, s"CMS must not explode the sketch side:\n${cms.take(3000)}")
    assert(cms.contains("BroadcastNestedLoopJoin") || cms.contains("BroadcastHashJoin"),
      cms.take(2000))
    assert(!cms.contains("CartesianProduct"), cms.take(2000))
  }

  test("r17 shapes: PQ family joins nothing — broadcast-heap pruning, no vector-sized exchange") {
    for (q <- Seq("ann_quant_pq_topk", "ann_quant_l2_topk")) {
      val p = plan(q)
      assert(!p.contains("Join") && !p.contains("CartesianProduct"), s"$q: ${p.take(2000)}")
      // the only exchange is the heap survivors' (query_id, neighbor_id,
      // dist) rows into the window rank — never embeddings or codes
      val ex = p.linesIterator.filter(_.contains("Arguments: hashpartitioning")).toList
      assert(!ex.exists(l => l.contains("embedding#") || l.contains("vec#")),
        s"$q exchanges must carry slim rows:\n" + ex.mkString("\n"))
    }
  }

  test("r17 shapes: pair gate is one id-equijoin + typed map — no cartesian, no text in exchanges") {
    val p = plan("mm_pair_filter")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
    val ex = p.linesIterator.filter(_.contains("Arguments: hashpartitioning")).toList
    assert(!ex.exists(_.contains("text#")),
      "pair-gate exchanges must carry ids/vectors, not bodies:\n" + ex.mkString("\n"))
  }

  test("r17 late shapes: crawl chain + script profile map-only; URL canon exchanges carry addresses") {
    // the composed crawl chain and the script profile are pure
    // projections — no join, no aggregate, no window, no explode
    for (q <- Seq("c_pipeline_crawl", "t_script_stats")) {
      val p = plan(q)
      assert(!p.contains("Join") && !p.contains("HashAggregate") &&
        !p.contains("Window") && !p.contains("Generate"), s"$q: ${p.take(2000)}")
    }
    // URL canonicalization dedup: the urlDedup posture — no cartesian,
    // and no exchange may carry document text (only the short canonical
    // address and ids)
    val uc = plan("d_url_canon")
    assert(!uc.contains("CartesianProduct") && !uc.contains("BroadcastNestedLoopJoin"),
      uc.take(2000))
    val ucEx = uc.linesIterator.filter(_.contains("Arguments: hashpartitioning")).toList
    assert(!ucEx.exists(_.contains("text#")),
      "canon-dedup exchanges must carry addresses, not bodies:\n" + ucEx.mkString("\n"))
  }

  test("r17 continuation shapes: qsketch explodes only post-aggregate; pagerank scan pruned to doc_id") {
    // t_qsketch: the Generate (posexplode) must sit ABOVE the aggregation —
    // the corpus folds into 7.7 KB partials and only the tiny finished
    // sketch explodes; a Generate below the aggregate would mean a
    // bucket-per-row shuffle at corpus scale
    val qs = plan("t_qsketch")
    val genIdx = qs.indexOf("Generate")
    val aggIdx = qs.indexOf("ObjectHashAggregate")
    assert(genIdx >= 0 && aggIdx >= 0, qs.take(2000))
    // formatted explain lists operators leaves-last: the post-aggregate
    // Generate prints BEFORE the aggregate nodes it consumes
    assert(genIdx < aggIdx,
      "posexplode must consume the aggregated sketch, not raw rows:\n" + qs.take(2000))
    assert(!qs.contains("Join"), "qsketch joins nothing:\n" + qs.take(2000))
    // g_pagerank: the registered face now resolves on the driver under
    // the small-graph bound (its result plan is a LocalRelation — no
    // corpus scan in the RETURNED plan); the pruned-scan contract is the
    // DISTRIBUTED arm's, pinned via the opt-out: the fixture derives
    // everything from doc_id, so the parquet scan must prune to that one
    // column, and the iterative plan must stay cartesian-free
    val pr = plan("g_pagerank")
    assert(!pr.contains("CartesianProduct") && !pr.contains("BroadcastNestedLoopJoin"),
      pr.take(2000))
    val prDist = graft.operators.Graph
      .pageRank(graft.operators.Graph.syntheticLinks(
        graft.Tables(spark, sfDir, "documents")), maxLocalVertices = 0)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    val reads = prDist.linesIterator.filter(_.contains("ReadSchema")).toList
    assert(reads.nonEmpty && reads.forall(l => l.contains("doc_id") && !l.contains("text")),
      "pagerank must scan doc_id only:\n" + reads.mkString("\n"))
    assert(!prDist.contains("CartesianProduct") && !prDist.contains("BroadcastNestedLoopJoin"),
      prDist.take(2000))
    // c_host_quality: the |V|-row rank table must broadcast onto the doc
    // scan — the gate joins docs exactly once and that join is a
    // BroadcastHashJoin, so document rows never shuffle for the gate
    val hq = plan("c_host_quality")
    assert(hq.contains("BroadcastHashJoin"),
      "host-quality gate must broadcast the rank table:\n" + hq.take(2000))
    assert(!hq.contains("SortMergeJoin"),
      "host-quality gate must not sort-merge the corpus:\n" + hq.take(2000))
  }

  test("trail analytics: as-of is join-free, sessionize single-exchanges, interval join is bucketed") {
    // ta_asof_orders: the union-tag kernel must contain NO join operator at
    // all — the as-of match is a window running-max, and reintroducing a
    // range/theta join here is exactly the 100 TB regression the kernel
    // exists to avoid.
    val ao = plan("ta_asof_orders")
    assert(!ao.contains("Join"), "as-of kernel must be join-free:\n" + ao.take(2000))
    assert(ao.contains("Window"), ao.take(2000))
    // ta_sessionize: both window passes (lag + running sum) must ride ONE
    // hashpartitioning exchange on user_id — a second data-sized shuffle
    // would double the trail-layout cost at any scale.
    val se = plan("ta_sessionize")
    val hashEx = se.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("user_id"))
    assert(hashEx <= 1, s"sessionize must shuffle events once, got $hashEx:\n" + se.take(2000))
    // ta_session_overlap: the interval join must be the bucketed equi-join
    // (never a cartesian/nested-loop over sessions × purchases), and the
    // session table must be computed exactly once (one Window subtree).
    val ov = plan("ta_session_overlap")
    assert(!ov.contains("CartesianProduct") && !ov.contains("BroadcastNestedLoopJoin"),
      "interval join must stay bucketed:\n" + ov.take(2000))
    val windowNodes = ov.linesIterator.count(_.matches("""\(\d+\) Window.*"""))
    assert(windowNodes <= 2,
      s"session table must be computed once (2 window passes), got $windowNodes:\n" + ov.take(2000))
    // ta_rfm_segments: the quintile ranks must ride rankGlobal's
    // two-level rank — the surviving row_number window is partition-LOCAL
    // (__pid); a naive global row_number would be a Window with an empty
    // partition spec moving every user row to one task
    val rq = plan("ta_rfm_segments")
    assert(rq.contains("row_number") && rq.contains("__pid"),
      "rfm quintiles must use the two-level rank (__pid-partitioned window):\n" + rq.take(2000))
    // ta_funnel_cohort: the converted-user set (the FSM side's distinct
    // minority) must BROADCAST onto the per-user cohort aggregate — a
    // sort-merge join here would re-shuffle the cohort table for a
    // duplicate-scale build side (adaptive at true scale: past the
    // broadcast threshold Spark falls back on size estimates, which is
    // the correct degradation).
    val fc = plan("ta_funnel_cohort")
    assert(fc.contains("BroadcastHashJoin"),
      "funnel-cohort must broadcast the converted minority:\n" + fc.take(2000))
    assert(!fc.contains("SortMergeJoin"),
      "funnel-cohort must not sort-merge at test scale:\n" + fc.take(2000))
  }
}
