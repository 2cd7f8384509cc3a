package graft

import org.scalatest.funsuite.AnyFunSuite

/** Executed-plan regression guards for the heaviest queries: the plan
  * properties that make each one scale — scan counts, join strategies,
  * the absence of cartesians and per-group buffers — are pinned as a
  * table so a future edit can't silently reintroduce a second corpus
  * scan (round-3 d82), a corpus-sized broadcast (round-4 s96), or an
  * O(group) percentile buffer (round-3 q15).
  *
  * All assertions run against the FINAL adaptive plan after executing
  * the query (AQE stage reuse, broadcast promotion/demotion and skew
  * splits only exist post-execution; a pre-execution dump would both
  * hide reuse and double-count via the appended "Initial Plan" section).
  * Only size-independent properties are asserted: scan counts are
  * structural, and join-strategy requirements are limited to hinted or
  * cardinality-bounded joins that AQE cannot legally flip.
  */
class PlanGuardSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val d = TestSpark.sfDir

  /** (query, max "Scan parquet" count, forbidden fragments, required
    * fragments). maxScans values are the plans' current counts — a guard
    * failure means an edit added a scan, not that the bound was loose. */
  private val guards: Seq[(String, Int, Seq[String], Seq[String])] = Seq(
    // one fused fact scan (grouping sets); rank median over the bounded
    // price histogram, never a percentile buffer
    ("q19_approx_agg", 1, Seq("percentile", "ObjectHashAggregate"),
      Seq("Expand")),
    // rank-based percentiles: no O(group) Percentile buffer (q15's plan
    // reads lineitem thrice for the three rank anchors — all slim)
    ("q15_percentiles", 3, Seq("percentile", "ObjectHashAggregate"), Nil),
    // single-pass kernel: the regex passes must stay gone
    ("t71_quality_score", 1, Seq("regexp_replace"), Seq("text_metrics")),
    // one doc_id-pinned exchange feeds tf, df and top-terms
    ("t79_tfidf_topterms", 2, Nil, Nil),
    // the round-4 fix: corpus-sized probe/assignment sides JOIN BY
    // SHUFFLE on cluster id (merge hint); a BroadcastHashJoin here means
    // a corpus-sized frame is being shipped to every executor again.
    // The BroadcastNestedLoopJoin that remains is the |labels|-row
    // centroid table — bounded — so only BHJ is forbidden.
    ("s96_knn_graph", 2, Seq("BroadcastHashJoin"), Seq("SortMergeJoin")),
    // probe side is |queries|*nprobe-bounded and must stay broadcast
    ("s95_ivf_probe", 3, Nil, Seq("BroadcastHashJoin")),
    ("s94_ann_bucketed", 2, Nil, Nil),
    // one corpus pass (round-3 fix) + broadcast stop-shingle frame
    ("d82_dedup_ngram_jaccard", 2, Nil, Nil),
    ("d83_dedup_minhash", 2, Nil, Nil),
    ("d85_simhash_pairs", 4, Nil, Nil),
    // log-round components kernel: iterates over checkpointed frames,
    // never re-scans the corpus from parquet
    ("d87_dedup_components", 0, Nil, Nil),
    ("d89_minhash_estimate", 2, Nil, Nil),
    ("d92_semantic_dedup", 3, Nil, Nil),
    ("d93_dedup_decisions", 1, Nil, Nil),
    ("d95_winnow_near_dup", 3, Nil, Nil),
    ("d97_editdist_verify", 3, Nil, Nil),
    ("t88_winnow_fingerprints", 1, Nil, Nil),
    ("p100_corpus_prep", 2, Nil, Nil),
    // dictionary-based BPE: one corpus scan per merge round (AQE reuses
    // the word-frequency exchange across rounds)
    ("t93_bpe_merges", 3, Nil, Nil),
    ("t94_bpe_apply", 4, Nil, Nil),
    // DSIR: raw counts, totals and doc scoring all hang off ONE reused
    // corpus exchange; the vocab-bounded weight table must stay broadcast
    ("t95_dsir_select", 1, Nil, Seq("BroadcastHashJoin")),
    // PQ: codebook joins are broadcast-only — an SMJ means a corpus-sized
    // side started shuffling into the assignment
    ("s99_pq_encode", 3, Seq("SortMergeJoin"), Nil),
    ("s100_pq_adc_search", 4, Seq("SortMergeJoin"), Nil),
    // the multi-distinct split: Expand (Catalyst's distinct rewrite)
    // must stay gone
    ("q12_count_distinct", 3, Seq("Expand"), Nil),
    // the full IVF-PQ stack: candidate generation must stay broadcast/
    // cluster-bounded — an SMJ means a corpus frame started shuffling
    // into the probe or LUT side
    ("s101_ivfpq_search", 5, Seq("SortMergeJoin"), Nil),
    // round-6 additions — the previously unguarded round-5 operators.
    // d98: ONE corpus scan — the (source, shingle) distinct is pinned
    // under both self-join sides (the d85 discipline); a second scan
    // means the pin regressed and the distinct runs per side again
    ("d98_source_overlap", 1, Nil, Nil),
    // d99 composes d80+d83: bounded scans, no cartesian anywhere
    ("d99_dedup_card", 4, Nil, Nil),
    // m102/m103/m104: the two-tier collapse (exact groups → representatives
    // BEFORE banding) keeps these to bounded scans; SMJ would mean a
    // corpus-sized frame started shuffling into the band join
    ("m102_image_near_dup", 2, Seq("SortMergeJoin"), Nil),
    ("m103_audio_near_dup", 2, Seq("SortMergeJoin"), Nil),
    ("m104_frame_dedup", 2, Nil, Nil),
    // retention/RFM: events collapse once; q71's cohort join must stay
    // off the cartesian path
    ("q71_retention", 3, Nil, Nil),
    // text diagnostics: single corpus pass each (map-side or one
    // partial-agg exchange)
    ("t96_code_detect", 1, Nil, Nil),
    ("t97_boilerplate", 2, Nil, Nil),
    ("t98_sentence_stats", 1, Nil, Nil),
    // k-means training: assignment is map-side against ONE broadcast
    // codebook row — an SMJ means corpus rows started shuffling per
    // Lloyd iteration
    ("s98_kmeans_train", 4, Seq("SortMergeJoin"), Nil),
    // the recall audit runs the full serve stack + exact baseline:
    // broadcast/cluster-bounded joins only (inline-training form; the
    // served form is pinned by the serve-path test below)
    ("s102_index_recall", 7, Seq("SortMergeJoin"), Nil),
    // round-6 additions. t99: pure map-side rule bundle — one pruned scan,
    // zero shuffle at any corpus size
    ("t99_gopher_rules", 1, Seq("Exchange"), Nil),
    // t100: test-half tokenize + ONE train-half tokenize chain (wc feeds
    // langTok/vocab/scoring via exchange reuse — the isNotNull-inside-
    // subtree and cnt-reference fixes) + a slim (doc_id, lang) scan for
    // priors; the vocab-bounded model must stay broadcast — an SMJ means
    // corpus-sized test tokens started shuffling into the model
    ("t100_nb_classifier", 3, Seq("SortMergeJoin"), Seq("BroadcastHashJoin")),
    // q73: the sessionize+distinct is pinned under all four consumers
    // (d98 discipline); per-type totals and basket count broadcast
    ("q73_event_cooccurrence", 2, Seq("SortMergeJoin"),
      Seq("BroadcastHashJoin")),
    // s103: the rerank tier adds ONE corpus equi-join against the
    // broadcast |queries|×10 shortlist on top of the s101 chain — the
    // corpus must never shuffle for it
    ("s103_ann_rerank", 7, Seq("SortMergeJoin"), Nil),
    // s104: indexed tier = s101 chain filtered by the broadcast 1-row
    // bound; fresh tier = map-side brute force over the delta — no new
    // corpus-sized exchange on either side
    ("s104_delta_search", 8, Seq("SortMergeJoin"), Nil),
    // t101: ONE corpus scan; the two count-distincts plan through Expand
    // whose partial aggregation collapses map-side — Expand is the
    // single-scan plan here, so only the scan count is pinned
    ("t101_source_scorecard", 1, Nil, Nil),
    // s105: s104's chain + the exact baseline + segment counts — all
    // joins broadcast/cluster-bounded, card assembly is 1-row crossjoins
    ("s105_index_health", 11, Seq("SortMergeJoin"), Nil),
    // q74: session index AND successor from ONE user-partitioned window
    // pass (same partition+order spec); the |types|²-bounded row-total
    // frame joins back broadcast
    ("q74_session_transitions", 1, Seq("SortMergeJoin"),
      Seq("BroadcastHashJoin")),
    // q75: six pruned scans, no cartesian anywhere in the 6-table chain;
    // join strategy is deliberately AQE's choice (fact joins must stay
    // free to shuffle at real scale), so none is pinned
    ("q75_tpch_regional_revenue", 6, Nil, Nil),
    // d101: ONE signature pipeline pinned by the (band, band_key)
    // repartition under both filtered sides + the arrivals universe scan
    ("d101_incremental_near_dup", 2, Nil, Nil),
    // p102: d101's probe (checkpointed index + universe) + one map-side
    // Gopher pass over the arrivals — batch-sized doc_id equi-join only
    ("p102_ingest_gate", 4, Nil, Nil),
    // q76: eight pruned scans (nation twice — it joins BOTH fact legs);
    // the share is ONE conditional aggregate over one joined stream, so
    // no self-join and no cartesian may ever appear. Fact-join strategy
    // is AQE's choice (same rationale as q75)
    ("q76_tpch_market_share", 8, Nil, Nil),
    // q77: the decorrelated scalar subquery — the per-part average joins
    // BACK on the same l_partkey the aggregate grouped on, so the plan
    // must stay within the restricted scans (AQE reuses an exchange at
    // bench scale; a count above 4 means the decorrelation regressed to
    // re-scanning lineitem per side)
    ("q77_tpch_small_qty", 4, Nil, Nil),
    // q78: the HAVING reduction runs BEFORE the orders/customer joins —
    // exactly three scans, top-k via TakeOrdered (never a global sort)
    ("q78_tpch_large_orders", 3, Nil, Seq("TakeOrderedAndProject")),
    // s106: s101's chain + the slim allow-list equi-join on the candidate
    // frame + the broadcast result-decoration join — candidate generation
    // must stay broadcast/cluster-bounded exactly like s101
    ("s106_filtered_search", 7, Seq("SortMergeJoin"), Nil),
    // t102: t82's scoring chain + the tercile-edge histogram — the edge
    // window must run over the (lang, surprisal) HISTOGRAM, partitioned
    // by lang (q72's funnel lesson); the vocab and edge frames broadcast.
    // Three scans: terms, the lang projection, and the reused-terms leg
    // AQE keeps for the vocab side
    ("t102_perplexity_buckets", 3, Seq("SortMergeJoin"),
      Seq("BroadcastHashJoin")),
    // t103: t94's apply shape — the merge-table chain (3 reused word-
    // frequency rounds) + ONE lang-projected corpus scan; everything
    // after the broadcasts is one |langs|-bounded partial agg
    ("t103_token_fertility", 4, Seq("SortMergeJoin"), Nil),
    // q79: the scalar threshold is a 1-row broadcast (the BNLJ is that
    // bounded frame, never data×data); dormancy is a LEFT ANTI equi-join
    ("q79_tpch_sleepers", 3, Nil, Nil),
    // q80: blocked suppliers anti-join broadcast; the single distinct
    // aggregate's partial collapses pairs map-side (no pre-distinct
    // third exchange, no Expand)
    ("q80_tpch_supplier_variety", 3, Seq("Expand"), Nil),
    // m105: ONE frame scan; lag delta and running scene sum share one
    // doc-partitioned window spec (single exchange+sort); the (doc,
    // scene) groupBy partial-aggregates map-side
    ("m105_scene_cuts", 1, Seq("SortMergeJoin"), Nil),
    // m106: m105's single-scan chain + the scene-mean join back on the
    // SAME (doc, scene) keys — one reused exchange, no second scan
    ("m106_scene_keyframes", 1, Nil, Nil),
    // q81: ONE semi join carries the correlated residual (shipdate vs
    // order date + 30d) — never inner+distinct, never a cartesian
    ("q81_tpch_late_orders", 2, Nil, Nil),
    // d102: two map-side hash projections into ONE full-outer join on
    // doc_id; the join carries 16-byte hashes, never text
    ("d102_snapshot_diff", 3, Nil, Nil),
    // t104: t100's scoring chain (broadcast model, 3 scans) + a
    // |langs|²-bounded aggregate; the per-lang totals join broadcast
    ("t104_confusion_matrix", 3, Seq("SortMergeJoin"),
      Seq("BroadcastHashJoin")),
    // s107: three sweep points over the s101 chain (28 reused exchanges
    // — the shared probe/LUT/exact frames materialize once) + the
    // arithmetic probes×cluster-sizes join; candidates stay broadcast/
    // cluster-bounded at every nprobe
    ("s107_nprobe_sweep", 6, Seq("SortMergeJoin"), Nil),
    // s108: s104's two-tier serve + the caller query-frame build — two
    // extra SLIM pushed-filter scans (10-row-bounded midpoint join, AQE
    // broadcasts it); the serve itself must stay exactly s104's shape,
    // so no corpus-sized sort-merge anywhere. 9th scan since the argmax
    // assignment kernel: coveredIds' vec_id-only projection now prunes
    // the ENTIRE inline assignment down to a zero-column (footer-only,
    // no data pages) multiplicity scan — the old window form computed
    // full n×k similarities through an exchange just to be discarded,
    // so the extra scan node is the cheap residue of a removed stage
    ("s108_search_vectors", 9, Seq("SortMergeJoin"), Nil),
    // q82: Q21's two correlated self-joins replaced by ONE per-order
    // two-level aggregation (dedup to (order,supp,late) then order
    // stats) — no Expand (no multi-distinct), no cartesian, top-10 via
    // TakeOrdered; the lf frame feeds stats AND waiters (≤2 fact scans)
    ("q82_tpch_waiting_suppliers", 5, Seq("Expand"),
      Seq("TakeOrderedAndProject")),
    // q83: Q13's outer-join double agg — counts built on the ORDERS side
    // first, so the customer join stream is never re-shuffled
    ("q83_tpch_cust_distribution", 2, Nil, Nil),
    // q84: Q15's max-of-aggregate — one fact scan per consumer leg at
    // most, 1-row max broadcast (BNLJ on a bounded frame, never
    // data×data), supplier decoration broadcast
    ("q84_tpch_top_supplier", 3, Seq("SortMergeJoin"), Nil),
    // q85: Q10's high-cardinality top-k — revenue aggregates BEFORE the
    // customer/nation decorations (the fact stream never carries names),
    // nation broadcasts, top-20 via TakeOrdered, never a global sort
    ("q85_tpch_returned_items", 4, Nil, Seq("TakeOrderedAndProject")),
    // q86: Q3's 3-table chain — segment membership is a LEFT SEMI, both
    // date filters reach their scans, the orderkey agg reuses the join
    // exchange, top-10 via TakeOrdered (never a global sort)
    ("q86_tpch_shipping_priority", 3, Nil, Seq("TakeOrderedAndProject")),
    // q87: Q18 with the canonical IN-subquery's SECOND fact scan folded
    // away — one per-order aggregate serves the HAVING filter and the
    // surfaced sum_qty, so exactly 3 scans; top-100 via TakeOrdered
    ("q87_tpch_big_orders", 3, Nil, Seq("TakeOrderedAndProject")),
    // q88: Q7's 6-table chain in 5 scans (one nation scan serves BOTH
    // bloc legs via exchange reuse); the pair disjunction is a residual
    // AFTER bloc-pruned broadcasts, never a cartesian; fact-join
    // strategy stays AQE's choice (q75's rationale)
    ("q88_tpch_volume_shipping", 5, Nil, Nil),
    // q89: Q22's three pieces — 1-row scalar threshold broadcast (BNLJ
    // on a bounded frame), LEFT ANTI against the recent-orders scan,
    // nation agg; customer feeds threshold AND selection in ≤2 scans
    ("q89_tpch_dormant_accounts", 3, Nil, Nil),
    // d103: three embeddings scans (centroids, candidates, eval slice);
    // the candidate×eval pairing must stay a cluster EQUI-join — a
    // cartesian means the decontam check regressed to corpus×eval
    ("d103_semantic_decontam", 3, Nil, Nil),
    // p103: both detector legs + the doc spine (3 documents scans, 3
    // embeddings scans); lexical probe is a (band, band_key) equi-join,
    // semantic leg is d103's cluster equi-join — a cartesian anywhere
    // means a leg regressed to all-pairs
    ("p103_decontam_scorecard", 6, Nil, Nil),
    // q90: Q19's cross-side disjunction runs as a join residual, but the
    // derived single-side supersets (qty range; brand IN + size range)
    // must reach BOTH scans (plan-audited PushedFilters) and the
    // brand-pruned part side must broadcast — an SMJ means the fact
    // stream shuffled for a 3-brand dimension slice
    ("q90_tpch_discounted_revenue", 2, Seq("SortMergeJoin"),
      Seq("BroadcastHashJoin")),
    // q91: Q14's conditional aggregate rides ONE fact pass — the month
    // range must prune at the scan and the (key, type) part projection
    // must broadcast; an SMJ means the fact stream shuffled for a dim
    ("q91_tpch_promo_revenue", 2, Seq("SortMergeJoin"),
      Seq("BroadcastHashJoin")),
    // q92: Q9's star — one fact pass against three broadcast dims
    // (part name-pruned BEFORE broadcast); any SMJ means an
    // entity-bounded dim started shuffling the event stream
    ("q92_tpch_product_profit", 4, Seq("SortMergeJoin"),
      Seq("BroadcastHashJoin")),
    // q93: Q2's correlated-min as ONE window over the (part, supplier)
    // rollup — a SortMergeJoin would mean the min went back to a
    // self-join against a groupBy (two exchanges + a join); dims
    // (size-pruned part, supplier) stay broadcast
    ("q93_tpch_min_cost_supplier", 3, Seq("SortMergeJoin"),
      Seq("BroadcastHashJoin")),
    // q94: Q11's global scalar is a 1-row broadcast (BNLJ by
    // construction); both lineitem passes collapse map-side — an SMJ
    // means the part-value frame started shuffling into the scalar
    ("q94_tpch_important_parts", 2, Seq("SortMergeJoin"), Nil),
    // q95: Q6 is THE scan-only classic — one parquet scan, zero joins,
    // one 1-row collapse
    ("q95_tpch_revenue_delta", 1,
      Seq("Join", "Exchange hashpartitioning"), Nil),
    // q96: Q20's per-part total is a window over the volume rollup (no
    // self-join); part prunes broadcast-first and the final IN is a
    // broadcast semi onto the supplier dim
    ("q96_tpch_excess_suppliers", 3, Seq("SortMergeJoin"),
      Seq("BroadcastHashJoin")),
    // q97: Q12 is one fact-to-orders equi join + a 3-row group — the
    // only exchanges are the join keys and the final tiny agg
    ("q97_tpch_priority_shipping", 2, Nil, Nil),
    // s109: one corpus scan + the 10-row pushed-filter query scan — the
    // query side rides a bounded broadcast NL join (pure ≠ condition, the
    // s90 shape) and the greedy runs per-query in mapGroups over ≤10
    // rows; an SMJ would mean the corpus started shuffling for it
    ("s109_mmr_diversify", 2, Seq("SortMergeJoin"),
      Seq("BroadcastNestedLoopJoin")),
    // t106: the |sources|-row weight table broadcasts back into a
    // map-side filter — the corpus never shuffles (t86's shape)
    ("t106_temperature_mixture", 2, Seq("SortMergeJoin"),
      Seq("BroadcastHashJoin")),
    // s110: the s108 serve chain widened to top-10 (its 8 scans) + the
    // diversify stage's additions — ONE more corpus touch (broadcast
    // probe of the |q|·10-bounded shortlist ids for exact components)
    // and the 10-row query re-quantization scans; the greedy is
    // mapGroups over ≤10 rows per query. No corpus-sized sort-merge
    // anywhere: an SMJ would mean the rerank started shuffling the
    // corpus the serve kernel had kept map-side
    ("s110_search_diversify", 11, Seq("SortMergeJoin"), Nil))

  private def count(hay: String, needle: String): Int =
    hay.sliding(needle.length).count(_ == needle)

  guards.foreach { case (name, maxScans, forbid, require) =>
    test(s"$name: <=$maxScans scans, no cartesian" +
      (if (forbid.nonEmpty) s", none of ${forbid.mkString("/")}" else "") +
      (if (require.nonEmpty) s", has ${require.mkString("/")}" else "")) {
      val df = SparkEntry.queries(name)(spark, d)
      // drive THIS DataFrame's QueryExecution — a fresh count()/write
      // would plan a new one and leave this plan un-finalized
      df.queryExecution.toRdd.foreach(_ => ())
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(count(plan, "Scan parquet") <= maxScans,
        s"$name grew beyond $maxScans parquet scans:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$name plans a cartesian")
      forbid.foreach(f => assert(!plan.contains(f),
        s"$name plan must not contain '$f':\n$plan"))
      require.foreach(r => assert(plan.contains(r),
        s"$name plan must contain '$r':\n$plan"))
      spark.catalog.clearCache()
    }
  }

  test("whole inventory: no query plans a CartesianProduct") {
    // The per-query guards above pin scan counts and join strategies for
    // the heaviest operators; this is the blanket invariant for the WHOLE inventory:
    // candidate generation is always an equi-join on a bounded key, so a
    // CartesianProduct anywhere is a scale-killer slipping in. Planned
    // (not executed) at sf0.001 — the cartesian is structural, visible in
    // the initial plan, and AQE only ever narrows join strategies
    // (SMJ→BHJ/BNLJ), never widens to a cartesian. The 45 queries whose
    // plans carry a BroadcastNestedLoopJoin are the documented 1-row
    // broadcast scalar idioms (thresholds, totals, centroid tables) —
    // bounded by construction, so only CartesianProduct is forbidden.
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val hit = fn(spark, "/root/testdata/sf0.001").queryExecution
          .executedPlan.toString.contains("CartesianProduct")
        spark.catalog.clearCache()
        if (hit) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"inventory queries planning a cartesian: ${offenders.mkString(", ")}")
  }

  test("q72: quartile ranks never funnel the user dimension through " +
      "one task") {
    // the round-5 verdict's q72 defect: three unpartitioned NTILE
    // windows = three single-task sorts of the user table. The rewrite
    // computes NTILE in closed form over a two-phase range rank; the
    // plan invariant is that EVERY window is partitioned (the funnel
    // signature is a Window whose spec has no partition columns, fed by
    // an Exchange SinglePartition). The 1-row broadcast aggregates
    // (max date, user count) legitimately use SinglePartition — the
    // guard targets windows, not global aggs.
    val df = SparkEntry.queries("q72_rfm")(spark, d)
    df.queryExecution.toRdd.foreach(_ => ())
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("ntile("),
      s"q72 reintroduced a global NTILE window:\n$plan")
    plan.linesIterator.filter(_.contains("Window ")).foreach { l =>
      // a partitioned window prints `], [<partition cols>], [<order>]`
      // — two `], [` separators; an unpartitioned one has only one
      assert("\\], \\[".r.findAllIn(l).length >= 2,
        s"q72 plans an UNPARTITIONED window (single-task sort):\n$l")
    }
    spark.catalog.clearCache()
  }

  test("vector-index serve path: s100/s101/s102 read the stored " +
      "artifacts and contain ZERO training stages") {
    // the round-5 verdict's one architecture gap: the IVF-PQ stack
    // retrained inline on every search. With a built index the serve
    // plans must read the materialized tables and never recenter —
    // vector_sum_l (the Lloyd recentering aggregate) is the training
    // fingerprint, so its absence IS the train/serve split.
    val cmds = new commands.TableCommands(spark,
      java.nio.file.Files.createTempDirectory("graft_guard_wh").toString)
    operators.VectorIndex.build(spark, d, cmds)
    try {
      Seq(
        ("s100_pq_adc_search", "vector_index_embeddings_codes"),
        ("s101_ivfpq_search", "vector_index_embeddings_assign"),
        ("s102_index_recall", "vector_index_embeddings_codes"),
        ("s103_ann_rerank", "vector_index_embeddings_codes"),
        ("s104_delta_search", "vector_index_embeddings_assign"),
        ("s105_index_health", "vector_index_embeddings_assign"),
        ("s106_filtered_search", "vector_index_embeddings_assign"),
        ("s107_nprobe_sweep", "vector_index_embeddings_assign"),
        ("s108_search_vectors", "vector_index_embeddings_assign")
      ).foreach { case (name, mustRead) =>
        val df = SparkEntry.queries(name)(spark, d)
        df.queryExecution.toRdd.foreach(_ => ())
        val plan = df.queryExecution.executedPlan.toString
          .split("== Initial Plan ==")(0)
        assert(!plan.contains("vector_sum_l"),
          s"$name serve plan still contains a training stage:\n$plan")
        assert(plan.contains(mustRead),
          s"$name serve plan does not read the stored index:\n$plan")
        assert(!plan.contains("CartesianProduct"),
          s"$name plans a cartesian")
        // candidate generation stays broadcast/cluster-bounded when
        // serving, exactly as inline
        assert(!plan.contains("SortMergeJoin"),
          s"$name serve plan shuffles a corpus-sized side:\n$plan")
        spark.catalog.clearCache()
      }
    } finally operators.VectorIndex.drop(spark, cmds)
  }

  test("dedup-index serve path: the seven MinHash pair consumers read the " +
      "stored bands and run no shingle or hash stage") {
    import scala.jdk.CollectionConverters._
    // the plans of every action a query runs, its construction-time cuts
    // included: d87/d96/d99 checkpoint the pairs before the final plan,
    // which then only reads the checkpoint
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = {
        plans.add(qe.executedPlan.toString); ()
      }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    def allPlans(name: String): String = {
      plans.clear()
      val df = SparkEntry.queries(name)(spark, d)
      df.queryExecution.toRdd.foreach(_ => ())
      org.apache.spark.sql.graftbridge.Bridge.drainListeners(spark)
      spark.catalog.clearCache()
      (df.queryExecution.executedPlan.toString +: plans.asScala.toSeq)
        .mkString("\n")
    }
    spark.listenerManager.register(listener)
    val cmds = new commands.TableCommands(spark,
      java.nio.file.Files.createTempDirectory("graft_guard_dwh").toString)
    try {
      // the fingerprint is real: the inline pipeline shingles
      assert(allPlans("d83_dedup_minhash").contains("word_shingles"))
      operators.DedupIndex.build(spark, d, cmds)
      // (query, hashes nothing of its own): d94's split rule hashes the
      // pair ids and d99's exact layer hashes the text, both with md5
      Seq(
        ("d83_dedup_minhash", true),
        ("d87_dedup_components", true),
        ("d93_dedup_decisions", true),
        ("d94_split_leakage", false),
        ("d96_transitivity_audit", true),
        ("d97_editdist_verify", true),
        ("d99_dedup_card", false)
      ).foreach { case (name, noMd5) =>
        val plan = allPlans(name)
        assert(plan.contains("dedup_index_documents_bands"),
          s"$name does not read the stored band index:\n$plan")
        assert(!plan.contains("word_shingles"),
          s"$name still shingles the corpus:\n$plan")
        if (noMd5) assert(!plan.contains("md5("),
          s"$name still hashes shingles:\n$plan")
      }
    } finally {
      spark.listenerManager.unregister(listener)
      operators.DedupIndex.drop(spark, cmds)
    }
  }
}
