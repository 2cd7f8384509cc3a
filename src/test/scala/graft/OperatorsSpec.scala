package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariant tests per operator family over sf0.001 (the DuckDB oracle gate
  * checks exact values; these pin semantic invariants that would survive a
  * data refresh — mirroring the reference's golden-result SQL tests,
  * `sql/SqlTestCase.java`, SURVEY.md §5). */
class OperatorsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val d = TestSpark.sfDir

  private def run(name: String) = SparkEntry.queries(name)(spark, d)

  test("entry: flagship returns top-10 by revenue, descending") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.length == 10)
    val revs = rows.map(_.getDouble(1))
    assert(revs.sameElements(revs.sorted.reverse))
  }

  test("every declared query runs and respects its declared shape") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, d)
      assert(df.columns.nonEmpty, s"$name has no columns")
      df.write.format("noop").mode("overwrite").save()
    }
    spark.catalog.clearCache()
  }

  test("oracleSql covers every query — no rows-only entries") {
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
  }

  test("q15 percentile plan holds no per-group value buffer") {
    // scale guard: the rank-based plan must not contain Spark's Percentile
    // TypedImperativeAggregate (an O(group size) in-memory buffer per
    // group). Its host operator is ObjectHashAggregate; the rank-based
    // plan uses only codegen HashAggregate + a window over the value
    // distribution.
    val plan = run("q15_percentiles").queryExecution.executedPlan.toString
    assert(!plan.contains("percentile"), "Percentile aggregate in plan")
    assert(!plan.contains("ObjectHashAggregate"),
      "TypedImperativeAggregate host operator in plan")
  }

  test("q30 topk: sorted desc with unique tiebreak") {
    val rows = run("q30_topk").collect()
    assert(rows.length == 100)
    val prices = rows.map(_.getDouble(1))
    assert(prices.sameElements(prices.sorted.reverse))
  }

  test("q23 full outer covers every nation present on either side") {
    val nk = run("q23_join_full").select("nationkey").collect().map(_.getInt(0)).toSet
    val cust = Graft.table(spark, d, "customer")
      .select("c_nationkey").distinct().collect().map(_.getInt(0)).toSet
    val supp = Graft.table(spark, d, "supplier")
      .select("s_nationkey").distinct().collect().map(_.getInt(0)).toSet
    assert(nk == (cust ++ supp))
  }

  test("q26 cross join is |region| x |nation|") {
    assert(run("q26_join_cross").count() == 5L * 25L)
  }

  test("q33/q34/q35 set-op algebra: union >= intersect; except disjoint") {
    val u = run("q33_union_distinct").collect().map(_.getInt(0)).toSet
    val i = run("q34_intersect").collect().map(_.getInt(0)).toSet
    val e = run("q35_except").collect().map(_.getInt(0)).toSet
    assert(i.subsetOf(u))
    assert(e.intersect(i).isEmpty)
  }

  test("d80 exact dedup: derived corpus doubles every doc -> all n_copies==2") {
    val rows = run("d80_dedup_exact").collect()
    assert(rows.length == 500)
    assert(rows.forall(_.getLong(2) == 2L))
    // keeper is always the original (lower) id
    assert(rows.forall(_.getLong(1) < 1000000L))
  }

  test("d81 keep-set retains exactly the originals") {
    val keep = run("d81_dedup_exact_keep").collect().map(_.getLong(0)).toSet
    assert(keep.size == 500 && keep.forall(_ < 1000000L))
  }

  test("d82 df-cap: a stop-shingle planted across 20% of docs cannot blow up pairs") {
    val docs = Graft.table(spark, d, "documents").select("doc_id", "text")
    // spike: 20% of docs share an appended template phrase -> 2 shingles
    // with df = 100 >> the 5% cap; uncapped, those alone join-explode into
    // C(100,2) ≈ 5k candidate pairs
    val spiked = docs.select(col("doc_id"),
      when(col("doc_id") % 5 === 0, concat(col("text"), lit(" aa bb cc dd")))
        .otherwise(col("text")).as("text"))
    val base = operators.Dedup.ngramJaccardPairs(docs)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val spikedPairs = operators.Dedup.ngramJaccardPairs(spiked)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.catalog.clearCache()
    assert(spikedPairs == base,
      s"cap failed to neutralize the stop-shingle: ${spikedPairs.size} vs ${base.size} pairs")
  }

  test("d83 minhash: recalls >90% of planted near-dup pairs") {
    val pairs = run("d83_dedup_minhash").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val planted = pairs.count { case (a, b) => b == a + 1000000L }
    assert(planted > 450, s"recall too low: $planted/500")
  }

  test("d85 simhash pairs: hamming bounded, pairs ordered") {
    val rows = run("d85_simhash_pairs").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getInt(2) >= 0 && r.getInt(2) <= 6))
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("s90 ann: exactly k neighbors per query, ranked by similarity") {
    val rows = run("s90_ann_bruteforce").collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.size == 10 && byQ.values.forall(_.length == 10))
    byQ.values.foreach { g =>
      val sorted = g.sortBy(_.getInt(3))
      val sims = sorted.map(_.getDouble(2))
      assert(sims.sameElements(sims.sorted.reverse), "rank order != sim order")
      assert(!g.exists(r => r.getLong(1) == r.getLong(0)), "self in neighbors")
    }
  }

  test("s94 bucketed ANN: recalls the planted true neighbor for >=90% of queries") {
    // each query is a near-copy of vector q_id, so brute-force top-1 is q_id
    // itself (cosine ~0.9999 vs a natural corpus max ~0.47); the bucketed
    // path must surface it through the (table, bucket) equi-join
    val top1 = run("s94_ann_bucketed").filter(col("rnk") === 1).collect()
    val hits = top1.count(r => r.getLong(1) == r.getLong(0))
    assert(hits >= 9, s"bucketed recall too low: $hits/10 planted neighbors found")
  }

  test("s95 ivf probe: recalls the planted true neighbor for >=90% of queries") {
    // same planted queries as s94; the IVF path must route each query to the
    // cluster holding its near-copy and rank it first within the probed set
    val top1 = run("s95_ivf_probe").filter(col("rnk") === 1).collect()
    val hits = top1.count(r => r.getLong(1) == r.getLong(0))
    assert(hits >= 9, s"ivf recall too low: $hits/10 planted neighbors found")
  }

  test("s98 kmeans: every vector assigned once; training improves the objective") {
    val rows = run("s98_kmeans_train").collect()
    val n = spark.read.parquet(s"$d/embeddings.parquet").count()
    assert(rows.length == n, "one assignment row per corpus vector")
    assert(rows.map(_.getLong(1)).distinct.length <= 8, "codebook larger than k")
    // Lloyd's objective: mean assignment cosine after 3 iterations must beat
    // assigning against the raw 8 seed vectors. (Monotonicity per step is
    // only guaranteed for exact means; integer-rounded centroids can wobble
    // a hair, so the gate is seed-vs-trained, not per-iteration.)
    def meanSim(iters: Int): Double = {
      val r = operators.Similarity.kmeansTrain(spark, d, 8, iters)
        .agg(avg(col("sim"))).head().getDouble(0)
      r
    }
    val (seed, trained) = (meanSim(0), meanSim(3))
    assert(trained > seed + 0.01,
      f"training did not improve mean cosine: seed $seed%.4f -> $trained%.4f")
  }

  test("s99 pq: 8 codes per vector from 8-entry codebooks; training cuts distortion") {
    val rows = run("s99_pq_encode").collect()
    val n = spark.read.parquet(s"$d/embeddings.parquet").count()
    assert(rows.length == n, "one code row per corpus vector")
    rows.foreach { r =>
      assert(r.getString(1).matches("[0-7](-[0-7]){7}"),
        s"malformed code string ${r.getString(1)}")
      assert(r.getDouble(2) >= 0.0, "negative reconstruction error")
    }
    // Lloyd under squared L2: 2 trained rounds must beat raw seed codebooks
    def distortion(iters: Int): Double =
      operators.Similarity.pqEncode(spark, d, 8, 8, iters)
        .agg(sum(col("sq_err"))).head().getDouble(0)
    val (seed, trained) = (distortion(0), distortion(2))
    assert(trained < seed,
      f"PQ training did not cut distortion: seed $seed%.2f -> trained $trained%.2f")
    // candidate generation is broadcast-only: nothing corpus×corpus
    val plan = run("s99_pq_encode").queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "s99 plans a cartesian")
    assert(!plan.contains("SortMergeJoin"), "s99 shuffles a join side")
  }

  test("s100 pq adc: 3 neighbors per query, no self, usable recall vs exact L2") {
    val rows = run("s100_pq_adc_search").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.length == 15, "5 queries x top-3")
    rows.foreach { case (q, n, dist) =>
      assert(q != n, "self-match leaked through")
      assert(dist >= 0.0)
    }
    // recall@3 against exact squared L2 computed driver-side: PQ with 8
    // subspaces trained on the corpus itself should find a decent share
    // of the true neighbors (soft gate — ADC is approximate by design)
    val vecs = spark.read.parquet(s"$d/embeddings.parquet")
      .selectExpr("vec_id", "cast(embedding as array<double>) e").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def sq(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val recall = rows.groupBy(_._1).map { case (q, got) =>
      val exact = (vecs - q).map { case (id, v) => (sq(vecs(q), v), id) }
        .toSeq.sorted.take(3).map(_._2).toSet
      got.map(_._2).count(exact.contains).toDouble / 3
    }
    assert(recall.sum / recall.size >= 0.2,
      f"mean recall@3 ${recall.sum / recall.size}%.2f below floor")
  }

  test("q71 retention: offset-0 is always 1.0, activity bounded by cohort size") {
    val rows = run("q71_retention").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (cw, off, act, size, rate) =>
      assert(off >= 0, s"$cw: negative week offset $off")
      assert(act >= 1 && act <= size, s"$cw+$off: $act outside [1, $size]")
      assert(rate > 0.0 && rate <= 1.0)
    }
    // every cohort member is by definition active in the cohort week
    val zero = rows.filter(_._2 == 0L)
    assert(zero.nonEmpty && zero.forall(_._5 == 1.0),
      "offset-0 retention must be exactly 1.0 for every cohort")
  }

  test("q72 rfm: quartile scores in 1..4, segment is their concatenation") {
    val rows = run("q72_rfm").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(4), r.getLong(5),
        r.getLong(6), r.getString(7)))
    assert(rows.nonEmpty)
    rows.foreach { case (u, r, rs, fs, ms, seg) =>
      assert(r >= 0, s"user $u: negative recency")
      Seq(rs, fs, ms).foreach(x => assert(x >= 1 && x <= 4))
      assert(seg == s"$rs$fs$ms", s"user $u: segment $seg mismatch")
    }
    // ntile(4) balance: bucket sizes differ by at most one per dimension
    Seq(rows.map(_._3), rows.map(_._4), rows.map(_._5)).foreach { dim =>
      val sizes = dim.groupBy(identity).values.map(_.size)
      assert(sizes.max - sizes.min <= 1, "unbalanced quartiles")
    }
  }

  test("d99 dedup card: one row, reconciles with d80/d83 outputs") {
    val r = run("d99_dedup_card").collect()
    assert(r.length == 1)
    val (nDocs, nGroups, nDup, nPairs, nNearDocs, uf) =
      (r(0).getLong(0), r(0).getLong(1), r(0).getLong(2), r(0).getLong(3),
        r(0).getLong(4), r(0).getDouble(5))
    assert(nGroups <= nDocs && nDup == nDocs - nGroups)
    assert(uf > 0.0 && uf <= 1.0)
    // the card must reconcile with the operators it summarizes (same
    // near-augmented universe as the d8x family)
    assert(nPairs == run("d83_dedup_minhash").count(),
      "near-pair count diverges from d83")
    val corpus = spark.read.parquet(s"$d/documents.parquet").count()
    assert(nDocs == 2 * corpus, "card universe != the d8x audit corpus")
    assert(nNearDocs <= 2 * nPairs && (nPairs == 0 || nNearDocs >= 2))
  }

  test("d98 source overlap: canonical pairs, intersection bounded, jaccard in range") {
    val rows = run("d98_source_overlap").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    val nSrc = run("t83_mixture_report")
      .select("source").distinct().count()
    assert(rows.nonEmpty && rows.length <= nSrc * (nSrc - 1) / 2)
    rows.foreach { case (a, b, na, nb, i, j) =>
      assert(a < b, s"pair ($a,$b) not canonical")
      assert(i >= 1 && i <= math.min(na, nb),
        s"($a,$b): intersection $i outside [1, min($na,$nb)]")
      assert(j > 0.0 && j <= 1.0, s"($a,$b): jaccard $j out of range")
    }
    assert(rows.map(p => (p._1, p._2)).distinct.length == rows.length,
      "duplicate source pairs")
  }

  test("m102 image near-dup: representative pairs only, hamming in [1,3], groups carried") {
    val rows = run("m102_image_near_dup").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.nonEmpty, "the doc_id%3 perturbation must plant near pairs")
    rows.foreach { case (d1, d2, w, h, ham, n1, n2) =>
      assert(d1 < d2, s"pair ($d1,$d2) not canonical")
      // representatives have DISTINCT bit strings, so hamming 0 is
      // impossible — exact duplication lives in the group sizes
      assert(ham >= 1 && ham <= 3, s"($d1,$d2): hamming $ham out of band")
      assert(n1 >= 1 && n2 >= 1)
      assert(w >= 4 && w <= 16 && h >= 1 && h <= 7)
    }
    assert(rows.map(p => (p._1, p._2)).distinct.length == rows.length,
      "duplicate pairs")
    // some exact-dup group bigger than 1 must ride along (m101's groups)
    assert(rows.exists(r => r._6 > 1 || r._7 > 1),
      "no multi-member exact groups carried")
  }

  test("s101 ivf-pq: 3 ranked neighbors per query; planted neighbor found") {
    val rows = run("s101_ivfpq_search").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.length == 30, "10 queries x top-3")
    rows.groupBy(_._1).foreach { case (q, g) =>
      assert(g.length == 3)
      assert(g.map(_._3).sorted.sameElements(g.map(_._3)) ||
        g.sortBy(_._3).map(_._2).toSet == g.map(_._2).toSet)
    }
    // each query is a +-0.001 perturbation of its own corpus vector: the
    // planted true neighbor is the query id itself. IVF routing AND PQ
    // quantization are both approximate, so gate recall softly
    val hits = rows.groupBy(_._1).count { case (q, g) =>
      g.exists(_._2 == q)
    }
    assert(hits >= 6, s"planted-neighbor recall $hits/10 below floor")
  }

  test("s106 filtered search: every neighbor satisfies the predicate; " +
    "pre-filtering keeps k where post-filtering the top-k loses results") {
    val rows = run("s106_filtered_search").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(rows.length == 30, "10 queries x top-3")
    rows.foreach(r => assert(r._4 % 2 == 0,
      s"neighbor ${r._2} violates the even-label predicate"))
    rows.groupBy(_._1).foreach { case (q, g) =>
      assert(g.length == 3, s"query $q returned ${g.length} != k results")
    }
    // containment: an even-label neighbor ranked into the UNFILTERED
    // top-3 (s101) can only rank better once odd-label candidates are
    // removed, so it must appear in s106's answer
    val labels = spark.read.parquet(s"$d/embeddings.parquet")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val s101 = run("s101_ivfpq_search").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byQ = rows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    s101.filter(t => labels(t._2) % 2 == 0).foreach { case (q, n) =>
      assert(byQ(q).contains(n),
        s"query $q: even-label neighbor $n from the unfiltered top-3 " +
          "missing from the filtered answer")
    }
    // and the failure mode the operator exists to avoid is REAL on this
    // fixture: post-filtering the unfiltered top-3 returns < k somewhere
    assert(s101.groupBy(_._1).exists { case (_, g) =>
      g.count(t => labels(t._2) % 2 == 0) < 3
    }, "fixture produced no post-filter loss; predicate too weak to test")
  }

  test("p101 embedding prep: one artifact row per vector, reconciles with d92 and s99") {
    val rows = run("p101_embedding_prep").collect()
      .map(r => (r.getLong(0), (r.getAs[Number](1).longValue, r.getBoolean(2),
        r.getString(3), r.getDouble(4)))).toMap
    val n = spark.read.parquet(s"$d/embeddings.parquet").count()
    assert(rows.size == n, "one artifact row per corpus vector")
    val d92 = run("d92_semantic_dedup").collect()
      .map(r => (r.getLong(0),
        (r.getAs[Number](1).longValue, r.getBoolean(2)))).toMap
    val s99 = run("s99_pq_encode").collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getDouble(2)))).toMap
    rows.foreach { case (v, (cl, dr, codes, err)) =>
      assert((cl, dr) == d92(v), s"vector $v: route/verdict diverge from d92")
      assert((codes, err) == s99(v), s"vector $v: codes diverge from s99")
    }
  }

  test("m104 frame dedup: repeated frames only, spread bounded, first sighting canonical") {
    val rows = run("m104_frame_dedup").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty, "the corpus must contain cross-doc repeated frames")
    rows.foreach { case (h, nd, no, fd, ff) =>
      assert(nd >= 2 && no >= nd, s"$h: occurrences $no < docs $nd")
      assert(ff >= 0 && ff % 4 == 0, s"$h: first frame $ff not a kept frame")
    }
    // first sighting must reproduce m96's stream: the (doc, frame) min of
    // that hash's occurrences
    val frames = run("m96_frame_sample").collect()
      .map(r => (r.getString(2), (r.getLong(0), r.getLong(1))))
      .groupBy(_._1)
    rows.foreach { case (h, _, _, fd, ff) =>
      assert(frames(h).map(_._2).min == ((fd, ff)),
        s"$h: first sighting ($fd,$ff) not minimal")
    }
  }

  test("m103 audio near-dup: one hamming-1 pair per length class, groups partition the corpus") {
    val rows = run("m103_audio_near_dup").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // 7 length classes (doc_id%7), each with exactly one near pair: the
    // all-rising fingerprint vs the bit-0-flipped (doc_id%3==2) variant
    assert(rows.length == 7, s"expected 7 near pairs, got ${rows.length}")
    assert(rows.map(_._3).toSet.size == 7, "one pair per n_win class")
    rows.foreach { case (d1, d2, _, ham, n1, n2) =>
      assert(d1 < d2 && ham == 1L)
      assert(n1 > 1 && n2 > 1, "both sides must be real exact groups")
    }
    // the two groups of each pair partition their length class exactly
    val corpus = spark.read.parquet(s"$d/documents.parquet").count()
    assert(rows.map(r => r._5 + r._6).sum == corpus,
      "group sizes must cover every document")
  }

  test("t93 bpe merges: greedy corpus merges match the hand-computed table") {
    // "aaa bb aaa": r1 pairs {aa:4, bb:1} -> merge (a,a) cnt 4; rewrite
    // "aaa"->"0a" (left-to-right non-overlap = greedy BPE); r2 {0a:2, bb:1}
    // -> merge (aa,a) cnt 2; rewrite "0a"->"1"; r3 {bb:1} -> merge (b,b)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_t93").toString
    Seq((1L, "aaa bb"), (2L, "aaa")).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("t93_bpe_merges")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got.toSeq == Seq((1, "a", "a", 4L), (2, "aa", "a", 2L),
      (3, "b", "b", 1L)), s"unexpected merge table: ${got.toSeq}")
    // on the real corpus: counts non-increasing (a merged pair can never
    // out-count the pair that created its symbol), units stay alphabetic
    val real = run("t93_bpe_merges").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    assert(real.length == 3)
    assert(real.map(_._4).sameElements(real.map(_._4).sorted.reverse),
      "merge counts must be non-increasing across rounds")
    real.foreach { case (_, l, rr, c) =>
      assert(l.matches("[a-z]+") && rr.matches("[a-z]+"),
        s"marker leaked into expanded units: ($l, $rr)")
      assert(c > 0)
    }
  }

  test("bpe dry-corpus contract: collectMerges fails loudly before a " +
      "rule-less tokenizer can be frozen") {
    // a corpus with no pairable alpha word (digits + 1-char words only)
    // runs dry at merge 1; engine-side t93/t94 DataFrames declare EMPTY
    // OUTPUT for this (d87 empty-graph policy), but materializing the
    // merge strings as a model artifact must be a loud failure
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_t93dry").toString
    Seq((1L, "123 456 a b"), (2L, "7 8 9 c")).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val ex = intercept[IllegalArgumentException] {
      operators.TextAnalysis.collectMerges(spark, dir)
    }
    assert(ex.getMessage.contains("ran dry before merge 1"),
      s"unexpected message: ${ex.getMessage}")
    // and the documented engine-side behavior: empty output, not an error
    assert(SparkEntry.queries("t93_bpe_merges")(spark, dir).count() == 0)
    assert(SparkEntry.queries("t94_bpe_apply")(spark, dir).count() == 0)
  }

  test("vector-index serve path answers bit-identically to inline " +
      "training for s100/s101/s102") {
    val targets = Seq("s100_pq_adc_search", "s101_ivfpq_search",
      "s102_index_recall", "s103_ann_rerank", "s104_delta_search",
      "s105_index_health")
    // inline (no index built) is the baseline
    val inline = targets.map(n => n -> run(n).collect().toSet).toMap
    val cmds = new commands.TableCommands(spark,
      java.nio.file.Files.createTempDirectory("graft_vidx_wh").toString)
    operators.VectorIndex.build(spark, d, cmds)
    try targets.foreach { n =>
      assert(run(n).collect().toSet == inline(n),
        s"$n: served answer diverged from inline training")
    } finally operators.VectorIndex.drop(spark, cmds)
    // dropped: searches fall back to inline training, same answers
    targets.foreach(n => assert(run(n).collect().toSet == inline(n)))
  }

  test("dedup-index serve path: d83/d87/d93 answer with the inline " +
      "pipeline's rows and schema, also after ADMIT appends and with " +
      "bands of a document outside the corpus in the index") {
    val targets = Seq("d83_dedup_minhash", "d87_dedup_components",
      "d93_dedup_decisions")
    def answers() = targets.map { n =>
      val df = run(n)
      n -> ((df.schema, df.collect().toSet))
    }.toMap
    // inline (no index built) is the baseline
    val inline = answers()
    def servedAsInline(when: String): Unit = {
      assert(operators.DedupIndex.served(spark, d).isDefined)
      val got = answers()
      targets.foreach { n =>
        assert(got(n)._1 == inline(n)._1, s"$n: served schema differs $when")
        assert(got(n)._2 == inline(n)._2, s"$n: served rows differ $when")
      }
    }
    val cmds = new commands.TableCommands(spark,
      java.nio.file.Files.createTempDirectory("graft_didx_wh").toString)
    val bandsT = operators.DedupIndex.tableName("bands")
    operators.DedupIndex.build(spark, d, cmds)
    try {
      servedAsInline("after BUILD")
      import spark.implicits._
      // a copy of a corpus document (a near-duplicate at Jaccard 1, so
      // every band collides) and a fresh document
      val copyOf = Graft.table(spark, d, "documents")
        .filter(size(split(col("text"), " ")) >= 20)
        .orderBy("doc_id").select("text").head().getString(0)
      val fresh = "the amber lighthouse keeper walks a winding cliff " +
        "path toward the harbor beacon every misty evening"
      val before = cmds.table(bandsT).count()
      streaming.DocStreams.admitAndIndexBatch(
        Seq((9100001L, copyOf), (9100002L, fresh)).toDF("doc_id", "text"),
        cmds, "ingest_verdicts", 0L)
      val admitted = cmds.table("ingest_verdicts").filter(col("admitted"))
        .select("doc_id").as[Long].collect().toSet
      assert(admitted == Set(9100002L), s"admitted: $admitted")
      assert(cmds.table(bandsT).count() == before + 3,
        "the admitted document's bands were not appended")
      servedAsInline("after an ADMIT append")
      // the copy's bands in the index, as if admitted before the corpus
      // changed: they pair with the original, and only the semi-join to
      // the corpus ids keeps that pair out
      cmds.insertInto(bandsT, cmds.conform(bandsT, operators.Dedup
        .bandsForCorpus(Seq((9100001L, copyOf)).toDF("doc_id", "text"))))
      cmds.repoint(spark, Seq(bandsT))
      servedAsInline("with an outside-corpus copy's bands in the index")
    } finally operators.DedupIndex.drop(spark, cmds)
  }

  test("s102 index recall: every query reported, hits bounded, audit agrees with s101") {
    val rows = run("s102_index_recall").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.length == 10, "one audit row per planted query")
    rows.foreach { case (q, h, rec) =>
      assert(h >= 0 && h <= 3)
      assert(math.abs(rec - h / 3.0) < 1e-6 + 1e-9)
    }
    // cross-check the audit against s101's actual output: n_hits must
    // equal the overlap with a driver-side exact top-3
    val approx = run("s101_ivfpq_search").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (q, g) => q -> g.map(_._2).toSet }
    val vecs = spark.read.parquet(s"$d/embeddings.parquet")
      .selectExpr("vec_id", "cast(embedding as array<double>) e").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def qv(id: Long): Array[Double] = vecs(id).zipWithIndex.map {
      case (x, j) => x + (if (j % 2 == 0) 0.001 else -0.001)
    }
    rows.foreach { case (q, h, _) =>
      val qq = qv(q).map(x => math.round(x * 1e6))
      val exact = vecs.map { case (id, v) =>
        val vq = v.map(x => math.round(x * 1e6))
        (qq.zip(vq).map { case (a, b) => (a - b) * (a - b) }.sum, id)
      }.toSeq.sorted.take(3).map(_._2).toSet
      assert(h == exact.count(approx(q).contains),
        s"query $q: audit $h != recomputed overlap")
    }
  }

  test("t93 bpe merges: engine matches an independent in-JVM BPE trainer on random corpora") {
    // a THIRD implementation as oracle: greedy corpus-level BPE written
    // directly against Sennrich's algorithm (dictionary counts, argmax
    // with the same (count desc, pair asc) tie-break, left-to-right
    // non-overlapping replace, marker alphabet) — independent of both the
    // Spark plan and the DuckDB SQL
    def refBpe(words: Seq[String]): Seq[(Int, String, String, Long)] = {
      var ws = words
      val prs = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      for (i <- 0 until 3) {
        val counts = ws.filter(_.length >= 2)
          .flatMap(w => (0 until w.length - 1).map(p => w.substring(p, p + 2)))
          .groupBy(identity).map { case (p, o) => p -> o.size.toLong }
        val (pr, cnt) = counts.toSeq.minBy { case (p, c) => (-c, p) }
        prs += ((pr, cnt))
        ws = ws.map(_.replace(pr, ('0' + i).toChar.toString))
      }
      def expand(c: String): String =
        c.replace("1", prs(1)._1).replace("0", prs(0)._1)
      prs.zipWithIndex.map { case ((pr, cnt), i) =>
        (i + 1, expand(pr.substring(0, 1)), expand(pr.substring(1, 2)), cnt)
      }.toSeq
    }
    import spark.implicits._
    (1 to 3).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val words = Seq.fill(40)(
        Seq.fill(2 + rnd.nextInt(5))(('a' + rnd.nextInt(4)).toChar).mkString)
      val dir = java.nio.file.Files.createTempDirectory(s"graft_bpe$seed").toString
      words.grouped(14).zipWithIndex
        .map { case (g, i) => (i.toLong, g.mkString(" ")) }.toSeq
        .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
      val got = SparkEntry.queries("t93_bpe_merges")(spark, dir).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
        .sortBy(_._1).toSeq
      assert(got == refBpe(words),
        s"seed $seed: engine ${got} != reference ${refBpe(words)}")
    }
  }

  test("t96 code detect: hand-built code/prose/empty docs route correctly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_t96").toString
    Seq(
      (1L, "x = f(a);\nif (x > 0) { y(); }\nreturn z;"),
      (2L, "hello world\nthis is prose"),
      (3L, ""),
      (4L, "   \n  \n"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("t96_code_detect")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        r.getBoolean(4))).sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, 3, 2, Some(0.666667), true),
      (2L, 2, 0, Some(0.0), false),
      (3L, 0, 0, None, false),
      (4L, 0, 0, None, false)), s"got ${got.toSeq}")
    // real corpus: fractions bounded, verdict consistent with the rule
    run("t96_code_detect").collect().foreach { r =>
      val (nl, ncl, code) = (r.getInt(1), r.getInt(2), r.getBoolean(4))
      assert(ncl <= nl)
      assert(code == (ncl.toDouble > nl.toDouble * 0.3))
    }
  }

  test("t98 sentence stats: hand-built docs segment as expected") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_t98").toString
    Seq(
      (1L, "One two. Three! Four?"),     // 3 sentences: 7, 5, 4 chars
      (2L, "no terminator at all"),      // 1 sentence (trailing text)
      (3L, ""), (4L, "..!?.")).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("t98_sentence_stats")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, 3L, 16L, Some(5.333333)),
      (2L, 1L, 20L, Some(20.0)),
      (3L, 0L, 0L, None),
      (4L, 0L, 0L, None)), s"got ${got.toSeq}")
    // real corpus: totals bounded by raw text length
    run("t98_sentence_stats").collect().foreach { r =>
      assert(r.getLong(2) >= 0 && (r.getLong(1) > 0 || r.getLong(2) == 0))
    }
  }

  test("t97 boilerplate: planted shared footer flagged, unique content not") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_t97").toString
    val footer = "(c) example corp - all rights reserved"
    val docs = (1L to 6L).map(i => (i, s"unique line $i\n$footer")) :+
      (7L, "only unique content here") :+ (8L, "")
    docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("t97_boilerplate")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).sortBy(_._1)
    (1L to 6L).foreach { i =>
      assert(got(i.toInt - 1) == ((i, 2L, 1L, Some(0.5))),
        s"doc $i: ${got(i.toInt - 1)}")
    }
    assert(got(6) == ((7L, 1L, 0L, Some(0.0))))
    assert(got(7) == ((8L, 0L, 0L, None)), "empty doc must report NULL")
    // real corpus: every doc reported, boiler bounded by lines
    val all = run("t97_boilerplate").collect()
    assert(all.length == spark.read.parquet(s"$d/documents.parquet").count())
    all.foreach(r => assert(r.getLong(2) <= r.getLong(1)))
  }

  test("t94 bpe apply: learned merges compress the hand-checked corpus") {
    // merges from the t93 fixture: (a,a), (aa,a), (b,b). "aaa"->1 symbol,
    // "bb"->1 symbol
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_t94").toString
    Seq((1L, "aaa bb"), (2L, "aaa")).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("t94_bpe_apply")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(got.toSeq == Seq((1L, 5L, 2L, 0.4), (2L, 3L, 1L, 0.333333)),
      s"unexpected compression accounting: ${got.toSeq}")
    // real corpus: merging can only shrink, never grow, the symbol stream
    run("t94_bpe_apply").collect().foreach { r =>
      assert(r.getLong(2) <= r.getLong(1),
        s"doc ${r.getLong(0)} grew under BPE application")
      if (r.getLong(1) > 0)
        assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0)
    }
  }

  test("t95 dsir: broadcast threshold reproduces the exact top-50; target docs rank up") {
    val rows = run("t95_dsir_select").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3)))
    val expect = rows.sortBy { case (id, sc, _) => (-sc, id) }
      .take(50).map(_._1).toSet
    val got = rows.filter(_._3).map(_._1).toSet
    assert(got == expect, "threshold selection != exact top-50")
    assert(got.size == math.min(50, rows.length))
    // the scorer must prefer target-like docs: mean importance of the
    // target partition beats the rest (that is what DSIR selects FOR)
    val (tgt, rest) = rows.partition(_._1 % 10 == 0)
    val (mt, mr) = (tgt.map(_._2).sum.toDouble / tgt.length,
      rest.map(_._2).sum.toDouble / rest.length)
    assert(mt > mr, f"target docs do not outscore raw: $mt%.0f <= $mr%.0f")
  }

  test("t84 sequence pack: tokens conserved, chunks contiguous per source") {
    val chunks = run("t84_sequence_pack").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // every token lands in exactly one chunk
    val packed = chunks.map(_._4).sum
    val total = run("t70_token_stats")
      .agg(sum(col("n_tokens"))).collect()(0).getLong(0)
    assert(packed == total, s"packed $packed != corpus $total tokens")
    // chunk ids are dense 0..max within each source (concat never skips a
    // 512-token window) and each holds at least one doc
    chunks.groupBy(_._1).foreach { case (src, g) =>
      val ids = g.map(_._2).sorted
      assert(ids.head == 0L && ids.last == ids.length - 1L,
        s"$src chunk ids not dense: ${ids.mkString(",")}")
      assert(g.forall(_._3 >= 1), s"$src has an empty chunk")
    }
  }

  test("q46/q66/q67 aggregate extensions: sorted listagg, deterministic " +
      "mode, bounded correlation") {
    run("q46_string_agg").collect().foreach { r =>
      val names = r.getString(2).split(",").toSeq
      assert(names == names.sorted, "listagg members must be sorted")
      assert(names.length == r.getLong(1), "member count != n_supps")
    }
    val modes = run("q66_mode").collect()
    assert(modes.map(_.getString(0)).distinct.length == modes.length,
      "exactly one mode row per group")
    assert(modes.forall(_.getLong(2) >= 1))
    run("q67_regression_aggs").collect().foreach { r =>
      val (sl, ic, co) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      assert(!sl.isNaN && !ic.isNaN, "finite regression line")
      assert(co >= -1.0 && co <= 1.0, s"corr out of range: $co")
    }
  }

  test("d91 repeated passages: counts coherent and spans genuinely cross-doc") {
    val rows = run("d91_repeated_passages").collect()
    assert(rows.nonEmpty, "corpus is known to contain repeated spans")
    rows.foreach { r =>
      val (nd, no, fd, ld) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nd >= 2 && no >= nd, s"occurrences $no < docs $nd")
      assert(fd < ld, "2+ distinct docs must span distinct ids")
      assert(r.getString(0).split(" ").length == 10, "span is a 10-gram")
    }
  }

  test("d92 semantic dedup: drop decisions are cluster-scoped and greedy-consistent") {
    val out = run("d92_semantic_dedup").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
    assert(out.length == 500, "every vector gets a verdict")
    val dropped = out.count(_._3)
    assert(dropped > 0, "the 0.3-threshold corpus has known within-cluster near-dups")
    assert(dropped < 250, "dedup must not drop most of the corpus")
    // greedy min-id rule: within every cluster the smallest vec_id survives
    out.groupBy(_._2).foreach { case (_, vs) =>
      assert(!vs.minBy(_._1)._3, "a cluster's smallest vec_id can never drop")
    }
  }

  test("t83 mixture report: shares sum to 1 and counts reconcile with the corpus") {
    val rows = run("t83_mixture_report").collect()
    val docs = rows.map(_.getLong(2)).sum
    assert(docs == 500, s"doc counts must cover the corpus, got $docs")
    val shareSum = rows.map(_.getDouble(5)).sum
    assert(math.abs(shareSum - 1.0) < 1e-4, s"doc shares sum to $shareSum")
    val tokShare = rows.map(_.getDouble(6)).sum
    assert(math.abs(tokShare - 1.0) < 1e-4, s"token shares sum to $tokShare")
  }

  test("d93 decisions: one representative per group, verdicts partition " +
      "the corpus, min-id kept") {
    val rows = run("d93_dedup_decisions").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getLong(3)))
    val byCanon = rows.groupBy(_._2)
    byCanon.foreach { case (canon, g) =>
      assert(g.count(_._3) == 1, s"group $canon: != 1 kept")
      val kept = g.find(_._3).get
      assert(kept._1 == canon && canon == g.map(_._1).min,
        s"group $canon: kept is not the min-id representative")
      assert(g.forall(_._4 == g.length), s"group $canon: size mismatch")
    }
    assert(rows.map(_._1).distinct.length == rows.length,
      "every doc gets exactly one verdict")
  }

  test("d87 components: labels are closed over the candidate-edge set") {
    val labels = run("d87_dedup_components").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = run("d83_dedup_minhash").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.forall { case (a, b) => labels(a) == labels(b) },
      "an edge crosses two components")
    assert(labels.forall { case (doc, root) => root <= doc })
  }

  test("d87 components: large-star/small-star converges in O(log n) rounds") {
    val edges = run("d83_dedup_minhash")
    // localMaxEdges = 0: every round stays distributed, so the bound below
    // is exercised rather than met by a driver finish after zero rounds
    val (labels, rounds) = operators.Dedup.connectedComponents(spark, edges,
      localMaxEdges = Some(0L))
    val n = labels.count()
    val bound = (math.log(n.toDouble.max(2)) / math.log(2)).ceil.toInt + 3
    assert(rounds <= bound, s"$rounds rounds for $n nodes (bound $bound)")
  }

  /** d83's candidate edges at sf0.01, collected once for the parity spec
    * (a real near-dup graph: cliques that the star rounds shrink). */
  private lazy val d83Sf001: (Array[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType) = {
    val df = SparkEntry.queries("d83_dedup_minhash")(spark,
      new java.io.File(d).getParent + "/sf0.01")
    (df.collect(), df.schema)
  }

  test("d87 components: distributed, driver-finished and switch-mid-loop " +
      "runs give identical labels and schema") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val schema = StructType(Seq(StructField("d1", LongType, false),
      StructField("d2", LongType, false)))
    def frame(es: Seq[(Long, Long)]) = spark.createDataFrame(
      java.util.Arrays.asList(es.map { case (a, b) => Row(a, b) }: _*),
      schema)
    // a chain with skip edges: diameter ~n/2 >> log2 n, and the skips give
    // the star rounds edges to shed, so a bound can trip mid-loop
    val chain = frame((0L until 2000L).flatMap(i =>
      Seq(i -> (i + 1), i -> (i + 2))))
    // disjoint components: cliques with scattered ids, a star, a path
    def id(i: Long) = i * 7919L % 1000003L
    val disjoint = frame(
      (2 to 12).flatMap { c =>
        val base = c * 100L
        for (a <- 0 until c; b <- a + 1 until c)
          yield (id(base + a), id(base + b))
      }.map { case (a, b) => (a min b, a max b) } ++
        (1L to 30L).map(i => 2000000L -> (2000000L + i)) ++
        (3000000L until 3000040L).map(i => i -> (i + 1)))
    val empty = frame(Seq.empty)
    val (d83Rows, d83Schema) = d83Sf001
    val d83 = spark.createDataFrame(
      java.util.Arrays.asList(d83Rows: _*), d83Schema)
    Seq("d83 sf0.01" -> d83, "chain" -> chain, "disjoint" -> disjoint,
        "empty" -> empty).foreach { case (name, edges) =>
      val n0 = edges.count()
      def cc(bound: Long) = {
        val (labels, rounds) = operators.Dedup.connectedComponents(spark,
          edges, localMaxEdges = Some(bound))
        (labels.schema, labels.collect()
          .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq, rounds)
      }
      val (distSchema, distRows, distRounds) = cc(0L)
      val (localSchema, localRows, localRounds) = cc(Long.MaxValue)
      assert(localRounds == 0, s"$name: driver finish ran star rounds")
      assert(localSchema == distSchema, s"$name: $localSchema vs $distSchema")
      assert(localRows == distRows, s"$name: driver labels diverge")
      assert(distRows.map(_._1).distinct.length == distRows.length,
        s"$name: a node has two labels")
      if (n0 > 0) {
        // one edge fewer than the input: trips once a round sheds edges
        val (swSchema, swRows, swRounds) = cc(n0 - 1)
        assert(swRounds >= 1 && swRounds < distRounds,
          s"$name: switch after $swRounds of $distRounds rounds")
        assert(swSchema == distSchema, s"$name: $swSchema vs $distSchema")
        assert(swRows == distRows, s"$name: mid-loop labels diverge")
      }
    }
  }

  test("tableParallel: shuffles a row-group-starved scan, leaves a multi-file one alone") {
    val base = java.nio.file.Files.createTempDirectory("graft_tp").toString
    // starved: one file, one row group -> the narrow-stage hazard
    spark.range(1000).toDF("doc_id").coalesce(1)
      .write.parquet(s"$base/starved/one.parquet")
    // healthy: at least as many files as cores -> no shuffle wanted
    val cores = spark.sparkContext.defaultParallelism
    spark.range(1000).toDF("doc_id").repartition(cores * 2)
      .write.parquet(s"$base/healthy/many.parquet")
    def plan(sub: String) = {
      val name = if (sub == "starved") "one" else "many"
      Graft.tableParallel(spark, s"$base/$sub", name)
        .queryExecution.executedPlan.toString
    }
    assert(plan("starved").contains("Exchange RoundRobinPartitioning"),
      "single-row-group scan must be redistributed")
    assert(!plan("healthy").contains("Exchange RoundRobinPartitioning"),
      "well-split input must not pay a shuffle")
  }

  test("plan hygiene: dedup/ANN candidate generation is never a cartesian") {
    // d86/s90 are the LABELED brute-force baselines; the scale paths must
    // generate candidates via equi-joins only
    Seq("d83_dedup_minhash", "d82_dedup_ngram_jaccard", "s94_ann_bucketed")
      .foreach { n =>
        val plan = run(n).queryExecution.executedPlan.toString
        assert(!plan.contains("CartesianProduct"), s"$n plans a cartesian")
      }
    Seq("d83_dedup_minhash", "s94_ann_bucketed").foreach { n =>
      val plan = run(n).queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$n plans a BNLJ")
    }
    // the newer scale paths: cluster-scoped (d92/s95) and span-keyed (d91)
    // candidate generation is also equi-join only (the one BNLJ in s95/d92
    // is the |labels|-row centroid broadcast, a bounded dimension table,
    // never corpus×corpus)
    Seq("d91_repeated_passages", "d92_semantic_dedup", "s95_ivf_probe",
      "s96_knn_graph")
      .foreach { n =>
        val plan = run(n).queryExecution.executedPlan.toString
        assert(!plan.contains("CartesianProduct"), s"$n plans a cartesian")
      }
    // s95's probe set must broadcast into candidate generation — a
    // sort-merge join there would shuffle the corpus-sized assignment
    val s95 = run("s95_ivf_probe").queryExecution.executedPlan.toString
    assert(s95.contains("BroadcastHashJoin"), "s95 lost the probe broadcast")
  }

  test("m96 frame sampling: an empty-text doc yields zero frames") {
    // DuckDB floor division gives (0-1)//16 = -1 -> no frames; Spark's
    // `div` truncates toward zero -> a phantom frame 0 without the guard
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_m96").toString
    Seq((1L, ""), (2L, "0123456789abcdef0123"))
      .toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("m96_frame_sample")(spark, dir).collect()
    assert(!rows.exists(_.getLong(0) == 1L), "empty doc must yield no frames")
    assert(rows.count(_.getLong(0) == 2L) == 1,
      "20-char doc has frames 0,1; every-4th keeps only frame 0")
  }

  test("d90 incremental dedup: re-ingested docs flagged historical, rest new") {
    val rows = run("d90_incremental_dedup").collect()
      .map(r => r.getLong(0) -> r.getString(2))
    val (reingested, fresh) = rows.partition(_._1 >= 1000000)
    assert(reingested.length == 10 &&
      reingested.forall(_._2 == "dup_historical"),
      "every re-ingested copy must be flagged against the historical index")
    // the corpus has no natural exact dups (verified), so the original
    // batch docs are all genuinely new
    assert(fresh.forall(_._2 == "new"))
  }

  test("d88 decontamination: planted near-copies flagged, reversed controls clean") {
    val rows = run("d88_decontamination").collect()
    val (planted, controls) = rows.partition(_.getLong(0) < 2000000)
    assert(planted.nonEmpty && controls.nonEmpty)
    assert(planted.forall(_.getBoolean(4)),
      "every near-copy benchmark doc must be flagged contaminated")
    // a reversed doc can still share the odd symmetric gram (e.g. a repeated
    // token run reverses to itself) — the invariant is separation, not zero
    assert(controls.forall(r => !r.getBoolean(4) && r.getDouble(3) < 0.1),
      "token-reversed controls must score far below the threshold")
  }

  test("t79 tfidf: exactly top-3 terms per doc, ranks 1..3") {
    val rows = run("t79_tfidf_topterms").collect()
    val byDoc = rows.groupBy(_.getLong(0))
    assert(byDoc.values.forall(_.length == 3))
    assert(byDoc.values.forall(_.map(_.getInt(4)).sorted.sameElements(Seq(1, 2, 3))))
  }

  test("t80 repetition: ratio bounded and consistent with gram counts") {
    val rows = run("t80_repetition").collect()
    assert(rows.forall { r =>
      val (n, dn, ratio) = (r.getInt(1), r.getInt(2), r.getDouble(3))
      dn <= n && ratio >= 0.0 && ratio <= 1.0 &&
        (n == 0 || math.abs(ratio - (1.0 - dn.toDouble / n)) < 1e-6)
    })
  }

  test("q61 sessionize: per-user event counts are conserved") {
    val sessions = run("q61_sessionize").collect()
    val byUser = sessions.groupBy(_.getLong(0))
      .map { case (u, rows) => u -> rows.map(_.getLong(2)).sum }
    val events = Graft.table(spark, d, "events")
      .groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byUser == events, "sessionization dropped or duplicated events")
  }

  test("m96 frame sampling: only every-4th frames, all docs covered") {
    val rows = run("m96_frame_sample").collect()
    assert(rows.forall(_.getLong(1) % 4 == 0))
    assert(rows.map(_.getLong(0)).distinct.length == 500)
  }

  test("t70 token stats: counts consistent") {
    val rows = run("t70_token_stats").collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      assert(r.getInt(2) > 0) // n_tokens
      assert(r.getInt(3) <= r.getInt(2)) // distinct <= total
      assert(r.getInt(4) >= r.getInt(2)) // sum of len >= count (len>=1)
    }
  }

  test("m100 audio energy: windows tile every doc; hand-built PCM checks " +
      "exactly; corruption degrades to one invalid row") {
    val rows = run("m100_audio_energy").collect()
    assert(rows.forall(_.getBoolean(5)), "a well-formed payload failed")
    // windows tile the samples: per doc, sum(n_samples) == 64 + doc_id % 64,
    // all full except possibly the last, window ids dense from 0
    rows.groupBy(_.getLong(0)).foreach { case (doc, g) =>
      val byWin = g.sortBy(_.getInt(1))
      assert(byWin.map(_.getInt(1)).toSeq == byWin.indices.toSeq)
      assert(byWin.map(_.getInt(2)).sum == (64 + doc % 64).toInt)
      assert(byWin.init.forall(_.getInt(2) == 32), s"doc $doc: non-final partial")
    }
    // hand-built 2-sample mono WAV: samples +3 and -4 → energy 9+16, peak 4
    import operators.Multimodal.PcmFeatures
    def le16(v: Int) = Seq((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Int) = Seq((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    val wav = ("RIFF".getBytes("US-ASCII").toSeq ++ le32(40) ++
      "WAVEfmt ".getBytes("US-ASCII").toSeq ++ le32(16) ++ le16(1) ++
      le16(1) ++ le32(8000) ++ le32(16000) ++ le16(2) ++ le16(16) ++
      "data".getBytes("US-ASCII").toSeq ++ le32(4) ++
      le16(3) ++ le16(65536 - 4)).toArray
    val w = PcmFeatures.windows(7L, wav, 32)
    assert(w == Seq(operators.Multimodal.PcmWindow(7L, 0, 2, 25L, 4, true)))
    // corruption: a broken header yields exactly one invalid row
    assert(PcmFeatures.windows(1L, Array[Byte](1, 2, 3), 32) ==
      Seq(operators.Multimodal.PcmWindow(1L, -1, -1, -1L, -1, false)))
  }

  test("m97 wav decode: every payload parses valid; codec rejects corruption") {
    val rows = run("m97_wav_decode").collect()
    assert(rows.length == 500)
    assert(rows.forall(_.getBoolean(7)), "a well-formed payload failed to parse")
    // rate/channel derivation visible in the parsed (not constructed) fields
    assert(rows.forall { r =>
      r.getInt(4) == r.getInt(1) * r.getInt(2) * 2 && Set(1, 2)(r.getInt(2))
    })
    // corrupt payloads must be flagged, not mis-parsed
    import operators.Multimodal.WavCodec
    assert(!WavCodec.decode(1L, Array[Byte](1, 2, 3)).valid)
    val good = java.util.Arrays.copyOf(
      ("RIFF$---WAVEfmt " + " " * 24 + "data" + " " * 8).getBytes("US-ASCII"), 52)
    good(0) = 'X'.toByte // break the magic
    assert(!WavCodec.decode(1L, good).valid)
  }

  test("m98 bmp decode: every payload parses valid; codec rejects corruption") {
    val rows = run("m98_bmp_decode").collect()
    assert(rows.length == 500)
    assert(rows.forall(_.getBoolean(6)), "a well-formed BMP failed to parse")
    // the padding rule must hold in the PARSED fields: row_bytes is the
    // width rounded up to a 4-byte boundary, image = rows x height
    assert(rows.forall { r =>
      val (w, h, rb, ib) = (r.getInt(1), r.getInt(2), r.getInt(4), r.getInt(5))
      rb == ((w * 3 + 3) / 4) * 4 && ib == rb * h && rb % 4 == 0
    })
    import operators.Multimodal.BmpCodec
    assert(!BmpCodec.decode(1L, Array[Byte](1, 2, 3)).valid)
    val truncated = new Array[Byte](54)
    truncated(0) = 'B'.toByte; truncated(1) = 'M'.toByte
    assert(!BmpCodec.decode(1L, truncated).valid,
      "zeroed header (size inconsistencies) must be invalid")
  }

  test("m99 bmp resample: dims halve (ceil), sampler rejects corruption, " +
      "and a hand-built image checks byte-for-byte") {
    val rows = run("m99_bmp_resample").collect()
    assert(rows.length == 500 && rows.forall(_.getBoolean(4)))
    assert(rows.forall { r =>
      val id = r.getLong(0)
      r.getInt(1) == ((4 + id % 13) + 1) / 2 && r.getInt(2) == ((1 + id % 7) + 1) / 2
    })
    import operators.Multimodal.BmpCodec
    assert(!BmpCodec.resample2x(1L, Array[Byte](1, 2, 3)).valid)
    // hand-built 2x1 image: rowBytes=8, pixels (r=0,c=0)=bytes 1,2,3 and
    // (r=0,c=1)=bytes 4,5,6 (skipped by the 2x sampler); padding 7,8
    val px = Array[Byte](1, 2, 3, 4, 5, 6, 7, 8)
    val hdr = java.nio.ByteBuffer.allocate(54)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    hdr.put('B'.toByte).put('M'.toByte).putInt(54 + 8).putInt(0).putInt(54)
      .putInt(40).putInt(2).putInt(1).putShort(1).putShort(24).putInt(0)
      .putInt(8).putInt(2835).putInt(2835).putInt(0).putInt(0)
    val out = BmpCodec.resample2x(9L, hdr.array() ++ px)
    assert(out.valid && out.out_w == 1 && out.out_h == 1 &&
      out.sample_sum == 1 + 2 + 3,
      s"sampler must take only pixel (0,0): $out")
  }

  test("m95 multimodal: features consistent with payload bytes") {
    val rows = run("m95_multimodal_features").collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      assert(r.getInt(1) > 0)
      assert(r.getInt(2) >= 0 && r.getInt(2) < 256)
      assert(r.getLong(3) >= 0 && r.getLong(3) < 65536)
    }
  }

  test("m101 aHash: hand-built image pins the visual bit order and mean test") {
    import operators.Multimodal.PerceptualHash
    assert(!PerceptualHash.aHash(1L, Array[Byte](1, 2, 3)).valid)
    // 2x2 image, rowBytes=8: STORAGE row 0 (= visual BOTTOM) bright
    // (100,100,100) pixels, storage row 1 (= visual TOP) black. Visual
    // top-down read must emit the dark row first: bits "0011", never "1100".
    def row(v: Int) = Array.fill(6)(v.toByte) ++ Array[Byte](0, 0)
    val hdr = java.nio.ByteBuffer.allocate(54)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    hdr.put('B'.toByte).put('M'.toByte).putInt(54 + 16).putInt(0).putInt(54)
      .putInt(40).putInt(2).putInt(2).putShort(1).putShort(24).putInt(0)
      .putInt(16).putInt(2835).putInt(2835).putInt(0).putInt(0)
    val out = PerceptualHash.aHash(7L, hdr.array() ++ row(100) ++ row(0))
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest("2x2:0011".getBytes("UTF-8")).map(b => f"${b & 0xff}%02x")
      .mkString
    assert(out.valid && out.w == 2 && out.h == 2 && out.phash == md5,
      s"visual-order aHash must be md5('2x2:0011'): $out")
    // uniform image: gray*n == total everywhere — the STRICT mean test must
    // give all-zero bits (a >= would flip every uniform image to all-ones)
    val hdr1 = java.nio.ByteBuffer.allocate(54)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    hdr1.put('B'.toByte).put('M'.toByte).putInt(54 + 4).putInt(0).putInt(54)
      .putInt(40).putInt(1).putInt(1).putShort(1).putShort(24).putInt(0)
      .putInt(4).putInt(2835).putInt(2835).putInt(0).putInt(0)
    val one = PerceptualHash.aHash(8L,
      hdr1.array() ++ Array[Byte](50, 50, 50, 0))
    val md5z = java.security.MessageDigest.getInstance("MD5")
      .digest("1x1:0".getBytes("UTF-8")).map(b => f"${b & 0xff}%02x")
      .mkString
    assert(one.valid && one.phash == md5z, "uniform image must hash all-zero bits")
  }

  test("m101 dedup: groups agree with phash equality, canonical is min id") {
    val rows = run("m101_image_phash_dedup").collect()
      .map(r => (r.getLong(0), r.getString(3), r.getLong(4), r.getLong(5)))
    val byHash = rows.groupBy(_._2)
    assert(byHash.exists(_._2.length > 1),
      "the mod-4 pixel pattern must produce real duplicate groups")
    rows.foreach { case (_, h, n, canon) =>
      val grp = byHash(h)
      assert(n == grp.length, "group_n must count the phash group")
      assert(canon == grp.map(_._1).min, "canonical must be the min doc_id")
    }
  }

  test("t86 mixture sampling: deterministic, bounded by the smallest token budget") {
    val out = run("t86_mixture_sample").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val out2 = run("t86_mixture_sample").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.sortBy(_._1).sameElements(out2.sortBy(_._1)),
      "hash-threshold sampling must be run-to-run deterministic")
    val totals = Graft.table(spark, d, "documents")
      .select(col("source"),
        size(operators.TextAnalysis.tokens(col("text"))).cast("long").as("n"))
      .groupBy("source").agg(sum("n").as("tok")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val minTok = totals.values.min
    // rate = min_tok / tok_n: the smallest source's rate is exactly 1 — a
    // mixture equalizer must never throw away part of its own budget floor
    totals.filter(_._2 == minTok).keys.foreach { src =>
      val keptDocs = out.count(_._2 == src)
      val allDocs = Graft.table(spark, d, "documents")
        .filter(col("source") === src).count()
      assert(keptDocs == allDocs, s"min-token source $src must keep all docs")
    }
    // and every source's kept set is a subset of its own docs
    val bySrc = out.groupBy(_._2)
    bySrc.foreach { case (src, kept) =>
      assert(kept.map(_._1).distinct.length == kept.length,
        s"$src kept a doc twice")
    }
  }

  test("d94 split leakage: pairs straddle splits, labels agree with t78") {
    val leak = run("d94_split_leakage").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
    assert(leak.nonEmpty, "near-copies at doc_id+1000000 must leak across splits")
    leak.foreach { case (_, _, s1, s2) => assert(s1 != s2) }
    // the split labels are the SAME deterministic rule t78 publishes
    val t78 = run("t78_split_sample").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    leak.foreach { case (d1, d2, s1, s2) =>
      t78.get(d1).foreach(l => assert(l == s1, s"doc $d1 label drifted from t78"))
      t78.get(d2).foreach(l => assert(l == s2, s"doc $d2 label drifted from t78"))
    }
    // and every leaked pair is one of d83's candidate pairs
    val pairs = run("d83_dedup_minhash").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    leak.foreach { case (d1, d2, _, _) => assert(pairs.contains((d1, d2))) }
  }

  test("s96 knn graph: edges canonical, degree-bounded, sims in range") {
    val edges = run("s96_knn_graph").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(edges.nonEmpty)
    edges.foreach { case (v1, v2, sim) =>
      assert(v1 < v2, "edges must be canonicalized v1 < v2")
      assert(sim >= -1.000001 && sim <= 1.000001, s"cosine out of range: $sim")
    }
    assert(edges.map(e => (e._1, e._2)).distinct.length == edges.length)
    // a mutual edge consumes one of each endpoint's 3 kNN slots, so no
    // node can belong to more than 3 edges
    val degree = edges.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map(_._2.length)
    assert(degree.max <= 3, "mutual top-3 bounds the degree at 3")
  }

  test("t88 winnowing: shared passages share a fingerprint, index compresses") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_winnow").toString
    val passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    Seq(
      (1L, s"x1 y1 $passage z1"),
      (2L, s"p2 $passage q2 r2"),
      (3L, "unrelated words only here nothing shared at all today"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val byDoc = SparkEntry.queries("t88_winnow_fingerprints")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    // the winnowing guarantee: a shared passage of >= w+k-1 = 6 tokens
    // forces at least one common selected fingerprint
    assert((byDoc(1L) & byDoc(2L)).nonEmpty,
      "docs sharing a 10-token passage must share a fingerprint")
    assert((byDoc(1L) & byDoc(3L)).isEmpty, "unrelated docs stay disjoint")
    // selection compresses: fingerprints ≤ windows < grams (13 tokens →
    // 11 grams → 8 windows), and real corpora select ~2/w of grams
    assert(byDoc(1L).size < 11)
    val corpus = run("t88_winnow_fingerprints").count()
    val grams = Graft.table(spark, d, "documents")
      .select(explode(graft.functions.GraftFunctions
        .word_shingles(col("text"), 3))).count()
    assert(corpus < grams / 2,
      s"winnowed index ($corpus) must be well under the full gram count ($grams)")
  }

  test("p100 corpus prep: the staged pipeline conserves its gates") {
    val card = run("p100_corpus_prep").collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3))))
    assert(card.nonEmpty)
    card.foreach { case ((src, lang), (n, tok)) =>
      assert(n > 0, s"($src,$lang) empty cell in the data card")
      assert(tok >= n * 20, // the quality gate requires >= 20 tokens/doc
        s"($src,$lang) carries a doc below the 20-token gate")
    }
    // gate + dedup + decontamination + sampling can only shrink the corpus
    val total = card.map(_._2._1).sum
    assert(total < Graft.table(spark, d, "documents").count())
  }

  test("d95 winnowed near-dup: recovers the full-index pairs") {
    val winnowed = run("d95_winnow_near_dup").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = run("d82_dedup_ngram_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full.nonEmpty)
    val recall = (winnowed & full).size.toDouble / full.size
    assert(recall >= 0.9,
      s"winnowed index recalls $recall of the full-index pairs (100% measured)")
  }

  test("t87 bigram surprisal: LM broadcasts, scores bounded, coverage total") {
    val df = run("t87_bigram_surprisal")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "the LM is a model artifact — it must broadcast to the scorers")
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= 1, "every scored doc has at least one bigram")
      assert(r.getLong(2) <= 0, "log-probabilities are non-positive")
      assert(r.getLong(3) >= 0, "surprisal is non-negative")
    }
    // the LM is self-trained: every doc with >= 2 tokens must be scored
    val scorable = Graft.table(spark, d, "documents")
      .filter(size(operators.TextAnalysis.tokens(col("text"))) >= 2).count()
    assert(rows.length == scorable, "no doc may drop out to OOV gaps")
  }

  test("q68 correlated subquery: decorrelated plan broadcasts the brand filter") {
    val plan = run("q68_correlated_subquery").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "the part-brand dimension filter must broadcast into lineitem")
    assert(!plan.contains("CartesianProduct"), "decorrelation must not cross-join")
  }

  test("t89 entropy: bounded by ln(n), all-distinct doc saturates it") {
    val rows = run("t89_token_entropy").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (n, dist, h, norm) =>
      assert(dist <= n)
      assert(h >= -1e-6 && h <= math.log(n.toDouble) + 1e-6,
        s"entropy $h outside [0, ln($n)]")
      assert(norm >= -1e-6 && norm <= 1.000001)
      // H = ln n exactly when every token is distinct (quantization-exact)
      if (dist == n && n > 1) assert(math.abs(norm - 1.0) < 1e-5)
    }
  }

  test("t90 chunks: windows tile each doc — stride 24, full tail coverage") {
    val byDoc = run("t90_doc_chunks").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .groupBy(_._1)
    val nTok = Graft.table(spark, d, "documents")
      .select(col("doc_id"), size(operators.TextAnalysis.tokens(col("text"))))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(byDoc.nonEmpty)
    byDoc.foreach { case (doc, chunks) =>
      val sorted = chunks.sortBy(_._2)
      assert(sorted.head._2 == 0 && sorted.last._2 == sorted.length - 1,
        s"doc $doc chunk_idx not contiguous from 0")
      sorted.foreach { case (_, idx, start, len) =>
        assert(start == idx * 24 + 1)
        assert(len >= 1 && len <= 32)
      }
      // the final window reaches exactly the last token
      val (_, _, lastStart, lastLen) = sorted.last
      assert(lastStart + lastLen - 1 == nTok(doc),
        s"doc $doc tail not covered")
      // every non-final window is full-size (32)
      sorted.init.foreach { case (_, _, _, len) => assert(len == 32) }
    }
  }

  test("t91 bm25: top-20 ranked descending, one corpus scan via stage reuse") {
    val df = run("t91_bm25")
    val rows0 = df.collect() // execute first: AQE reuse is a RUNTIME decision
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage")
        || plan.contains("TableCacheQueryStage"),
      s"stats and scorer must share ONE corpus scan via the pinned exchange\n$plan")
    val rows = rows0
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.length == 20)
    rows.foreach { case (_, nTerms, dl, score) =>
      assert(nTerms >= 1 && nTerms <= 3)
      assert(dl > 0)
      assert(score > 0)
    }
    val scores = rows.map(_._4)
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
      "results must arrive ranked by score descending")
  }

  test("t92 adaptive gate: keeps exactly the top quartile per language") {
    val rows = run("t92_adaptive_quality").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (lang, n, kept, thr) =>
      assert(kept == n / 4, s"$lang kept $kept of $n, expected ${n / 4}")
      assert(thr >= 0.0 && thr <= 1.000001)
    }
    // per-language thresholds genuinely differ from a single global cut —
    // the reason the gate is adaptive (CCNet): at least two languages
    // disagree on where the quartile falls
    assert(rows.map(_._4).distinct.length > 1)
  }

  test("s97 quantization: codes bounded, error under the half-step bound, " +
      "no corpus-sized exchange") {
    val df = run("s97_embed_quantize")
    val rows = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    // scale shape: the only exchanges are the |dims|-row stats rollup and
    // its broadcast — never a corpus-sized repartition (shuffling rows*dims
    // to save a pruned columnar re-scan would cost more I/O than it saves)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning(vec_id"),
      s"no corpus-sized exchange may appear in the quantizer plan\n$plan")
    assert(rows.nonEmpty)
    rows.foreach { case (_, nDims, codeSum, err) =>
      assert(nDims == 64)
      assert(codeSum >= 0 && codeSum <= 255L * nDims, "codes must fit uint8")
      assert(err >= 0)
    }
    // int8 reconstruction error is bounded by half a quantization step of
    // the widest dimension: max_j (span_j / 255 / 2), in original units
    val stats = Graft.table(spark, d, "embeddings")
      .select(posexplode(col("embedding")))
      .groupBy("pos").agg(max(col("col")).as("mx"), min(col("col")).as("mn"))
      .select(max(col("mx") - col("mn"))).head().getFloat(0)
    val bound = stats / 255.0 / 2.0 + 1e-6
    rows.foreach { case (id, _, _, err) =>
      assert(err <= bound, s"vec $id mean_abs_err $err exceeds half-step $bound")
    }
  }

  test("q69 histogram: buckets partition the table, totals conserved") {
    val rows = run("q69_histogram").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, b, n) =>
      assert(b >= 0 && b <= 9); assert(n > 0)
    }
    // no (flag, bucket) cell may appear twice, and the histogram counts
    // must add back up to the full table — binning drops nothing
    assert(rows.map(r => (r._1, r._2)).distinct.length == rows.length)
    assert(rows.map(_._3).sum == Graft.table(spark, d, "lineitem").count())
  }

  test("d96 transitivity audit: graph identities hold, planted dups close") {
    val r = run("d96_transitivity_audit").head()
    val (edges, wedges, closed, tris, closure) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
    assert(edges > 0 && wedges > 0)
    assert(closed <= wedges, "a closed wedge is a wedge")
    assert(closed % 3 == 0, "every triangle closes exactly 3 wedges")
    assert(tris == closed / 3)
    assert(closure >= 0.0 && closure <= 1.0)
    // the planted near-dup structure is genuinely transitive — on a clean
    // candidate graph the audit must NOT report collision noise
    assert(closure >= 0.9, s"dup-graph closure $closure: collision noise?")
  }

  test("d97 edit-distance verify: planted near-dups verified, metric sane") {
    val rows = run("d97_editdist_verify").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getBoolean(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (d1, d2, dist, maxLen, sim, verified) =>
      assert(d1 < d2, "candidate pairs are canonical (d1 < d2)")
      assert(dist >= 0 && dist <= maxLen, s"($d1,$d2) distance outside [0, maxLen]")
      assert(sim >= 0.0 && sim <= 1.0)
      assert(verified == (sim >= 0.8), "verdict is exactly the threshold test")
    }
    // every planted pair (doc, its 2-tokens-dropped copy at +1000000) that
    // the LSH tier surfaced must pass exact verification: the edit distance
    // to a strict prefix is the length delta, well under 20% of the text
    val planted = rows.filter { case (d1, d2, _, _, _, _) => d2 == d1 + 1000000 }
    assert(planted.nonEmpty, "LSH tier lost every planted near-dup")
    assert(planted.forall(_._6), "a planted near-dup failed exact verification")
  }

  test("q70 ohlc: bar invariants hold, events conserved") {
    val rows = run("q70_ohlc").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    assert(rows.nonEmpty)
    rows.foreach { case (hour, typ, n, open, close, low, high) =>
      assert(n > 0)
      assert(low <= high, s"($hour,$typ) low > high")
      assert(open >= low && open <= high, s"($hour,$typ) open outside bar")
      assert(close >= low && close <= high, s"($hour,$typ) close outside bar")
      if (n == 1) assert(open == close && low == high)
    }
    // resampling drops nothing: bar counts add back up to the event table
    assert(rows.map(_._3).sum == Graft.table(spark, d, "events").count())
  }

  test("plan shapes hold at runtime: p100 and d88 materialize their shared " +
      "chains once (executed-plan regression guard)") {
    // these shapes regressed silently before: CollapseProject inlining,
    // asymmetric column pruning, and inferred not-null filters all fork a
    // pinned exchange without failing any correctness gate. Execute the
    // query (AQE reuse is a runtime decision) and assert on the FINAL plan.
    def finalPlan(name: String) = {
      val df = run(name)
      df.queryExecution.toRdd.foreach(_ => ())
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    }
    val p100 = finalPlan("p100_corpus_prep")
    assert(p100.contains("ReusedExchange"),
      "p100's gate->dedup->decontam chain must materialize once")
    val d88 = finalPlan("d88_decontamination")
    val scans = d88.sliding("Scan parquet".length).count(_ == "Scan parquet")
    assert(scans <= 2,
      s"d88 must read the corpus once and the sample once, saw $scans scans")
    assert(d88.contains("ReusedExchange"),
      "d88's benchmark derivation must be shared, not re-derived")
    spark.catalog.clearCache()
  }

  test("t99 gopher rules: verdict equals the AND of its printed gates") {
    val rows = run("t99_gopher_rules").collect()
    assert(rows.length == Graft.table(spark, d, "documents").count())
    rows.foreach { r =>
      val n = r.getInt(1)
      val mean = if (r.isNullAt(2)) None else Some(r.getDouble(2))
      val alpha = if (r.isNullAt(3)) None else Some(r.getDouble(3))
      val expect = (n >= 10 && n <= 100000) &&
        mean.exists(m => m >= 2.0 && m <= 12.0) &&
        alpha.exists(_ >= 0.6) && r.getInt(4) >= 2
      assert(r.getBoolean(5) == expect, s"doc ${r.getLong(0)} verdict " +
        s"disagrees with its own printed gates")
    }
    // the corpus genuinely exercises both branches of the gate
    assert(rows.exists(_.getBoolean(5)) && rows.exists(!_.getBoolean(5)))
  }

  test("t100 NB classifier: scores exactly the held-out half, argmax is " +
      "deterministic") {
    val rows = run("t100_nb_classifier").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) % 2 == 1, "training half leaked into predictions")
      assert(r.getDouble(3) < 0, "a log-probability score must be negative")
      assert(r.getBoolean(4) == (r.getString(1) == r.getString(2)))
    }
    assert(rows.map(_.getLong(0)).distinct.length == rows.length,
      "a doc received more than one prediction")
    // every held-out doc with at least one token is scored
    val expected = Graft.table(spark, d, "documents")
      .filter(col("doc_id") % 2 === 1)
      .filter(size(operators.TextAnalysis.tokens(lower(col("text")))) > 0)
      .count()
    assert(rows.length == expected)
  }

  test("t100 NB classifier: recovers a hand-computed model on a planted " +
      "corpus") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_nb").toString
    // train (even ids): lang aa = {x:3, y:1}, lang bb = {y:3, z:1};
    // V = 3, n_tok = 4 each, priors equal. Held-out doc 1 ("x x") must
    // score ln(1/2) + 2·ln((3+1)/(4+3)) for aa vs ln(1/2) + 2·ln(1/7)
    // for bb → aa; doc 3 ("z z") symmetrically → bb.
    Seq(
      (0L, "x x x y", "aa", "s", 7L),
      (2L, "y y y z", "bb", "s", 7L),
      (1L, "x x", "aa", "s", 3L),
      (3L, "z z", "aa", "s", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("t100_nb_classifier")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getString(2), r.getDouble(3)))
      .toMap
    assert(out.keySet == Set(1L, 3L))
    assert(out(1L)._1 == "aa" && out(3L)._1 == "bb")
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val s1 = r6(math.log(0.5)) + 2 * r6(math.log(4.0 / 7.0))
    assert(math.abs(out(1L)._2 - s1) < 1e-9,
      s"doc 1 score ${out(1L)._2} != hand-computed $s1")
    spark.catalog.clearCache()
  }

  test("q73 cooccurrence: pair identities and bounds hold") {
    val rows = run("q73_event_cooccurrence").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getString(0) < r.getString(1), "pairs must be canonical")
      assert(r.getLong(2) <= math.min(r.getLong(3), r.getLong(4)),
        "a pair cannot out-count its rarer member")
      assert(r.getDouble(5) > 0 && r.getDouble(5) <= 1.0)
      assert(r.getDouble(6) >= 0)
    }
    assert(rows.map(r => (r.getString(0), r.getString(1))).distinct.length
      == rows.length)
    // output is domain-bounded: at most C(|types|, 2) rows at ANY scale
    val types = rows.flatMap(r => Seq(r.getString(0), r.getString(1)))
      .distinct.length
    assert(rows.length <= types * (types - 1) / 2)
  }

  test("pathological corpus: every text/dedup/similarity/multimodal operator " +
      "survives empty docs, whitespace-only docs, and zero vectors") {
    // at 100 TB these rows EXIST: a scraped corpus contains empty documents,
    // whitespace-only documents, sub-shingle fragments, unicode, and
    // degenerate (all-zero) embeddings. No operator may throw on them.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_patho").toString
    Seq(
      (1L, "", "en", "src0", 0L),
      (2L, "single", "en", "src0", 6L),
      (3L, "   \t\n ", "en", "src1", 6L),
      (4L, "a b", "de", "src1", 3L),
      (5L, "héllo wörld ünïcode tëst ø", "fr", "src2", 26L),
      (6L, Seq.fill(20)("tok").mkString(" "), "en", "src2", 79L),
      (7L, "\ta\nb\fc\rd e", "en", "src3", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    Seq(
      (1L, Array(1.0f, 0.0f, 2.0f, 0.5f), 0),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f), 1), // zero vector: norm guards
      (3L, Array(-1.0f, 1.0f, -1.0f, 1.0f), 0),
      (4L, Array(0.1f, 0.2f, 0.3f, 0.4f), 2),
      (5L, Array(5.0f, -5.0f, 0.0f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    // ts is epoch NANOS as int64, matching the driver tables' physical
    // schema (TIMESTAMP(NANOS), read as LONG under the legacy conf)
    val t0 = 1704067200L * 1000000000L
    Seq(
      (1L, t0, 1L, "view", 0.0, """{"k": 1}"""),
      (2L, t0 + 1e9.toLong, 1L, "click", 1.5, ""), // empty props
      (3L, t0 + 2e9.toLong, 2L, "purchase", -1.0, "{bad json"), // malformed
      (4L, t0 + 3e9.toLong, 2L, "view", 0.0, null.asInstanceOf[String]))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => Set('t', 'd', 's', 'm').contains(n.head)) ++
      Seq("q61_sessionize", "q62_time_gap_fill", "q63_unpivot", "q64_funnel",
        "q73_event_cooccurrence", "q74_session_transitions")
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        fail(s"$n threw on the pathological corpus: ${e.getMessage}")
      }
    }
    spark.catalog.clearCache()
  }

  /** Driver-side exact machinery shared by the s103/s104 specs: quantized
    * corpus vectors, the planted queries, and integer squared L2. */
  private lazy val specRaw: Map[Long, Array[Double]] =
    spark.read.parquet(s"$d/embeddings.parquet")
      .selectExpr("vec_id", "cast(embedding as array<double>) e").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
  private lazy val specVecs: Map[Long, Array[Long]] =
    specRaw.map { case (id, v) => id -> v.map(x => math.round(x * 1e6)) }
  // perturbation applied to the RAW component before quantization — the
  // engine's plantedQueries order of operations
  private def specQv(id: Long): Array[Long] =
    specRaw(id).zipWithIndex.map { case (x, j) =>
      math.round((x + (if (j % 2 == 0) 0.001 else -0.001)) * 1e6) }
  private def sqL2(a: Array[Long], b: Array[Long]): Long =
    a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum

  test("s103 rerank: exact top-3 of the ADC top-10 shortlist; recall " +
      "never below the unreranked s101 path") {
    val rer = run("s103_ann_rerank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rer.length == 30, "10 queries x top-3")
    // the shortlist the rerank consumed (same engine path, k=10)
    val short = operators.Similarity.ivfpqSearch(spark, d, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (q, g) => q -> g.map(_._2) }
    rer.groupBy(_._1).foreach { case (q, g) =>
      assert(g.length == 3)
      val qq = specQv(q)
      // rerank output must equal the exact-L2 rank over the shortlist
      // (membership compared as a set: the output distance is rounded to
      // 6 dp, so re-sorting by it could transpose raw-distance ties)
      val expect = short(q)
        .map(n => (sqL2(qq, specVecs(n)), n)).sorted.take(3)
      assert(g.map(_._2).toSet == expect.map(_._2).toSet,
        s"query $q: rerank differs from exact rank over its shortlist")
      // and the reported distances ARE the exact ones
      g.foreach { case (_, n, dist) =>
        assert(math.abs(dist - sqL2(qq, specVecs(n)) / 1e12) < 1e-6,
          s"query $q neighbor $n: reported distance not exact")
      }
    }
    // rerank recall@3 vs ground truth dominates the ADC-only s101 path:
    // exact ordering within a superset shortlist can only promote true
    // neighbors the ADC misranked
    val adc3 = run("s101_ivfpq_search").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (q, g) => q -> g.map(_._2).toSet }
    val rer3 = rer.groupBy(_._1).map { case (q, g) => q -> g.map(_._2).toSet }
    adc3.keys.foreach { q =>
      val truth = specVecs.toSeq
        .map { case (n, v) => (sqL2(specQv(q), v), n) }
        .sorted.take(3).map(_._2).toSet
      assert((rer3(q) & truth).size >= (adc3(q) & truth).size,
        s"query $q: rerank lost recall vs the unreranked path")
    }
  }

  test("s104 delta search: fresh tier is the REAL corpus-minus-assignment " +
      "delta (empty under complete coverage); merge equals the ADC top-3") {
    // the fresh segment is corpus ∖ assignment — the REFRESH anti-join —
    // so with the inline artifact frames (complete by construction) the
    // delta is EMPTY and the serve answer degenerates to the indexed
    // tier exactly. The non-empty path (build → ingest → fresh serve →
    // refresh → empty) is pinned by the EngineSqlSpec lifecycle test
    // over an appendable corpus.
    val rows = run("s104_delta_search").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    assert(rows.length == 30, "10 queries x top-3")
    rows.foreach { case (q, n, tier, _) =>
      assert(tier == "indexed",
        s"($q,$n) served fresh under a complete assignment")
    }
    // the merged top-3 must BE the s101 ADC top-3, distances included
    val adc3 = operators.Similarity.ivfpqSearch(spark, d, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    rows.groupBy(_._1).foreach { case (q, got) =>
      assert(got.length == 3)
      val expect = adc3.filter(_._1 == q)
      assert(got.map(_._2).toSet == expect.map(_._2).toSet,
        s"query $q: merged top-3 differs from the ADC top-3")
      val dq = expect.map(r => r._2 -> r._3).toMap
      got.foreach { case (_, n, _, dist) =>
        assert(math.abs(dist - dq(n) / 1e12) < 1e-6,
          s"query $q neighbor $n: reported distance not the ADC distance")
      }
    }
  }

  test("s108 searchVectors: planted fixture through the public API is " +
      "bit-identical to s104; top-3 is a prefix of top-5") {
    import spark.implicits._
    // the planted queries handed in as a CALLER frame of raw doubles —
    // same perturb-then-quantize order of operations as the fixture, so
    // the public API must reproduce s104 exactly
    val callerQ = specRaw.toSeq.filter(_._1 < 10)
      .map { case (id, v) =>
        (id, v.zipWithIndex.map { case (x, j) =>
          x + (if (j % 2 == 0) 0.001 else -0.001) }.toSeq) }
      .toDF("q_id", "embedding")
    val got = operators.Similarity.searchVectors(spark, d, callerQ)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .toSet
    val s104 = run("s104_delta_search").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .toSet
    assert(got == s104,
      "public searchVectors on the planted fixture must equal s104")
    // k is honored and monotone: the k=3 answer per query is a subset of
    // the k=5 answer (same ranking, longer prefix)
    val top5 = operators.Similarity.searchVectors(spark, d, callerQ, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (q, g) => q -> g.map(_._2).toSet }
    assert(top5.forall(_._2.size == 5), "k=5 must return 5 per query")
    got.groupBy(_._1).foreach { case (q, g) =>
      assert(g.map(_._2).subsetOf(top5(q)),
        s"query $q: top-3 not a prefix of top-5")
    }
    // wrong-width queries fail FAST with a crisp plan-side error — never
    // silently ADC-score truncated subvector slices
    val bad = Seq((99L, Seq(1.0, 2.0, 3.0))).toDF("q_id", "embedding")
    val err = intercept[Throwable] {
      operators.Similarity.searchVectors(spark, d, bad).collect()
    }
    val chain = Iterator.iterate(err)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
    assert(chain.contains("does not match the corpus dimension"),
      s"dimension mismatch not surfaced: $chain")
    // degenerate serve batch: an empty query frame answers empty, not an
    // error — an online server's idle micro-batch must be a no-op
    val none = operators.Similarity.searchVectors(spark, d,
      callerQ.limit(0)).collect()
    assert(none.isEmpty, "empty query frame must serve an empty answer")
  }

  test("s108 query-frame build: midpoints are genuinely out-of-corpus " +
      "points and every query gets k results") {
    val rows = run("s108_search_vectors").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(rows.map(_._1).toSet == (10L to 19L).toSet &&
      rows.groupBy(_._1).forall(_._2.length == 3),
      "10 midpoint queries x top-3")
    // complete inline coverage ⇒ indexed tier only (the fresh path for
    // arbitrary vectors rides the same kernel s104's lifecycle pins)
    rows.foreach { case (q, n, tier) =>
      assert(tier == "indexed", s"($q,$n) served fresh under full coverage")
    }
    // the midpoint of two distinct corpus vectors is not a corpus row:
    // its quantized grid differs from BOTH endpoints somewhere
    (10L to 19L).foreach { q =>
      val mid = specRaw(q).zip(specRaw(q + 1))
        .map { case (x, y) => math.round((x + y) / 2 * 1e6) }
      assert(!mid.sameElements(specVecs(q)) &&
        !mid.sameElements(specVecs(q + 1)),
        s"midpoint query $q degenerated to a corpus vector")
    }
  }

  test("d103 semantic decontam: flags are train-side only, matches share " +
      "a cluster, and each reported match is the best eval match") {
    val rows = run("d103_semantic_decontam").collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue,
        r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty, "the synthetic corpus must show SOME leakage")
    // d92 reports every vector's cluster — the same assignment d103's
    // candidate join uses
    val clusterOf = run("d92_semantic_dedup").collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue)).toMap
    def cos6(a: Long, b: Long): Double = {
      val (va, vb) = (specVecs(a), specVecs(b))
      val dot = va.zip(vb).map { case (x, y) => x * y }.sum.toDouble
      val (na, nb) = (va.map(x => x * x).sum, vb.map(x => x * x).sum)
      if (na == 0 || nb == 0) 0.0
      else BigDecimal(dot / (math.sqrt(na.toDouble) *
        math.sqrt(nb.toDouble)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val evalIds = specVecs.keys.filter(_ % 23 == 0).toSeq
    rows.foreach { case (v, c, e, sim) =>
      assert(v % 23 != 0, s"$v: eval vector flagged as train")
      assert(e % 23 == 0, s"$v: match $e is not an eval vector")
      assert(clusterOf(v) == c && clusterOf(e) == c,
        s"$v/$e: reported pair does not share cluster $c")
      assert(math.abs(sim - cos6(v, e)) < 1e-6,
        s"$v/$e: reported sim $sim != exact ${cos6(v, e)}")
      assert(sim > 0.3, s"$v: flagged below the threshold")
      // best-match: no same-cluster eval vector beats (sim, -eval_id)
      val better = evalIds.filter(o => clusterOf(o) == c && o != e)
        .map(o => (cos6(v, o), o))
        .exists { case (os, o) => os > sim || (os == sim && o < e) }
      assert(!better, s"$v: a better eval match than $e exists")
    }
    // and a train vector with no same-cluster eval above threshold is
    // never flagged
    val flagged = rows.map(_._1).toSet
    val unflagged = specVecs.keys
      .filter(v => v % 23 != 0 && !flagged.contains(v))
    unflagged.foreach { v =>
      val leak = evalIds.exists(o =>
        clusterOf(o) == clusterOf(v) && cos6(v, o) > 0.3)
      assert(!leak, s"$v leaks above threshold but was not flagged")
    }
  }

  test("p103 decontam scorecard: totals reconcile with the train universe " +
      "and the d103 flag set; both detector legs fire; shares exact") {
    val rows = run("p103_decontam_scorecard").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    // every train doc is accounted for in exactly one source row
    val trainDocs = spark.read.parquet(s"$d/documents.parquet")
      .filter(org.apache.spark.sql.functions.col("doc_id") % 23 =!= 0)
      .count()
    assert(rows.map(_._2).sum == trainDocs,
      "scorecard doc counts do not cover the train universe")
    // the semantic columns are exactly d103's distinct flag set
    val semFlagged = run("d103_semantic_decontam").collect()
      .map(_.getLong(0)).distinct.length
    assert(rows.map(r => r._4 + r._5).sum == semFlagged,
      "semantic-only + both must equal the d103 flag count")
    // defense-in-depth is real in this fixture: each leg catches docs
    // the other does not (lexical-only and semantic-only both nonzero)
    assert(rows.map(_._3).sum > 0, "lexical leg never fired")
    assert(rows.map(_._4).sum > 0, "semantic leg never fired")
    // the share column is the exact rounded ratio of its own counts
    rows.foreach { case (src, n, lo, so, both, share) =>
      val expect = BigDecimal((lo + so + both).toDouble / n)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(share - expect) < 1e-9,
        s"$src: flagged_share $share != ($lo+$so+$both)/$n")
    }
  }

  test("d101 incremental gate: every arrival reports once, matches point " +
      "into history, planted twins recalled") {
    val rows = run("d101_incremental_near_dup").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        r.getLong(2), r.getBoolean(3)))
    val (_, arrDocs) = operators.Dedup.incrementalParts(spark, d)
    val arrIds = arrDocs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(rows.length == arrIds.size && rows.map(_._1).toSet == arrIds,
      "gate must report every arrival exactly once")
    rows.foreach { case (id, m, nb, flag) =>
      assert(flag == m.isDefined)
      assert(nb >= 0 && nb <= 3)
      if (nb == 0) assert(m.isEmpty)
      m.foreach(h => assert(!arrIds.contains(h),
        s"arrival $id matched $h, which is not in history"))
    }
    // every arrival has a planted near-copy in the OTHER slice (1000000
    // ≡ 1 mod 7), so the gate should flag the large majority
    val recall = rows.count(_._4).toDouble / rows.length
    assert(recall >= 0.8, f"incremental recall $recall%.2f below floor")
  }

  test("p102 ingest gate: verdicts reconcile with d101 and the Gopher " +
      "rules; admission is their conjunction") {
    val rows = run("p102_ingest_gate").collect()
      .map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getBoolean(2), r.getInt(3), r.getBoolean(4))))
      .toMap
    val d101 = run("d101_incremental_near_dup").collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(rows.keySet == d101.keySet,
      "capstone must cover exactly the arrival universe")
    val t99ish = run("t99_gopher_rules").collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getBoolean(r.fieldIndex("keep"))))).toMap
    rows.foreach { case (id, (nd, keep, ntok, admitted)) =>
      assert(nd == d101(id), s"$id: near-dup verdict drifted from d101")
      assert(admitted == (keep && !nd), s"$id: admission not the conjunction")
      // raw documents among the arrivals must agree with t99 exactly
      // (synthetic near-copies have derived text t99 never sees)
      t99ish.get(id).foreach { case (tn, tk) =>
        assert(ntok == tn && keep == tk, s"$id: gate drifted from t99")
      }
    }
    assert(rows.values.exists(_._4) && rows.values.exists(!_._4),
      "fixtures should produce both admitted and rejected arrivals")
  }

  test("q75 regional revenue: nations confined to the region, revenue " +
      "reconciles with an independent two-step computation") {
    val rows = run("q75_tpch_regional_revenue").collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(rows.nonEmpty)
    val asia = graft.Graft.table(spark, d, "nation")
      .join(graft.Graft.table(spark, d, "region")
        .filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_name").collect().map(_.getString(0)).toSet
    assert(rows.keySet.subsetOf(asia), "a nation outside ASIA leaked in")
    rows.values.foreach { case (rev, n) => assert(rev > 0 && n > 0) }
    // independent recomputation via a different plan: aggregate lineitem
    // per (orderkey, suppkey) FIRST, then walk the dimension chain
    val li = graft.Graft.table(spark, d, "lineitem")
      .groupBy("l_orderkey", "l_suppkey")
      .agg(sum(floor((col("l_extendedprice") *
        (lit(1) - col("l_discount"))) * 10000 + 0.5).cast("long"))
        .as("revq"), count(lit(1)).as("n"))
    val alt = li
      .join(graft.Graft.table(spark, d, "orders")
        .filter(col("o_orderdate") >= "1996-01-01" &&
          col("o_orderdate") < "1997-01-01"),
        col("l_orderkey") === col("o_orderkey"))
      .join(graft.Graft.table(spark, d, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(graft.Graft.table(spark, d, "supplier"),
        col("l_suppkey") === col("s_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
      .join(graft.Graft.table(spark, d, "nation"),
        col("s_nationkey") === col("n_nationkey"))
      .filter(col("n_name").isin(asia.toSeq.map(x => x: Any): _*))
      .groupBy("n_name")
      .agg((sum(col("revq")).cast("double") / 10000).as("revenue"),
        sum(col("n")).cast("long").as("n_items"))
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getLong(2)))).toMap
    assert(rows == alt, "q75 diverges from the independent plan")
  }

  test("q74 transitions: reconcile against a driver-side sessionized " +
      "replay") {
    val rows = run("q74_session_transitions").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // independent replay: sort each user's events, split on >30-min gaps,
    // count consecutive in-session type pairs
    val ev = graft.Graft.table(spark, d, "events")
      .selectExpr("user_id", "cast(ts as long) tsl", "event_id",
        "event_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val expect = scala.collection.mutable.Map.empty[(String, String), Long]
    ev.groupBy(_._1).foreach { case (_, g) =>
      val ordered = g.sortBy(e => (e._2, e._3))
      ordered.zip(ordered.drop(1)).foreach { case (a, b) =>
        if (b._2 - a._2 <= 1800)
          expect.updateWith((a._4, b._4))(c => Some(c.getOrElse(0L) + 1L))
      }
    }
    assert(rows.keySet == expect.keySet, "transition pair sets differ")
    val fromTot = expect.groupBy(_._1._1).map { case (f, m) =>
      f -> m.values.sum }
    rows.foreach { case ((f, to), (n, nFrom, p)) =>
      assert(n == expect((f, to)), s"($f->$to) count")
      assert(nFrom == fromTot(f), s"$f outgoing total")
      assert(p == BigDecimal(n.toDouble / nFrom)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  test("s105 health card reconciles with s104's served output and the " +
      "exact baseline") {
    val r = run("s105_index_health").collect() match {
      case Array(only) => only
      case rows => fail(s"expected one card row, got ${rows.length}")
    }
    // inline artifact frames cover the whole corpus: the real delta
    // accounting must report zero fresh vectors (the EngineSqlSpec
    // lifecycle pins the non-zero path and the REFRESH flip)
    assert(r.getLong(r.fieldIndex("n_indexed")) == specVecs.size)
    assert(r.getLong(r.fieldIndex("n_fresh")) == 0L)
    val served = run("s104_delta_search").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getString(2)))
    assert(r.getLong(r.fieldIndex("n_fresh_served")) ==
      served.count(_._3 == "fresh"))
    // total hits vs a driver-side exact ground truth
    val total = served.groupBy(_._1).map { case (q, g) =>
      val qq = specQv(q)
      val exact = specVecs.toSeq.map { case (id, v) => (sqL2(qq, v), id) }
        .sorted.take(3).map(_._2).toSet
      g.count(x => exact.contains(x._2))
    }.sum
    assert(r.getLong(r.fieldIndex("total_hits")) == total)
    assert(r.getLong(r.fieldIndex("n_queries")) == 10)
    val freshFrac = r.getLong(r.fieldIndex("n_fresh")).toDouble /
      specVecs.size
    assert(r.getBoolean(r.fieldIndex("rebuild")) ==
      (freshFrac >= 0.05 || total < 0.7 * 30),
      "rebuild verdict drifted from its printed inputs")
  }

  test("t101 scorecard reconciles with t99's gates, t96's routing and " +
      "the exact-dup layer") {
    val card = run("t101_source_scorecard").collect()
      .map(r => r.getString(0) -> r).toMap
    val docs = spark.read.parquet(s"$d/documents.parquet")
      .select("doc_id", "source", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3)))
    assert(card.keySet == docs.map(_._2).toSet, "one row per source")
    val keepOf = run("t99_gopher_rules").collect()
      .map(r => r.getLong(0) -> r.getBoolean(r.fieldIndex("keep"))).toMap
    val codeOf = run("t96_code_detect").collect()
      .map(r => r.getLong(0) -> r.getBoolean(r.fieldIndex("is_code"))).toMap
    docs.groupBy(_._2).foreach { case (src, g) =>
      val r = card(src)
      assert(r.getLong(r.fieldIndex("n_docs")) == g.length)
      assert(r.getLong(r.fieldIndex("n_langs")) ==
        g.map(_._3).distinct.length)
      val toks = g.map(x => x._4.trim.split("[ \t\n\f\r]+")
        .count(_.nonEmpty))
      assert(r.getLong(r.fieldIndex("n_tokens")) == toks.sum)
      def rate(hits: Int): Double =
        BigDecimal(hits.toDouble / g.length)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(r.fieldIndex("gopher_rate")) ==
        rate(g.count(x => keepOf(x._1))),
        s"$src: gopher_rate drifted from t99")
      assert(r.getDouble(r.fieldIndex("code_rate")) ==
        rate(g.count(x => codeOf(x._1))),
        s"$src: code_rate drifted from t96")
      assert(r.getLong(r.fieldIndex("dup_surplus")) ==
        g.length - g.map(_._4).distinct.length,
        s"$src: dup_surplus drifted from the exact-dup layer")
    }
  }

  test("m105 scene cuts: scenes tile the frame stream contiguously; " +
      "boundaries are exactly the >150 energy jumps (driver replay)") {
    val rows = run("m105_scene_cuts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    rows.groupBy(_._1).foreach { case (doc, g) =>
      val sorted = g.sortBy(_._2)
      assert(sorted.map(_._2).sameElements(0L until sorted.length),
        s"doc $doc: scene indices not consecutive from 0")
      var expectStart = 0L
      sorted.foreach { case (_, _, s0, e0, n) =>
        assert(s0 == expectStart, s"doc $doc: gap before frame $s0")
        assert(n == e0 - s0 + 1, s"doc $doc: scene count != frame span")
        expectStart = e0 + 1
      }
    }
    // independent replay: recompute frame energies driver-side and check
    // every scene boundary is a >150 jump and every within-scene step
    // is <= 150
    val texts = spark.read.parquet(s"$d/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def energies(t: String): Array[Long] =
      (0 to (t.length - 1) / 16).map { i =>
        t.substring(i * 16, math.min(i * 16 + 16, t.length))
          .map(_.toLong).sum
      }.toArray
    rows.groupBy(_._1).take(50).foreach { case (doc, g) =>
      val e = energies(texts(doc))
      val starts = g.map(_._3).filter(_ > 0).toSet
      (1 until e.length).foreach { i =>
        val jump = math.abs(e(i) - e(i - 1)) > 150
        assert(jump == starts.contains(i.toLong),
          s"doc $doc frame $i: cut=${starts.contains(i.toLong)} but " +
            s"|delta|=${math.abs(e(i) - e(i - 1))}")
      }
    }
  }

  test("s107 nprobe sweep: candidates strictly widen, recall " +
      "reconciles with s102 at the serving nprobe, rates bounded") {
    val rows = run("s107_nprobe_sweep").collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2),
        r.getLong(3))).toMap
    assert(rows.keySet == Set(1, 2, 4))
    // more probes = strictly more scanned cluster mass
    assert(rows(1)._3 < rows(2)._3 && rows(2)._3 < rows(4)._3,
      s"candidate mass not widening: $rows")
    rows.values.foreach { case (h, rec, _) =>
      assert(rec >= 0.0 && rec <= 1.0 && h >= 0)
    }
    // the sweep's nprobe=2 point IS the serving config: its hit total
    // must equal the sum of s102's per-query n_hits
    val s102 = run("s102_index_recall").collect()
      .map(r => r.getLong(1)).sum
    assert(rows(2)._1 == s102,
      s"nprobe=2 hits ${rows(2)._1} != s102 total $s102")
    // the widest sweep should not fall below the narrowest (soft ANN
    // monotonicity; exact on this fixture)
    assert(rows(4)._2 >= rows(1)._2,
      s"recall fell as probes widened: $rows")
  }

  test("t104 confusion matrix reconciles cell-by-cell with t100's " +
      "predictions; shares sum to one per language") {
    val cells = run("t104_confusion_matrix").collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val pred = run("t100_nb_classifier").collect()
      .map(r => (r.getString(1), r.getString(2)))
    val expect = pred.groupBy(identity).view.mapValues(_.length).toMap
    assert(cells.keySet == expect.keySet, "cell set != observed pairs")
    val totals = pred.groupBy(_._1).view.mapValues(_.length).toMap
    cells.foreach { case ((lang, p), (n, na, share)) =>
      assert(n == expect((lang, p)), s"($lang,$p): count drifted")
      assert(na == totals(lang), s"($lang,$p): total drifted")
      assert(share == BigDecimal(n.toDouble / na)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    totals.keys.foreach { lang =>
      val s = cells.collect { case ((l, _), (n, _, _)) if l == lang => n }
        .sum
      assert(s == totals(lang), s"$lang: cells don't cover all test docs")
    }
  }

  test("d102 snapshot diff: statuses land exactly on the synthesized " +
      "slices; hashes reconcile") {
    val rows = run("d102_snapshot_diff").collect()
      .map(r => (r.getLong(0), r.getString(1),
        Option(r.getString(2)), Option(r.getString(3))))
    val byId = rows.map(r => r._1 -> r).toMap
    val docs = spark.read.parquet(s"$d/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(rows.length == docs.length + docs.count(_._1 % 10 == 1),
      "one row per union of snapshot ids")
    docs.foreach { case (id, text) =>
      val (_, status, ph, ch) = byId(id)
      assert(ch.nonEmpty, s"doc $id lost its current hash")
      if (id % 10 == 7) assert(status == "added", s"doc $id: $status")
      else if (id % 10 == 3) {
        // last-token edit changes the hash unless the doc had no tokens
        val toks = text.trim.split("[ \t\n\f\r]+").filter(_.nonEmpty)
        val expect =
          if (toks.isEmpty && text.isEmpty) "unchanged"
          else if (toks.length <= 1 && text == toks.mkString(" "))
            if (toks.isEmpty) "unchanged" else "changed"
          else "changed"
        assert(status == "changed" || status == expect ||
          ph == ch && status == "unchanged",
          s"doc $id: $status (ph=$ph ch=$ch)")
      } else {
        assert(status == "unchanged" && ph == ch, s"doc $id: $status")
      }
    }
    // removed docs synthesize as NEGATED ids (collision-safe at any
    // corpus size — no positive doc_id can collide with -id)
    docs.filter(_._1 % 10 == 1).foreach { case (id, _) =>
      val (_, status, ph, ch) = byId(-id)
      assert(status == "removed" && ch.isEmpty && ph.nonEmpty,
        s"ghost ${-id}: $status")
    }
  }

  test("m106 keyframes: one per m105 scene, inside the scene's range, " +
      "and the argmin of |energy - scene mean| with earliest tie-break") {
    val scenes = run("m105_scene_cuts").collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    val keys = run("m106_scene_keyframes").collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    assert(keys.keySet == scenes.keySet, "one keyframe per scene")
    val texts = spark.read.parquet(s"$d/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def energy(t: String, i: Long): Long =
      t.substring(i.toInt * 16, math.min(i.toInt * 16 + 16, t.length))
        .map(_.toLong).sum
    keys.foreach { case ((doc, sc), (kf, e)) =>
      val (s0, e0, cn, _) = scenes((doc, sc))
      assert(kf >= s0 && kf <= e0, s"doc $doc scene $sc: keyframe outside")
      assert(e == energy(texts(doc), kf), s"doc $doc: keyframe energy")
      // argmin check: no earlier-or-closer frame beats it
      val se = (s0 to e0).map(energy(texts(doc), _)).sum
      val kd = math.abs(e * cn - se)
      (s0 to e0).foreach { f =>
        val fd = math.abs(energy(texts(doc), f) * cn - se)
        assert(fd > kd || (fd == kd && f >= kf),
          s"doc $doc scene $sc: frame $f (dist $fd) beats keyframe " +
            s"$kf (dist $kd)")
      }
    }
  }

  test("t103 fertility reconciles with t94's per-doc accounting; " +
      "ratios are exact and bounded") {
    val card = run("t103_token_fertility").collect()
      .map(r => r.getString(0) -> r).toMap
    val langOf = spark.read.parquet(s"$d/documents.parquet")
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val t94 = run("t94_bpe_apply").collect()
      .map(r => (langOf(r.getLong(0)), r.getLong(1), r.getLong(2)))
    assert(card.keySet == t94.map(_._1).toSet, "one row per language")
    t94.groupBy(_._1).foreach { case (lang, g) =>
      val r = card(lang)
      assert(r.getLong(r.fieldIndex("n_docs")) == g.length)
      assert(r.getLong(r.fieldIndex("n_chars")) == g.map(_._2).sum,
        s"$lang: n_chars drifted from t94")
      assert(r.getLong(r.fieldIndex("n_tokens")) == g.map(_._3).sum,
        s"$lang: n_tokens drifted from t94")
      val f = r.getDouble(r.fieldIndex("fertility"))
      val nw = r.getLong(r.fieldIndex("n_words"))
      assert(f == BigDecimal(g.map(_._3).sum.toDouble / nw)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        s"$lang: fertility != n_tokens / n_words")
      // merges only shrink words, and every word keeps >= 1 symbol
      assert(f >= 1.0 && f <= g.map(_._2).sum.toDouble / nw + 1e-9,
        s"$lang: fertility $f outside [1, mean word length]")
    }
  }

  test("t102 perplexity buckets: independent reimplementation of the " +
      "tercile rule agrees; buckets are value-monotone and total") {
    val rows = run("t102_perplexity_buckets").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getString(3)))
    // totality: one bucket per doc that t82 scores (docs with >= 1 token)
    assert(rows.length == run("t82_surprisal").count(),
      "bucketed docs != surprisal-scored docs")
    rows.groupBy(_._2).foreach { case (lang, g) =>
      val n = g.length
      // independent edge computation from the result's own values:
      // smallest value whose <=-count reaches a third / two thirds
      val values = g.map(_._3).sorted.distinct
      def edge(k: Int): Double =
        values.find(v => g.count(_._3 <= v) * 3 >= k * n).get
      val (e1, e2) = (edge(1), edge(2))
      g.foreach { case (id, _, sp, b) =>
        val expect = if (sp <= e1) "head"
          else if (sp <= e2) "middle" else "tail"
        assert(b == expect,
          s"doc $id ($lang, surprisal $sp): bucket $b != $expect")
      }
      // value-monotone: every head value <= every middle <= every tail
      def vs(b: String) = g.filter(_._4 == b).map(_._3)
      for (h <- vs("head"); m <- vs("middle")) assert(h <= m)
      for (m <- vs("middle"); t <- vs("tail")) assert(m < t || m == t)
      // near-balance on a tie-free fixture: each bucket within one of n/3
      if (values.length == n)
        Seq("head", "middle", "tail").foreach(b =>
          assert(math.abs(vs(b).length - n / 3) <= 2,
            s"$lang/$b count ${vs(b).length} far from ${n / 3}"))
    }
  }

  test("t106 overflow edge: the DECIMAL(38,0) keep test matches a BigInt " +
      "oracle at token counts where int64 arithmetic WRAPS") {
    import spark.implicits._
    // per-source totals near the int64 ceiling: hash_ppm(<1e6) x tok
    // (~4.6e18) x sum_sq (~4.3e9) ~ 2e34, sixteen decimal digits past
    // 2^63 -- the old Long compare wraps into hash noise here
    val docs = (1L to 100L).map { i =>
      (i, if (i % 2 == 0) "web" else "book",
        46_000_000_000_000_000L + i * 1_000_000_000L)
    }.toDF("doc_id", "source", "ntok")
    val kept = operators.TextAnalysis.temperatureKeep(docs)
      .collect().map(_.getLong(0)).toSet
    // exact-arithmetic oracle from first principles (BigInt everywhere);
    // hash_ppm reads back through the engine's own hash expression --
    // the DECIMAL COMPARE is what is under test, not the hash
    val h = docs.select(col("doc_id"),
        (operators.Dedup.hash60(col("doc_id")) % 1000000L).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = docs.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val tokBySrc = rows.groupBy(_._2).map { case (s0, g) =>
      s0 -> g.map(_._3).sum }
    // same IEEE floor-sqrt the engine computes (exact parity op)
    val sqBySrc = tokBySrc.map { case (s0, t0) =>
      s0 -> math.floor(math.sqrt(t0.toDouble)).toLong }
    val sumSq = BigInt(sqBySrc.values.sum)
    val budget = BigInt(tokBySrc.values.sum / 2)
    val oracle = rows.filter { case (id, s0, _) =>
      BigInt(h(id)) * BigInt(tokBySrc(s0)) * sumSq <
        budget * BigInt(sqBySrc(s0)) * BigInt(1000000L)
    }.map(_._1).toSet
    assert(kept == oracle,
      s"decimal keep set diverged from exact arithmetic: " +
        s"spark-only ${kept -- oracle}, oracle-only ${oracle -- kept}")
    // and the fixture really BINDS: naive wrapping-Long arithmetic gets
    // at least one verdict wrong on this data
    val wrapped = rows.filter { case (id, s0, _) =>
      h(id) * tokBySrc(s0) * sumSq.toLong <
        budget.toLong * sqBySrc(s0) * 1000000L
    }.map(_._1).toSet
    assert(wrapped != oracle,
      "fixture never overflows int64 -- the edge is not being tested")
  }
}
