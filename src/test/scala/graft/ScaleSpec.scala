package graft

import org.scalatest.funsuite.AnyFunSuite

/** Scaling-law invariants for the `ScaleGen` measurement corpus.
  *
  * `Bench time --dirs=` measures wall-clock growth across 1×/10×/100× corpora
  * (SCALE.md records the curves); that measurement is only meaningful if
  * the scaled corpus preserves per-copy structure while keeping copies
  * DISJOINT for every candidate-generation key the operators join on. If a
  * perturbation leak ever let copies collide (shared shingles, correlated
  * embeddings, shared content hashes), pair volume would grow ~quadratically
  * and the measured "linearity" would be an artifact of the generator, not
  * the plans. This spec pins the invariant at factor 3: every
  * pair-producing operator must return EXACTLY 3× its 1× output — more
  * means cross-copy leakage, fewer means the perturbation broke within-copy
  * structure.
  */
class ScaleSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private lazy val (dir1, dir3): (String, String) = {
    val base = java.nio.file.Files.createTempDirectory("graft_scale").toString
    for ((f, dir) <- Seq(1 -> s"$base/x1", 3 -> s"$base/x3");
         t <- Seq("documents", "embeddings"))
      ScaleGen.scaled(spark, TestSpark.sfDir, t, f)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    (s"$base/x1", s"$base/x3")
  }

  private def rows(q: String, d: String): Long =
    SparkEntry.queries(q)(spark, d).count()

  test("factor-1 generation is verbatim") {
    for (t <- Seq("documents", "embeddings")) {
      val a = spark.read.parquet(s"${TestSpark.sfDir}/$t.parquet")
      val b = spark.read.parquet(s"$dir1/$t.parquet")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, t)
    }
  }

  test("pair-producing operators scale linearly on the scaled corpus") {
    // Candidate PAIRS are the quadratic hazard: each of these joins docs or
    // vectors against themselves on a bucketing key. Disjoint copies ⇒
    // pairs stay within copies ⇒ ~3×.
    //
    // Text candidates come from CONTENT hashes (MinHash lanes, SimHash
    // bits, winnow fingerprints), and the token perturbation changes which
    // near-misses happen to collide — so each copy's candidate count
    // wobbles around copy 0's. Linear must hold as a band: quadratic
    // growth would put 3× at ~9×.
    //
    // d86 (brute-force cosine pairs at 0.45) is deliberately ABSENT: in
    // dim=64 the null cosine between unrelated vectors has std 1/8, so
    // 0.45 is a 3.6σ cut that any n-vector corpus passes ~1.6e-4·n²/2
    // times by chance — the operator's OUTPUT is Θ(n²) regardless of how
    // the corpus grows. That is why d86's own doc marks it the small-scale
    // exact baseline and routes scale to s94/d92, whose linearity IS
    // asserted here (band / cluster-size bound below).
    // d103 joins train×eval inside clusters: disjoint per-copy clusters
    // keep candidates within copies, so flags scale linearly — but only
    // as a band, because ID_STRIDE % 23 != 0 shifts each copy's eval
    // slice to a different (equally-sized) subset, re-rolling which
    // train vectors happen to sit near an eval vector.
    for (q <- Seq("d83_dedup_minhash", "d85_simhash_pairs",
                  "d95_winnow_near_dup", "d103_semantic_decontam")) {
      val n1 = rows(q, dir1)
      val n3 = rows(q, dir3)
      assert(n3 <= 4.5 * n1 + 8 && n3 >= 1.5 * n1 - 8,
        s"$q: 1x=$n1 pairs, 3x=$n3 — outside the linear band")
    }
  }

  test("dedup keep-verdicts and semantic drops scale exactly linearly") {
    // Row-level verdict operators: output cardinality IS corpus cardinality
    // (d81/d92) or the duplicate surplus (d80); both must triple, and the
    // per-copy verdicts must be the 1× verdicts under the id offset.
    // t94 (per-doc BPE accounting) and t95 (per-doc DSIR verdicts) are
    // row-level too: one output row per corpus doc, so 3x exactly —
    // their model artifacts (merge table, weight table) stay
    // vocabulary-bounded no matter the corpus factor.
    for (q <- Seq("d80_dedup_exact", "d81_dedup_exact_keep",
                  "d92_semantic_dedup", "t94_bpe_apply",
                  "t95_dsir_select")) {
      val n1 = rows(q, dir1)
      val n3 = rows(q, dir3)
      assert(n3 == 3 * n1, s"$q: expected ${3 * n1} rows at 3x, got $n3")
    }
    // d92's scale guarantee is NOT assignment stability — the synthetic
    // labels carry almost no cluster structure (own-centroid cosine ≈ best
    // foreign + noise), so with a 3× codebook the global nearest-centroid
    // argmax legitimately re-decides most vectors. The guarantee that keeps
    // the within-cluster pair join linear is SemDeDup's codebook-scaling
    // prescription, which `ScaleGen` encodes by offsetting labels per copy:
    // the cluster COUNT must grow with the corpus while the max cluster
    // SIZE stays bounded (pair volume ≤ Σ size² stays ∝ n). Assert exactly
    // that on the executed assignment.
    import org.apache.spark.sql.functions.{count => cnt, col => c}
    def clusterSizes(d: String): (Long, Long) = {
      val s = SparkEntry.queries("d92_semantic_dedup")(spark, d)
        .groupBy("cluster").agg(cnt(c("vec_id")).as("n"))
        .agg(org.apache.spark.sql.functions.max("n"),
          cnt(c("cluster"))).head()
      (s.getLong(0), s.getLong(1))
    }
    val (max1, k1) = clusterSizes(dir1)
    val (max3, k3) = clusterSizes(dir3)
    assert(k3 >= 2 * k1,
      s"d92 codebook did not grow with the corpus: $k1 -> $k3 clusters")
    assert(max3 <= 3 * max1,
      s"d92 max cluster size grew $max1 -> $max3 — pair volume no longer linear")
  }
}
