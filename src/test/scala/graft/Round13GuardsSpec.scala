package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-13 pins: the scale-safe vector-index build. The exact assignment
  * kernel's threshold switch (one-row-broadcast argmax ⇄ shuffled-agg
  * argmax) must be bit-invisible; the opt-in two-level COARSE build must
  * cover the corpus, route into real clusters, and be judged by the
  * recall machinery; index maintenance (REFRESH) must route deltas
  * through the stored tables with no driver-collected model, to exactly
  * the rows BUILD writes. Each test is a "done" criterion of a round-12
  * verdict ask (#1, #2). */
class Round13GuardsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val d = TestSpark.sfDir

  private def freshWh(tag: String): String =
    Files.createTempDirectory(s"graft_${tag}_wh").toString

  private def assignMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.select(col("vec_id").cast("long"), col("cluster").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("exact assignment threshold switch: forcing the shuffled-agg form " +
      "(broadcastCap = 1) yields BIT-IDENTICAL assignments to the " +
      "broadcast-argmax default — the past-the-cap plan shape changes, " +
      "the answer cannot") {
    val byBroadcast = assignMap(
      operators.Similarity.indexArtifacts(spark, d).toMap.apply("assign"))
    val byShuffle = assignMap(
      operators.Similarity.indexArtifacts(spark, d, "exact", broadcastCap = 1L)
        .toMap.apply("assign"))
    val n = spark.read.parquet(s"$d/embeddings.parquet").count()
    assert(byBroadcast.size.toLong == n && byShuffle.size.toLong == n,
      s"coverage: broadcast ${byBroadcast.size}, shuffled ${byShuffle.size}, corpus $n")
    assert(byBroadcast == byShuffle,
      s"forms diverge on ${byBroadcast.count { case (k, v) => byShuffle(k) != v }} vector(s)")
    // and both match the oracle-checked s93 assignment (the DuckDB side
    // re-derives it as a ROW_NUMBER window — the specified semantics)
    val viaS93 = SparkEntry.queries("s93_ivf_assign")(spark, d)
      .select(col("vec_id").cast("long"), col("assigned_label").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byBroadcast == viaS93, "kernel assignment != s93's oracle-checked assignment")
  }

  test("COARSE two-level assignment: full corpus coverage, every cluster " +
      "is a real centroid label, and agreement with the exact assignment " +
      "is high on the fixture (boundary vectors may differ — that is the " +
      "audited trade, not a bug)") {
    val exact = assignMap(
      operators.Similarity.indexArtifacts(spark, d).toMap.apply("assign"))
    val coarse = assignMap(
      operators.Similarity.indexArtifacts(spark, d, "coarse").toMap.apply("assign"))
    val n = spark.read.parquet(s"$d/embeddings.parquet").count()
    assert(coarse.size.toLong == n,
      s"coarse coverage ${coarse.size} != corpus $n (two-level routing dropped vectors)")
    val labels = spark.read.parquet(s"$d/embeddings.parquet")
      .select(col("label").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(coarse.values.forall(labels.contains),
      "coarse assignment produced a cluster id that is not a centroid label")
    val agree = exact.count { case (k, v) => coarse(k) == v }
    val frac = agree.toDouble / exact.size
    info(f"coarse-vs-exact assignment agreement: $agree/${exact.size} = $frac%.4f")
    assert(frac >= 0.5,
      f"coarse agreement $frac%.4f below floor - shard routing is broken, " +
        "not merely boundary-lossy")
  }

  test("BUILD VECTOR INDEX USING COARSE end-to-end: SHOW reports the mode, " +
      "the served search stack stays well-formed, the s102 recall audit " +
      "judges it, and REFRESH refuses to mix exact deltas into a coarse " +
      "assignment") {
    val wh = freshWh("coarse")
    val engine = new Engine(spark, d, wh)
    def s102Mean(): Double = {
      val recall = SparkEntry.queries("s102_index_recall")(spark, d).collect()
      assert(recall.length == 10, s"recall card rows: ${recall.length}")
      recall.foreach { r =>
        val rec = r.getAs[Double]("recall_at_3")
        assert(rec >= 0.0 && rec <= 1.0, s"recall out of range: $r")
      }
      recall.map(_.getAs[Double]("recall_at_3")).sum / recall.length
    }
    try {
      // exact-served baseline first: the fixture's PQ config is lossy by
      // itself (M=8/k=8 over near-random vectors), so the coarse verdict
      // must be RELATIVE to what the exact index serves, not an absolute
      engine.sql("BUILD VECTOR INDEX ON embeddings")
      val exactMean = s102Mean()
      assert(engine.sql("BUILD VECTOR INDEX ON embeddings USING COARSE")
        .head.getString(0).contains("coarse"))
      val show = engine.sql("SHOW VECTOR INDEXES").collect()
      assert(show.length == 1 &&
        show.head.getAs[String]("mode") == "coarse", show.mkString)
      // serve path reads the coarse artifacts without error and the
      // recall audit (s102 machinery — the judge of this trade) returns
      // a sane per-query card
      val coarseMean = s102Mean()
      info(f"s102 mean recall@3: exact-served $exactMean%.4f, " +
        f"coarse-served $coarseMean%.4f")
      assert(coarseMean >= exactMean - 0.2,
        f"coarse serving degraded recall beyond the boundary trade: " +
          f"coarse $coarseMean%.4f vs exact $exactMean%.4f")
      // maintenance refuses the mixed-policy append
      val err = intercept[IllegalArgumentException](
        engine.sql("REFRESH VECTOR INDEX ON embeddings"))
      assert(err.getMessage.contains("COARSE"), err.getMessage)
      // so does the VECTOR ingest gate, which appends the same exact-
      // routed rows into the same assignment — refused before it claims
      // a registry entry or a sink
      val watch = Files.createTempDirectory("graft_coarse_watch").toString
      val gate = intercept[IllegalArgumentException](
        engine.sql(s"START VECTOR INGEST FROM '$watch' AS coarse_gate"))
      assert(gate.getMessage.contains("COARSE"), gate.getMessage)
      assert(engine.sql("SHOW INGESTS").count() == 0,
        engine.sql("SHOW INGESTS").collect().mkString)
      val reg = java.nio.file.Paths.get(wh, "_ingest_registry")
      val regEntries =
        if (!Files.isDirectory(reg)) Nil
        else {
          val ls = Files.list(reg)
          try ls.toArray.toSeq.map(_.toString) finally ls.close()
        }
      assert(regEntries.isEmpty, regEntries.mkString(", "))
      Seq(operators.VectorIndex.tableName("codes"),
        operators.VectorIndex.tableName("assign"),
        "vector_ingest_rejects").foreach(t =>
        assert(engine.storage.sinkOwner(t).isEmpty, s"$t left claimed"))
      // unknown modes are refused loudly
      val bad = intercept[IllegalArgumentException](
        engine.sql("BUILD VECTOR INDEX ON embeddings USING APPROXIMATE"))
      assert(bad.getMessage.contains("EXACT|COARSE"), bad.getMessage)
      // an exact rebuild restores maintenance (0 new vectors — full
      // coverage right after build)
      engine.sql("BUILD VECTOR INDEX ON embeddings")
      assert(engine.sql("SHOW VECTOR INDEXES")
        .head.getAs[String]("mode") == "exact")
      assert(engine.sql("REFRESH VECTOR INDEX ON embeddings")
        .head.getString(0).contains("0"))
    } finally {
      try engine.sql("DROP VECTOR INDEX ON embeddings") catch {
        case _: Throwable => ()
      }
      engine.close()
    }
  }

  test("routeAndEncode == BUILD's assign/codes rows, row for row, in " +
      "both join forms (broadcast-argmax and past-the-cap shuffled-agg): " +
      "REFRESH and the VECTOR gate route and encode through the STORED " +
      "model frames with no driver-collected literal") {
    val arts = operators.Similarity.indexArtifacts(spark, d).toMap
    val vecs = spark.read.parquet(s"$d/embeddings.parquet")
      .select("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id").cast("long"), col("cluster").cast("long"),
        col("codes").cast("array<long>"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
        .sortBy(_._1).toSeq
    val built = rows(arts("assign").join(arts("codes"), "vec_id"))
    val joinedB = rows(operators.Similarity.routeAndEncode(
      vecs, arts("centroids"), arts("codebook")))
    val joinedS = rows(operators.Similarity.routeAndEncode(
      vecs, arts("centroids"), arts("codebook"), broadcastCap = 1L))
    assert(built.nonEmpty && built.size.toLong == vecs.count(),
      s"BUILD artifacts cover ${built.size} vectors")
    assert(joinedB == built,
      "broadcast form diverges from BUILD's assign/codes rows")
    assert(joinedS == built,
      "shuffled form diverges from BUILD's assign/codes rows")
  }

  /** Reconstruct the forked test JVM's --add-opens flags (build.sbt's
    * jdk17AddOpens) so a child JVM can boot its own SparkSession — the
    * LifecycleGuardsSpec harness. */
  private def childJvmOpens: Seq[String] = {
    import scala.jdk.CollectionConverters._
    val args = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toList
    val paired = args.zip(args.drop(1) :+ "").collect {
      case ("--add-opens", v) => Seq("--add-opens", v)
    }.flatten
    val fused = args.filter(_.startsWith("--add-opens="))
    paired ++ fused
  }

  test("CROSS-PROCESS non-interference soak: two Engine PROCESSES write " +
      "DISJOINT tables in one warehouse concurrently — DML + a live gate " +
      "on the parent side, a DML/txn/OPTIMIZE soak in the foreign " +
      "process; nothing refuses (fences never over-fire on disjoint " +
      "state), no registry cross-talk, VERIFY green on both sides") {
    import spark.implicits._
    val wh = freshWh("xdisjoint")
    val watch = Files.createTempDirectory("graft_xdisjoint_watch").toString
    val scratch = Files.createTempDirectory("graft_xdisjoint_scratch")
    def probeReport(): String = {
      val res = scratch.resolve("disjoint_results.tsv")
      val tsv = if (Files.exists(res)) Files.readString(res) else "<none>"
      val log = try Files.readString(scratch.resolve("out.disjoint"))
        .takeRight(1500) catch { case _: java.io.IOException => "<no log>" }
      s"results:\n$tsv\nchild log tail:\n$log"
    }
    val e1 = new Engine(spark, d, wh)
    try {
      e1.sql("BUILD DEDUP INDEX ON documents")
      Seq(9100001L -> ("a lighthouse keeper files the first disjoint " +
        "soak report before the tide turns tonight"))
        .toDF("doc_id", "text").write.mode("append").parquet(watch)
      e1.sql(s"START ADMIT INGEST FROM '$watch' AS gate")
      val gq = e1.ingestQuery("gate").getOrElse(fail("no gate handle"))
      gq.processAllAvailable()
      e1.sql("CREATE TABLE host_soak (id INT, v DOUBLE)")
      val javaBin = System.getProperty("java.home") + "/bin/java"
      val cp = System.getProperty("java.class.path")
      val cmd = Seq(javaBin) ++ childJvmOpens ++ Seq("-Xmx3g", "-cp", cp,
        "graft.FenceProbe", "disjoint", d, wh, watch, scratch.toString)
      val p = new ProcessBuilder(cmd: _*)
        .redirectErrorStream(true)
        .redirectOutput(scratch.resolve("out.disjoint").toFile)
        .start()
      try {
        // synchronize the concurrency window: wait for the child's
        // started marker, then run the parent's own DML while the
        // child's soak is in flight
        val deadline = System.currentTimeMillis() + 120000
        while (!Files.exists(scratch.resolve("disjoint_started")) &&
            p.isAlive && System.currentTimeMillis() < deadline)
          Thread.sleep(200)
        assert(Files.exists(scratch.resolve("disjoint_started")),
          s"child never reached its soak; ${probeReport()}")
        (1 to 15).foreach { r =>
          e1.sql(s"INSERT INTO host_soak VALUES ($r, $r.25)")
          if (r % 5 == 0)
            e1.sql(s"UPDATE host_soak SET v = v + 0.5 WHERE id <= $r")
          if (r == 8) {
            Seq(9100002L -> ("a night ferry crosses the channel while " +
              "both sessions write their own ledgers"))
              .toDF("doc_id", "text").write.mode("append").parquet(watch)
            gq.processAllAvailable()
          }
        }
        assert(p.waitFor(300, java.util.concurrent.TimeUnit.SECONDS),
          s"disjoint probe hung; ${probeReport()}")
        assert(p.exitValue == 0,
          s"foreign disjoint soak failed; ${probeReport()}")
      } finally { if (p.isAlive) p.destroyForcibly() }
      // the parent's side sailed through the concurrent foreign writes
      assert(gq.isActive, "the foreign soak killed the parent's gate")
      gq.processAllAvailable()
      e1.sql("VERIFY host_soak")
      assert(e1.storage.table("host_soak").count() == 15L)
      val verdicts = e1.storage.table("ingest_verdicts")
        .groupBy("doc_id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      Seq(9100001L, 9100002L).foreach(id =>
        assert(verdicts.get(id).contains(1L),
          s"doc $id verdicted ${verdicts.getOrElse(id, 0L)} times"))
      // the foreign table is VISIBLE and intact from this session —
      // shared warehouse, disjoint ownership: visibility is by design,
      // interference is the bug
      assert(e1.storage.table("probe_soak").count() == 12L)
      e1.sql("VERIFY probe_soak")
      e1.sql("STOP INGEST gate")
    } finally {
      try e1.sql("DROP DEDUP INDEX ON documents") catch {
        case _: Throwable => ()
      }
      e1.close()
    }
  }
}
