package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStreams

// top-level so Spark can derive an Encoder without an outer-scope capture
case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

/** Structured Streaming specs: every transform is exercised through a real
  * streaming query (MemoryStream source -> memory sink), and the windowed
  * aggregate is additionally checked for batch/stream parity — same
  * transform, same answer, which is the property the module promises. */
class StreamingSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private val events = Seq(
    Ev(1, ts("2026-01-01 10:05:00"), 1, "view", 1.0),
    Ev(2, ts("2026-01-01 10:15:00"), 1, "view", 2.0),
    Ev(3, ts("2026-01-01 10:50:00"), 2, "click", 3.0),
    Ev(4, ts("2026-01-01 11:05:00"), 1, "view", 4.0),
    Ev(5, ts("2026-01-01 11:40:00"), 2, "click", 5.0),
    // late-ish but within watermark
    Ev(6, ts("2026-01-01 10:58:00"), 1, "click", 6.0),
    // far ahead: advances the watermark past hour 10-11
    Ev(7, ts("2026-01-01 15:00:00"), 3, "view", 7.0))

  test("hourlyByType: stream (append after watermark) == batch on same data") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[Ev]
    val q = EventStreams.hourlyByType(src.toDF())
      .writeStream.format("memory").queryName("hourly")
      .outputMode("append").start()
    try {
      src.addData(events.take(6): _*)
      q.processAllAvailable()
      src.addData(events.last) // watermark jumps to 13:00 -> earlier windows close
      q.processAllAvailable()
      val streamed = spark.table("hourly")
        .select("hour", "event_type", "n", "sum_value")
        .collect().map(_.toSeq).toSet
      val batch = EventStreams.hourlyByType(events.toDF())
        .select("hour", "event_type", "n", "sum_value")
        .filter(col("hour") < ts("2026-01-01 13:00:00")) // closed windows only
        .collect().map(_.toSeq).toSet
      assert(batch.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("runningMixture: update-mode stream converges to the batch data-card") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Seq( // (doc_id, text, source, lang)
      (1L, "a b c", "s0", "en"), (2L, "d e", "s0", "en"),
      (3L, "f", "s1", "de"), (4L, "g h i j", "s0", "de"),
      (5L, "k l", "s1", "de"), (6L, "", "s1", "en"))
    val src = MemoryStream[(Long, String, String, String)]
    val q = streaming.DocStreams.runningMixture(
        src.toDF().toDF("doc_id", "text", "source", "lang"))
      .writeStream.format("memory").queryName("mixture")
      .outputMode("complete").start()
    try {
      src.addData(docs.take(3): _*)
      q.processAllAvailable()
      src.addData(docs.drop(3): _*)
      q.processAllAvailable()
      val streamed = spark.table("mixture").collect().map(_.toSeq).toSet
      // batch twin computed directly over the same rows
      val batchSet = streaming.DocStreams.runningMixture(
          docs.toDF("doc_id", "text", "source", "lang"))
        .collect().map(_.toSeq).toSet
      assert(batchSet.nonEmpty && streamed == batchSet,
        s"stream state must equal the batch data-card:\n$streamed\nvs\n$batchSet")
      // state cardinality = |source x lang| present, not row count
      assert(streamed.size == 4)
    } finally q.stop()
  }

  test("runningScorecard: complete-mode stream equals the batch card's " +
      "distributive columns, and both reconcile with t101") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Seq( // (doc_id, text, source, lang)
      // passes every Gopher gate (>=10 tokens, sane word length, alpha,
      // stopword evidence)
      (1L, "the quick brown fox jumps over the lazy dog in a sunny park",
        "s0", "en"),
      // code-routed: both nonempty lines are >=25% structural chars
      (2L, "x={a:(1)};\ny=[f(2)==g];", "s0", "en"),
      // short prose: fails the token-count gate, not code
      (3L, "hello world", "s1", "en"),
      (4L, "", "s1", "de"), // empty: NULL ratios, dropped, not code
      (5L, "the cat and the hat sat on a mat with a rat and a bat too",
        "s1", "en"))
    val src = MemoryStream[(Long, String, String, String)]
    val q = streaming.DocStreams.runningScorecard(
        src.toDF().toDF("doc_id", "text", "source", "lang"))
      .writeStream.format("memory").queryName("scorecard")
      .outputMode("complete").start()
    try {
      src.addData(docs.take(2): _*)
      q.processAllAvailable()
      src.addData(docs.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("scorecard").collect()
        .map(_.toSeq).toSet
      val batchSet = streaming.DocStreams.runningScorecard(
          docs.toDF("doc_id", "text", "source", "lang"))
        .collect().map(_.toSeq).toSet
      assert(batchSet.nonEmpty && streamed == batchSet,
        s"stream scorecard != batch:\n$streamed\nvs\n$batchSet")
      // the planted verdicts actually exercised both gates
      val s0 = spark.table("scorecard")
        .filter(col("source") === "s0").collect().head
      assert(s0.getLong(s0.fieldIndex("n_keep")) == 1L)
      assert(s0.getLong(s0.fieldIndex("n_code")) == 1L)
    } finally q.stop()
    // and on the real corpus the twin's counts reproduce the oracle-gated
    // t101 card (rates are counts/n_docs on the same 6-dp grid)
    val card = SparkEntry.queries("t101_source_scorecard")(spark, TestSpark.sfDir)
      .collect().map(r => r.getString(0) -> r).toMap
    streaming.DocStreams.runningScorecard(
        spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet"))
      .collect().foreach { r =>
        val c = card(r.getString(0))
        assert(r.getLong(1) == c.getLong(c.fieldIndex("n_docs")))
        assert(r.getLong(2) == c.getLong(c.fieldIndex("n_tokens")))
        def rate(n: Long): Double =
          BigDecimal(n.toDouble / r.getLong(1))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(rate(r.getLong(3)) ==
          c.getDouble(c.fieldIndex("gopher_rate")))
        assert(rate(r.getLong(4)) ==
          c.getDouble(c.fieldIndex("code_rate")))
      }
  }

  test("nearDupCheck: stream-static ingest gate == batch d101 " +
      "bit-for-bit") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (hist, arrDocs) =
      operators.Dedup.incrementalParts(spark, TestSpark.sfDir)
    val histBands = hist.cache()
    val arrivals = arrDocs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val src = MemoryStream[(Long, String)]
    val q = streaming.DocStreams.nearDupCheck(
        src.toDF().toDF("doc_id", "text"), histBands)
      .writeStream.format("memory").queryName("ndgate")
      .outputMode("append").start()
    try {
      src.addData(arrivals.take(arrivals.length / 2): _*)
      q.processAllAvailable()
      src.addData(arrivals.drop(arrivals.length / 2): _*)
      q.processAllAvailable()
      val streamed = spark.table("ndgate").collect().map(_.toSeq).toSet
      val batch = SparkEntry.queries("d101_incremental_near_dup")(
        spark, TestSpark.sfDir).collect().map(_.toSeq).toSet
      assert(batch.nonEmpty && streamed == batch,
        "streaming gate diverges from batch d101")
    } finally { q.stop(); histBands.unpersist(); () }
  }

  test("admit: streaming ingest admission == batch p102 bit-for-bit, " +
      "quality columns threaded through the band probes across batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (hist, arrDocs) =
      operators.Dedup.incrementalParts(spark, TestSpark.sfDir)
    val histBands = hist.cache()
    val arrivals = arrDocs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val src = MemoryStream[(Long, String)]
    val q = streaming.DocStreams.admit(
        src.toDF().toDF("doc_id", "text"), histBands)
      .writeStream.format("memory").queryName("admitg")
      .outputMode("append").start()
    try {
      // split across micro-batches: the gate is stateless, so the split
      // must not change a single verdict
      src.addData(arrivals.take(arrivals.length / 2): _*)
      q.processAllAvailable()
      src.addData(arrivals.drop(arrivals.length / 2): _*)
      q.processAllAvailable()
      val streamed = spark.table("admitg").collect().map(_.toSeq).toSet
      val batch = SparkEntry.queries("p102_ingest_gate")(
        spark, TestSpark.sfDir).collect().map(_.toSeq).toSet
      assert(batch.nonEmpty && streamed == batch,
        "streaming admission diverges from batch p102")
      // the fixture actually exercises BOTH verdict axes: some arrival
      // fails quality, some is a near-dup, some is admitted — otherwise
      // the composed flag was never really tested
      val flags = spark.table("admitg").collect()
        .map(r => (r.getBoolean(1), r.getBoolean(2), r.getBoolean(4)))
      assert(flags.exists(_._3), "no arrival admitted")
      assert(flags.exists(f => !f._3 && f._1), "no near-dup rejection")
      assert(flags.exists(f => !f._3 && !f._2), "no quality rejection")
    } finally { q.stop(); histBands.unpersist(); () }
  }

  test("admitAndIndex: the self-maintaining gate — batch-2 arrivals are " +
      "caught by batch-1 admissions, the stored index equals a rebuild " +
      "over corpus+admitted, and replaying a batch is a no-op") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val d = TestSpark.sfDir
    val cmds = new commands.TableCommands(spark,
      java.nio.file.Files.createTempDirectory("graft_aai_wh").toString)
    operators.DedupIndex.build(spark, d, cmds)
    val doc3 = spark.read.parquet(s"$d/documents.parquet")
      .filter(col("doc_id") === 3).select("text").head.getString(0)
    // quality-passing synthetic content: >=10 tokens, alpha, >=2 stopword
    // hits; vocabulary disjoint from the corpus so band keys cannot
    // collide by accident
    val freshA = "the amber lighthouse keeper walks a winding cliff " +
      "path toward the harbor beacon every misty evening"
    val freshB = "a patient cartographer sketches the forgotten valley " +
      "rivers onto vellum beneath a flickering lantern glow"
    val batch1 = Seq(
      2000001L -> doc3,   // exact content already in the index
      2000010L -> freshA, // first writer -> admitted
      2000011L -> freshA, // same batch, same content -> dup_batch
      2000012L -> "x")    // fails the Gopher gates -> never indexed
    val batch2 = Seq(
      2000020L -> freshA, // batch-1 ADMISSION must now catch this
      2000021L -> freshB) // genuinely new -> admitted
    val src = MemoryStream[(Long, String)]
    val q = streaming.DocStreams.admitAndIndex(
      src.toDF().toDF("doc_id", "text"), cmds)
    try {
      src.addData(batch1: _*); q.processAllAvailable()
      src.addData(batch2: _*); q.processAllAvailable()
      val v = cmds.table("ingest_verdicts").collect()
        .map(r => r.getLong(0) -> r).toMap
      assert(v.size == 6, "one verdict row per arrival, exactly once")
      def vd(id: Long) = {
        val r = v(id)
        (r.getBoolean(r.fieldIndex("keep")),
          Option(r.get(r.fieldIndex("matched_hist"))).map(_.toString.toLong),
          Option(r.get(r.fieldIndex("matched_batch"))).map(_.toString.toLong),
          Option(r.get(r.fieldIndex("dup_kind"))).map(_.toString),
          r.getBoolean(r.fieldIndex("admitted")))
      }
      // the corpus copy: historical dup (min match <= 3: doc 3 at least)
      val a1 = vd(2000001L)
      assert(a1._1 && a1._2.exists(_ <= 3) && a1._4.contains("historical")
        && !a1._5)
      // first writer admitted; its same-batch twin is dup_batch
      assert(vd(2000010L) == ((true, None, None, None, true)))
      assert(vd(2000011L) ==
        ((true, None, Some(2000010L), Some("batch"), false)))
      // quality reject: no dup verdict, not admitted
      assert(vd(2000012L) == ((false, None, None, None, false)))
      // THE maintenance property: batch 2's copy of batch 1's admission
      // is dup_HISTORICAL against the grown index
      assert(vd(2000020L) ==
        ((true, Some(2000010L), None, Some("historical"), false)))
      assert(vd(2000021L) == ((true, None, None, None, true)))
      // stored index == rebuild over corpus + admitted (set semantics)
      val stored = spark.table(
        operators.DedupIndex.tableName("bands"))
        .collect().map(_.toSeq).toSet
      val admittedDocs = Seq(2000010L -> freshA, 2000021L -> freshB)
        .toDF("doc_id", "text")
      val expected = (operators.Dedup.allBands(spark, d).collect() ++
        operators.Dedup.bandsForCorpus(admittedDocs).collect())
        .map(_.toSeq).toSet
      assert(stored == expected,
        "stream-maintained index diverged from a batch rebuild")
      // replay the LAST micro-batch (its id was 1): the marker skips the
      // verdicts and every previously admitted doc now self-matches, so
      // the whole call is a no-op — table snapshots are bit-identical
      streaming.DocStreams.admitAndIndexBatch(
        batch2.toDF("doc_id", "text"), cmds, "ingest_verdicts", 1L)
      assert(cmds.table("ingest_verdicts").collect().map(_.toSeq).toSet
        == v.values.map(_.toSeq).toSet, "replay duplicated verdicts")
      assert(spark.table(operators.DedupIndex.tableName("bands")).count()
        == stored.size, "replay appended band rows")
    } finally {
      q.stop()
      operators.DedupIndex.drop(spark, cmds)
      ()
    }
  }

  test("admitAndIndex compactEvery: the gate compacts its own tables " +
      "between batches — contents, verdicts and replay markers are " +
      "bit-identical to an uncompacted gate") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val d = TestSpark.sfDir
    val freshA = "the amber lighthouse keeper walks a winding cliff " +
      "path toward the harbor beacon every misty evening"
    val freshB = "a patient cartographer sketches the forgotten valley " +
      "rivers onto vellum beneath a flickering lantern glow"
    val batches = Seq(
      Seq(6000010L -> freshA),
      Seq(6000021L -> freshB),
      Seq(6000030L -> freshA)) // dup of batch-1's admission
    def runGate(compactEvery: Int): (Set[Seq[Any]], Set[Seq[Any]],
        commands.TableCommands) = {
      val cmds = new commands.TableCommands(spark, java.nio.file.Files
        .createTempDirectory(s"graft_cmp${compactEvery}_wh").toString)
      operators.DedupIndex.build(spark, d, cmds)
      val src = MemoryStream[(Long, String)]
      val q = streaming.DocStreams.admitAndIndex(
        src.toDF().toDF("doc_id", "text"), cmds,
        compactEvery = compactEvery)
      try {
        batches.foreach { b => src.addData(b: _*); q.processAllAvailable() }
      } finally q.stop()
      (cmds.table("ingest_verdicts").collect().map(_.toSeq).toSet,
        spark.table(operators.DedupIndex.tableName("bands"))
          .collect().map(_.toSeq).toSet, cmds)
    }
    val (v1, b1, cmds1) = runGate(compactEvery = 1) // compact EVERY batch
    try {
      // the compacting gate's verdicts are right on their own terms
      val byId = cmds1.table("ingest_verdicts").collect()
        .map(r => r.getLong(0) -> r).toMap
      assert(byId(6000030L).getBoolean(byId(6000030L)
        .fieldIndex("is_near_dup")),
        "post-compaction probe missed batch-1's admission")
      // markers survive every compaction (publish carries them), so a
      // replayed last batch is still a no-op on BOTH tables
      streaming.DocStreams.admitAndIndexBatch(
        batches.last.toDF("doc_id", "text"), cmds1, "ingest_verdicts", 2L)
      assert(cmds1.table("ingest_verdicts").count() == v1.size.toLong,
        "replay after compaction duplicated verdicts")
      assert(spark.table(operators.DedupIndex.tableName("bands")).count()
        == b1.size.toLong, "replay after compaction appended bands")
      val (v0, b0, _) = runGate(compactEvery = 0) // uncompacted twin
      assert(v1 == v0, "compaction changed the verdict log contents")
      assert(b1 == b0, "compaction changed the band index contents")
    } finally {
      operators.DedupIndex.drop(spark, cmds1); ()
    }
  }

  test("in-gate compaction crash composition: a crash BETWEEN the " +
      "verdict-log and band compactions, and one MID-PUBLISH inside a " +
      "compaction, both heal on replay — contents bit-identical to an " +
      "uncompacted gate") {
    import spark.implicits._
    val d = TestSpark.sfDir
    val freshA = "the amber lighthouse keeper walks a winding cliff " +
      "path toward the harbor beacon every misty evening"
    val freshB = "a patient cartographer sketches the forgotten valley " +
      "rivers onto vellum beneath a flickering lantern glow"
    val batches = Seq(
      Seq(6100010L -> freshA),
      Seq(6100021L -> freshB),
      Seq(6100030L -> freshA)) // near-dup of batch-0's admission
    val vt = "ingest_verdicts"
    val bt = operators.DedupIndex.tableName("bands")
    // the gate's per-trigger sequence (foreachBatch body with
    // compactEvery = 1), exposed batch-level exactly like the replay
    // specs: commit, then compact verdicts, then compact bands
    def gateStep(cmds: commands.TableCommands, b: Seq[(Long, String)],
        id: Long): Unit = {
      streaming.DocStreams.admitAndIndexBatch(
        b.toDF("doc_id", "text"), cmds, vt, id)
      if (cmds.tableExists(vt)) cmds.compactTail(vt)
      if (cmds.tableExists(bt)) { cmds.compactTail(bt); () }
    }
    val cmds = new commands.TableCommands(spark, java.nio.file.Files
      .createTempDirectory("graft_cmpcrash_wh").toString)
    operators.DedupIndex.build(spark, d, cmds)
    try {
      // ── batch 0: crash BETWEEN the two compactions (verdict log
      // compacted, band compaction never ran) ─────────────────────────
      streaming.DocStreams.admitAndIndexBatch(
        batches(0).toDF("doc_id", "text"), cmds, vt, 0L)
      cmds.compactTail(vt)
      // [crash here] — restart replays micro-batch 0 in full:
      gateStep(cmds, batches(0), 0L) // commit is a no-op, compactions run
      assert(cmds.table(vt).count() == 1L,
        "replay through a half-compacted trigger duplicated verdicts")
      // ── batch 1: crash MID-PUBLISH inside the verdict-log compaction
      // (stage written, pointer never swapped) ─────────────────────────
      streaming.DocStreams.admitAndIndexBatch(
        batches(1).toDF("doc_id", "text"), cmds, vt, 1L)
      cmds.crashPoint = Some("staged")
      intercept[IllegalStateException] { cmds.compactTail(vt) }
      gateStep(cmds, batches(1), 1L) // restart: replay + both compactions
      assert(cmds.table(vt).count() == 2L)
      // ── batch 2: crash mid-publish inside the BAND compaction, with
      // the pointer already swapped (published position) ───────────────
      streaming.DocStreams.admitAndIndexBatch(
        batches(2).toDF("doc_id", "text"), cmds, vt, 2L)
      cmds.compactTail(vt)
      cmds.crashPoint = Some("published")
      try { cmds.compactTail(bt); () }
      catch { case _: IllegalStateException => () } // may be a no-op tail
      cmds.crashPoint = None
      gateStep(cmds, batches(2), 2L)
      // ── the surviving state equals an uncompacted, uncrashed gate ───
      val twin = new commands.TableCommands(spark, java.nio.file.Files
        .createTempDirectory("graft_cmpcrash_twin_wh").toString)
      operators.DedupIndex.build(spark, d, twin)
      try {
        batches.zipWithIndex.foreach { case (b, i) =>
          streaming.DocStreams.admitAndIndexBatch(
            b.toDF("doc_id", "text"), twin, vt, i.toLong)
        }
        assert(cmds.table(vt).collect().map(_.toSeq).toSet
          == twin.table(vt).collect().map(_.toSeq).toSet,
          "crash-composed gate diverged on the verdict log")
        assert(cmds.table(bt).collect().map(_.toSeq).toSet
          == twin.table(bt).collect().map(_.toSeq).toSet,
          "crash-composed gate diverged on the band index")
        assert(cmds.lastCommittedBatch(vt) == twin.lastCommittedBatch(vt),
          "crash-composed gate diverged on the replay cursor")
      } finally { operators.DedupIndex.drop(spark, twin); () }
    } finally {
      try operators.DedupIndex.drop(spark, cmds)
      catch { case _: Throwable => () }
      ()
    }
  }

  test("admitAndIndex verdict log is O(batch): committing a tiny batch " +
      "against a LARGE pre-seeded verdict log hard-links the old log " +
      "files — per-batch cost independent of stream lifetime") {
    import spark.implicits._
    import java.nio.file.{Files => F, Paths}
    val d = TestSpark.sfDir
    val wh = java.nio.file.Files.createTempDirectory("graft_vlog_wh")
    val cmds = new commands.TableCommands(spark, wh.toString)
    operators.DedupIndex.build(spark, d, cmds)
    try {
      // batch 0 GROWS the log: 3000 arrivals, quality-passing, mutually
      // near-dup (only the first admits — irrelevant here; what matters
      // is 3000 verdict ROWS on disk before the next batch)
      val big = (1 to 3000).map(i => (4000000L + i,
        s"the amber lighthouse keeper number $i walks a winding cliff " +
          "path toward the harbor beacon every misty evening"))
        .toDF("doc_id", "text").repartition(8)
      streaming.DocStreams.admitAndIndexBatch(big, cmds,
        "ingest_verdicts", 0L)
      assert(cmds.table("ingest_verdicts").count() == 3000L)
      cmds.setRetain("ingest_verdicts", 2) // keep the pre-commit version
      val liveBefore = Paths.get(cmds.dataPath("ingest_verdicts"))
      val oldFiles = Option(liveBefore.toFile.listFiles()).get
        .filter(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith(".")).map(_.toPath)
      assert(oldFiles.nonEmpty) // AQE may coalesce the 3000 rows to 1 file
      // batch 1 is TINY: its verdict commit must LINK the 3000-row log
      // forward (same files, metadata-only), never rewrite it — the
      // O(table)-per-batch COW curve is exactly what a long-running gate
      // cannot afford (round-8 verdict ask #1)
      val tiny = Seq((4100001L,
        "a patient cartographer sketches the forgotten valley rivers " +
          "onto vellum beneath a flickering lantern glow"))
        .toDF("doc_id", "text")
      streaming.DocStreams.admitAndIndexBatch(tiny, cmds,
        "ingest_verdicts", 1L)
      val liveAfter = Paths.get(cmds.dataPath("ingest_verdicts"))
      assert(liveAfter != liveBefore, "verdict commit published no version")
      oldFiles.foreach { f =>
        val linked = liveAfter.resolve(f.getFileName)
        assert(F.exists(linked) && F.isSameFile(f, linked),
          s"verdict log file ${f.getFileName} was rewritten, not linked")
      }
      assert(cmds.table("ingest_verdicts").count() == 3001L)
      // and the replay contract survived the commit-path change: same
      // batch id is a no-op on both tables
      val bandCount = spark.table(
        operators.DedupIndex.tableName("bands")).count()
      streaming.DocStreams.admitAndIndexBatch(tiny, cmds,
        "ingest_verdicts", 1L)
      assert(cmds.table("ingest_verdicts").count() == 3001L,
        "replay duplicated verdicts")
      assert(spark.table(operators.DedupIndex.tableName("bands")).count()
        == bandCount, "replay appended band rows")
    } finally {
      operators.DedupIndex.drop(spark, cmds)
      ()
    }
  }

  test("VectorStreams.serve: streamed query answers are bit-identical " +
      "to batch searchVectors and land exactly-once in the warehouse") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val d = TestSpark.sfDir
    val cmds = new commands.TableCommands(spark,
      java.nio.file.Files.createTempDirectory("graft_vserve_wh").toString)
    // serve against the STORED index — the production posture (the
    // inline fallback would retrain per micro-batch)
    operators.VectorIndex.build(spark, d, cmds)
    try {
      // the planted fixture as a CALLER stream of raw doubles, split
      // across two micro-batches — per-query independence means the
      // batch answer over the union is the union of per-batch answers
      val callerQ = spark.read.parquet(s"$d/embeddings.parquet")
        .selectExpr("vec_id",
          "transform(embedding, (x, j) -> CAST(x AS DOUBLE) + " +
            "IF(j % 2 = 0, 0.001D, -0.001D)) AS emb")
        .filter(col("vec_id") < 10).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
      val src = MemoryStream[(Long, Seq[Double])]
      val q = streaming.VectorStreams.serve(
        src.toDF().toDF("q_id", "embedding"), d, cmds, "answers")
      try {
        src.addData(callerQ.filter(_._1 < 5): _*)
        q.processAllAvailable()
        src.addData(callerQ.filter(_._1 >= 5): _*)
        q.processAllAvailable()
        val streamed = cmds.table("answers").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
            r.getDouble(3))).toSet
        val batch = operators.Similarity.searchVectors(spark, d,
            callerQ.toSeq.toDF("q_id", "embedding")).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
            r.getDouble(3))).toSet
        assert(streamed.nonEmpty && streamed == batch,
          "streamed serve answers diverge from batch searchVectors")
        // the answer log is a real warehouse table (integrity scan runs)
        assert(cmds.verifyTable("answers") == streamed.size.toLong)
      } finally q.stop()
    } finally operators.VectorIndex.drop(spark, cmds)
  }

  test("VectorStreams.serveDiversified: streamed MMR answers are " +
      "bit-identical to batch searchVectorsDiversified across any " +
      "micro-batch split, landed exactly-once") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val d = TestSpark.sfDir
    val cmds = new commands.TableCommands(spark,
      java.nio.file.Files.createTempDirectory("graft_vdiv_wh").toString)
    operators.VectorIndex.build(spark, d, cmds)
    try {
      // s110's external midpoint queries as a CALLER stream, split
      // mid-set: per-query independence of both stages (serve kernel +
      // greedy) means the union of per-batch answers equals the batch
      // answer over the union
      val callerQ = spark.read.parquet(s"$d/embeddings.parquet")
        .selectExpr("vec_id AS q_id", "embedding AS e1")
        .join(spark.read.parquet(s"$d/embeddings.parquet")
          .selectExpr("vec_id - 1 AS q_id", "embedding AS e2"), "q_id")
        .filter(col("q_id").between(10, 19))
        .selectExpr("q_id",
          "zip_with(e1, e2, (x, y) -> (CAST(x AS DOUBLE) + " +
            "CAST(y AS DOUBLE)) / 2) AS embedding")
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      val src = MemoryStream[(Long, Seq[Double])]
      val q = streaming.VectorStreams.serveDiversified(
        src.toDF().toDF("q_id", "embedding"), d, cmds, "div_answers")
      try {
        src.addData(callerQ.filter(_._1 < 15): _*)
        q.processAllAvailable()
        src.addData(callerQ.filter(_._1 >= 15): _*)
        q.processAllAvailable()
        val streamed = cmds.table("div_answers").collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
            r.getLong(3))).toSet
        val batch = operators.Similarity.searchVectorsDiversified(spark,
            d, callerQ.toSeq.toDF("q_id", "embedding")).collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
            r.getLong(3))).toSet
        assert(streamed.nonEmpty && streamed == batch,
          "streamed diversified answers diverge from batch s110 kernel")
        // and the batch kernel equals the s110 inventory query on the
        // same construction — closing the triangle
        val s110 = SparkEntry.queries("s110_search_diversify")(spark, d)
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
            r.getLong(3))).toSet
        assert(batch == s110, "kernel diverged from the s110 inventory")
        assert(cmds.verifyTable("div_answers") == streamed.size.toLong)
      } finally q.stop()
    } finally operators.VectorIndex.drop(spark, cmds)
  }

  test("VectorStreams.routeAndEncode: streamed ingest rows are " +
      "bit-identical to the stored assign/codes tables") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cmds = new commands.TableCommands(spark,
      java.nio.file.Files.createTempDirectory("graft_vs_wh").toString)
    operators.VectorIndex.build(spark, TestSpark.sfDir, cmds)
    try {
      val ix = operators.VectorIndex.served(spark, TestSpark.sfDir)
        .getOrElse(fail("index build did not serve"))
      val model = streaming.VectorStreams.freeze(
        ix.centroids, ix.codebook)
      // replay the corpus as the arriving stream
      val raw = spark.read
        .parquet(s"${TestSpark.sfDir}/embeddings.parquet")
        .selectExpr("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
      val src = MemoryStream[(Long, Seq[Float])]
      val q = streaming.VectorStreams.routeAndEncode(
          src.toDF().toDF("vec_id", "embedding"), model)
        .writeStream.format("memory").queryName("vingest")
        .outputMode("append").start()
      try {
        src.addData(raw.take(raw.length / 2): _*)
        q.processAllAvailable()
        src.addData(raw.drop(raw.length / 2): _*)
        q.processAllAvailable()
        def norm(rows: Array[org.apache.spark.sql.Row])
            : Map[Long, (Long, List[Long])] =
          rows.map { r =>
            r.getLong(0) -> ((r.getAs[Number](1).longValue,
              r.getSeq[Any](2).map(_.asInstanceOf[Number].longValue)
                .toList))
          }.toMap
        val streamed = norm(spark.table("vingest").collect())
        val stored = norm(ix.assign.join(ix.codes, "vec_id").collect())
        assert(streamed.size == raw.length)
        assert(streamed == stored,
          "streamed ingest rows diverge from the BUILD artifacts")
        // stream–static joins only: the encode keeps no state store
        assert(q.lastProgress.stateOperators.isEmpty,
          s"routeAndEncode ran ${q.lastProgress.stateOperators.length} " +
            "state operator(s)")
      } finally q.stop()
    } finally operators.VectorIndex.drop(spark, cmds)
  }

  test("VectorStreams.ingest: streamed vectors append exactly-once to " +
      "the stored assign/codes tables (frozen-model parity with BUILD); " +
      "batch replay is a no-op") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cmds = new commands.TableCommands(spark,
      java.nio.file.Files.createTempDirectory("graft_vin_wh").toString)
    operators.VectorIndex.build(spark, TestSpark.sfDir, cmds)
    try {
      def snap(part: String): Map[Long, Seq[Any]] =
        cmds.table(operators.VectorIndex.tableName(part)).collect()
          .map(r => r.getLong(0) -> r.toSeq).toMap
      val (assign0, codes0) = (snap("assign"), snap("codes"))
      // arrivals: the corpus re-keyed to fresh ids (the append-only
      // vec_id contract) — routing/encoding must be pure functions of
      // the embedding, so expected rows are computable independently
      val raw = spark.read
        .parquet(s"${TestSpark.sfDir}/embeddings.parquet")
        .selectExpr("vec_id + 1000000 AS vec_id", "embedding")
        .filter(col("vec_id") % 3 === 0).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
      val src = MemoryStream[(Long, Seq[Float])]
      val q = streaming.VectorStreams.ingest(
        src.toDF().toDF("vec_id", "embedding"), cmds)
      try {
        src.addData(raw.take(raw.length / 2): _*)
        q.processAllAvailable()
        src.addData(raw.drop(raw.length / 2): _*)
        q.processAllAvailable()
      } finally q.stop()
      val ix = operators.VectorIndex.served(spark, TestSpark.sfDir)
        .getOrElse(fail("index no longer serves after stream appends"))
      val model = streaming.VectorStreams.freeze(
        ix.centroids, ix.codebook)
      val enc = streaming.VectorStreams.routeAndEncode(
        raw.toSeq.toDF("vec_id", "embedding"), model).collect()
      val expA = enc.map(r => r.getLong(0) ->
        Seq[Any](r.getLong(0), r.getAs[Number](1).intValue)).toMap
      val expC = enc.map(r => r.getLong(0) ->
        Seq[Any](r.getLong(0), r.getSeq[Any](2).map(
          _.asInstanceOf[Number].intValue))).toMap
      def normed(m: Map[Long, Seq[Any]]): Map[Long, Seq[Any]] =
        m.map { case (k, s) => k -> s.map {
          case n: Number => n.intValue
          case xs: Seq[_] => xs.map(_.asInstanceOf[Number].intValue)
          case x => x
        } }
      assert(normed(snap("assign")) == normed(assign0) ++ normed(expA),
        "streamed assign rows diverge from frozen-model parity")
      assert(normed(snap("codes")) == normed(codes0) ++ normed(expC),
        "streamed codes rows diverge from frozen-model parity")
      // coverage parity audit (what REFRESH requires after a heal)
      val na = cmds.table(operators.VectorIndex.tableName("assign")).count()
      val nc = cmds.table(operators.VectorIndex.tableName("codes")).count()
      assert(na == nc && na == assign0.size + raw.length)
      // replay the LAST micro-batch (id 1): both markers skip — counts
      // and rows bit-identical
      streaming.VectorStreams.ingestBatch(
        raw.drop(raw.length / 2).toSeq.toDF("vec_id", "embedding"),
        cmds, model, 1L)
      assert(cmds.table(operators.VectorIndex.tableName("assign")).count()
        == na && cmds.table(
        operators.VectorIndex.tableName("codes")).count() == nc,
        "replayed ingest batch duplicated index rows")
    } finally operators.VectorIndex.drop(spark, cmds)
  }

  test("VectorStreams.decontamGate: streamed contamination verdicts are " +
      "bit-identical to batch d103 and land exactly-once in the warehouse") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val d = TestSpark.sfDir
    val cmds = new commands.TableCommands(spark,
      java.nio.file.Files.createTempDirectory("graft_vdg_wh").toString)
    // replay the TRAIN side of the corpus as the arriving stream — the
    // eval slice (vec_id % 23 == 0) is the gate's fixed reference, never
    // an arrival; splitting arrivals across two micro-batches exercises
    // per-batch independence (each vector's best-eval verdict depends
    // only on itself and the eval side, so gate(b1) ∪ gate(b2) must
    // equal batch d103 over b1 ∪ b2)
    val arrivals = spark.read.parquet(s"$d/embeddings.parquet")
      .filter(col("vec_id") % 23 =!= 0)
      .selectExpr("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val src = MemoryStream[(Long, Seq[Float])]
    val q = streaming.VectorStreams.decontamGate(
      src.toDF().toDF("vec_id", "embedding"), d, cmds, "contam")
    try {
      val (b1, b2) = arrivals.partition(_._1 % 2 == 0)
      src.addData(b1: _*)
      q.processAllAvailable()
      src.addData(b2: _*)
      q.processAllAvailable()
      def norm(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
        (r.getLong(0), r.getAs[Number](1).longValue, r.getLong(2),
          r.getDouble(3))
      }.toSet
      val streamed = norm(cmds.table("contam").collect())
      val batch = norm(SparkEntry
        .queries("d103_semantic_decontam")(spark, d).collect())
      assert(streamed.nonEmpty,
        "the synthetic corpus must show SOME leakage through the gate")
      assert(streamed == batch,
        "streamed contamination verdicts diverge from batch d103")
      // the audit log is a real warehouse table (integrity scan runs)
      assert(cmds.verifyTable("contam") == streamed.size.toLong)
    } finally q.stop()
  }

  test("sessionsByUser: 30-min gap splits sessions correctly (batch mode)") {
    import spark.implicits._
    val out = EventStreams.sessionsByUser(events.toDF())
      .orderBy("user_id", "session_start").collect()
    // user 1: 10:05+10:15 merge; 10:58+11:05 merge (7-min gap); => 2 sessions
    val u1 = out.filter(_.getLong(2) == 1L)
    assert(u1.length == 2)
    assert(u1(0).getLong(3) == 2 && u1(1).getLong(3) == 2)
    // user 2: 10:50 and 11:40 are 50 min apart => 2 singleton sessions
    assert(out.count(_.getLong(2) == 2L) == 2)
  }

  test("streamingDedup: first occurrence of each key wins across batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    case class Doc(key: String, ts: Timestamp, payload: String)
    val src = MemoryStream[(String, Timestamp, String)]
    val q = EventStreams.streamingDedup(
        src.toDF().toDF("key", "ts", "payload"), "key")
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try {
      src.addData(("a", ts("2026-01-01 10:00:00"), "first"))
      q.processAllAvailable()
      src.addData(
        ("a", ts("2026-01-01 10:00:00"), "dup-same-ts"),
        ("a", ts("2026-01-01 10:05:00"), "dup-later-ts"), // key dup, new ts
        ("b", ts("2026-01-01 10:01:00"), "first-b"))
      q.processAllAvailable()
      val rows = spark.table("dedup").collect()
      assert(rows.length == 2)
      assert(rows.map(_.getString(2)).toSet == Set("first", "first-b"))
    } finally q.stop()
  }

  test("contentDedup: streaming near-dup dedup by SimHash signature") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(Long, String)]
    val q = streaming.DocStreams.contentDedup(src.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("cdedup")
      .outputMode("append").start()
    try {
      src.addData((1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "an entirely different document about spark engines"))
      q.processAllAvailable()
      src.addData(
        // exact content dup (same signature) -> dropped, first writer kept
        (3L, "the quick brown fox jumps over the lazy dog"),
        // token-reordered twin: same DISTINCT token set -> same signature
        (4L, "lazy dog the quick brown fox jumps over the"),
        (5L, "a third genuinely novel text with unique words entirely"))
      q.processAllAvailable()
      val rows = spark.table("cdedup").collect()
      assert(rows.map(_.getLong(0)).toSet == Set(1L, 2L, 5L),
        s"kept ${rows.map(_.getLong(0)).mkString(",")}")
      // streamed signatures == batch twin signatures on the same corpus
      val batchSigs = streaming.DocStreams.contentDedup(
        Seq((1L, "the quick brown fox jumps over the lazy dog"),
          (2L, "an entirely different document about spark engines"),
          (3L, "the quick brown fox jumps over the lazy dog"),
          (4L, "lazy dog the quick brown fox jumps over the"),
          (5L, "a third genuinely novel text with unique words entirely"))
          .toDF("doc_id", "text"))
        .select("simhash").as[Long].collect().toSet
      assert(rows.map(_.getLong(1)).toSet == batchSigs)
    } finally q.stop()
  }

  test("decontaminate: streamed docs score against a static benchmark set; " +
      "stream == batch; JVM shingling == the codegen kernel") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = graft.Graft.table(spark, TestSpark.sfDir, "documents")
      .filter(col("doc_id") < 50).select("doc_id", "text").cache()
    // benchmark = every 10th doc's full distinct 5-gram set (so those docs
    // are fully contained; the rest share only chance grams)
    val benchGrams = docs.filter(col("doc_id") % 10 === 0)
      .select(explode(operators.Dedup.shingles(col("text"), 5)).as("g"))
      .distinct().as[String].collect().toSet
    val rows = docs.select("doc_id", "text").as[(Long, String)].collect()
    val src = MemoryStream[(Long, String)]
    val q = streaming.DocStreams.decontaminate(
        src.toDF().toDF("doc_id", "text"), benchGrams)
      .writeStream.format("memory").queryName("decon")
      .outputMode("append").start()
    try {
      src.addData(rows.take(25).toSeq); q.processAllAvailable()
      src.addData(rows.drop(25).toSeq); q.processAllAvailable()
      val out = spark.table("decon").collect()
        .map(r => (r.getLong(0), (r.getInt(1), r.getInt(2), r.getBoolean(3))))
        .toMap
      assert(out.size == 50)
      // planted benchmark docs are fully contained; others below threshold
      rows.foreach { case (id, _) =>
        val (n, hit, flag) = out(id)
        if (id % 10 == 0) assert(hit == n && flag, s"doc $id should flag")
        else assert(!flag, s"doc $id false-positive ($hit/$n)")
      }
      // JVM tokenization == the codegen shingle kernel, doc by doc
      val kernelCounts = docs
        .select(col("doc_id"), size(operators.Dedup.shingles(col("text"), 5)))
        .as[(Long, Int)].collect().toMap
      rows.foreach { case (id, _) =>
        assert(out(id)._1 == kernelCounts(id),
          s"doc $id: JVM grams ${out(id)._1} != kernel ${kernelCounts(id)}")
      }
      // stream == batch on the same data (identical code path)
      val batch = streaming.DocStreams.decontaminate(docs.toDF(), benchGrams)
        .collect().map(r =>
          (r.getLong(0), (r.getInt(1), r.getInt(2), r.getBoolean(3)))).toMap
      assert(batch == out)
    } finally { q.stop(); docs.unpersist(); () }
  }

  test("surprisalScore: streamed docs score bit-identical to batch t87 " +
      "under the frozen LM; OOV bigrams take the pessimistic floor") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // freeze the LM = the t85 artifact, keyed "w1 w2" -> logp_micro
    val lm = SparkEntry.queries("t85_bigram_lm")(spark, TestSpark.sfDir)
      .collect().map(r => s"${r.getString(0)} ${r.getString(1)}" -> r.getLong(4))
      .toMap
    val docs = graft.Graft.table(spark, TestSpark.sfDir, "documents")
      .select("doc_id", "text")
    val rows = docs.as[(Long, String)].collect()
    val src = MemoryStream[(Long, String)]
    val q = streaming.DocStreams.surprisalScore(
        src.toDF().toDF("doc_id", "text"), lm)
      .writeStream.format("memory").queryName("surp")
      .outputMode("append").start()
    try {
      src.addData(rows.take(20).toSeq); q.processAllAvailable()
      src.addData(rows.drop(20).toSeq); q.processAllAvailable()
      val out = spark.table("surp").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4)))).toMap
      assert(out.size == rows.length)
      // the LM is self-trained on this corpus: a live stream of the same
      // corpus has zero OOV and must reproduce batch t87 bit-for-bit
      assert(out.values.forall(_._4 == 0L), "no OOV against the training corpus")
      val batch = SparkEntry.queries("t87_bigram_surprisal")(spark, TestSpark.sfDir)
        .collect().map(r => (r.getLong(0),
          (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      batch.foreach { case (id, (n, s, avg)) =>
        val (sn, ss, savg, _) = out(id)
        assert((sn, ss, savg) == (n, s, avg), s"doc $id diverged from t87")
      }
      // t87 drops <2-token docs; the stream scores every doc (n=0 verdict)
      assert(out.keySet.diff(batch.keySet).forall(id => out(id)._1 == 0L))
    } finally { q.stop(); () }
    // OOV: unseen bigrams take the floor and are counted, so drifted
    // content scores as HIGH surprisal instead of slipping through
    val tiny = streaming.DocStreams.surprisalScore(
      Seq((1L, "a b zz")).toDF("doc_id", "text"), Map("a b" -> -100L))
      .collect().head
    assert(tiny.getLong(1) == 2 && tiny.getLong(4) == 1)
    assert(tiny.getLong(2) == -100L + -20000000L)
    assert(tiny.getLong(3) == math.round((100L + 20000000L).toDouble / 2))
  }

  test("dsirScore: streamed docs score bit-identical to batch t95 under " +
      "the frozen weight table; OOV words take the configured weight") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // freeze the weight table = the t95 model artifact
    val wt = operators.TextAnalysis.dsirWeights(spark, TestSpark.sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val docs = graft.Graft.table(spark, TestSpark.sfDir, "documents")
      .select("doc_id", "text")
    val rows = docs.as[(Long, String)].collect()
    val src = MemoryStream[(Long, String)]
    val q = streaming.DocStreams.dsirScore(
        src.toDF().toDF("doc_id", "text"), wt)
      .writeStream.format("memory").queryName("dsir")
      .outputMode("append").start()
    try {
      src.addData(rows.take(20).toSeq); q.processAllAvailable()
      src.addData(rows.drop(20).toSeq); q.processAllAvailable()
      val out = spark.table("dsir").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      assert(out.size == rows.length)
      // weights are self-trained on this corpus: zero OOV on a live
      // stream of the same corpus, and batch t95 reproduces bit-for-bit
      assert(out.values.forall(_._3 == 0L), "no OOV against the corpus")
      val batch = SparkEntry.queries("t95_dsir_select")(spark, TestSpark.sfDir)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
        .toMap
      batch.foreach { case (id, (n, s)) =>
        val (sn, ss, _) = out(id)
        assert((sn, ss) == (n, s), s"doc $id diverged from t95")
      }
      // t95 drops alpha-free docs at the weight join; the stream scores
      // every doc (n_words = 0)
      assert(out.keySet.diff(batch.keySet).forall(id => out(id)._1 == 0L))
    } finally { q.stop(); () }
    // OOV words take the configured weight and are counted
    val tiny = streaming.DocStreams.dsirScore(
      Seq((1L, "qq zz")).toDF("doc_id", "text"), Map("qq" -> 5L), -7L)
      .collect().head
    assert(tiny.getLong(1) == 2 && tiny.getLong(2) == -2L &&
      tiny.getLong(3) == 1)
  }

  test("bpeApply: streamed docs re-tokenize bit-identical to batch t94 " +
      "under the frozen merge table") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // freeze the merge table = the t93 model artifact, in rank order
    // (collectMerges enforces the dry-corpus contract loudly)
    val merges = operators.TextAnalysis.collectMerges(spark, TestSpark.sfDir)
    val docs = graft.Graft.table(spark, TestSpark.sfDir, "documents")
      .select("doc_id", "text")
    val rows = docs.as[(Long, String)].collect()
    val src = MemoryStream[(Long, String)]
    val q = streaming.DocStreams.bpeApply(
        src.toDF().toDF("doc_id", "text"), merges)
      .writeStream.format("memory").queryName("bpe")
      .outputMode("append").start()
    try {
      src.addData(rows.take(20).toSeq); q.processAllAvailable()
      src.addData(rows.drop(20).toSeq); q.processAllAvailable()
      val out = spark.table("bpe").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
      assert(out.size == rows.length)
      val batch = SparkEntry.queries("t94_bpe_apply")(spark, TestSpark.sfDir)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
      assert(batch.keySet == out.keySet)
      batch.foreach { case (id, v) =>
        assert(out(id) == v, s"doc $id diverged from t94: ${out(id)} != $v")
      }
    } finally { q.stop(); () }
    // fixture: "aaa bb" under merges (aa),(0a),(bb) -> 1 + 1 symbols
    val tiny = streaming.DocStreams.bpeApply(
      Seq((1L, "aaa bb"), (2L, "123 .")).toDF("doc_id", "text"),
      Seq("aa", "0a", "bb")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).sortBy(_._1)
    assert(tiny(0) == ((1L, 5L, 2L, Some(0.4))), s"got ${tiny(0)}")
    assert(tiny(1) == ((2L, 0L, 0L, None)), "alpha-free doc must be NULL")
  }

  test("sceneAssign: streamed frames get batch m105's scene indices " +
      "bit-for-bit, with assets split mid-stream across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the batch kernel's own frame stream, in per-asset decode order
    val frames = operators.Multimodal.frameEnergies(
        graft.Graft.table(spark, TestSpark.sfDir, "documents")
          .select("doc_id", "text"))
      .as[(Long, Long, Long)].collect()
      .sortBy(f => (f._1, f._2))
      .map(f => streaming.DocStreams.Frame(f._1, f._2, f._3))
    val src = MemoryStream[streaming.DocStreams.Frame]
    val q = streaming.DocStreams.sceneAssign(src.toDS())
      .writeStream.format("memory").queryName("scenes")
      .outputMode("append").start()
    try {
      // split MID-ASSET: every doc's frame run straddles the batch
      // boundary unless it is tiny — the cursor must carry across
      val (a, b) = frames.splitAt(frames.length / 2)
      src.addData(a.toSeq); q.processAllAvailable()
      src.addData(b.toSeq); q.processAllAvailable()
      val out = spark.table("scenes").collect()
        .map(r => ((r.getLong(0), r.getLong(1)),
          (r.getLong(2), r.getLong(3)))).toMap
      assert(out.size == frames.length, "one scene row per frame")
      val batch = operators.Multimodal
        .sceneFrames(spark, TestSpark.sfDir).collect()
        .map(r => ((r.getLong(0), r.getLong(1)),
          (r.getLong(2), r.getLong(3)))).toMap
      assert(batch.keySet == out.keySet)
      batch.foreach { case (k, v) =>
        assert(out(k) == v, s"frame $k diverged from m105: ${out(k)} != $v")
      }
      // the split really exercised the cursor: some doc straddles
      val cutDoc = a.last.doc_id
      assert(b.headOption.exists(_.doc_id == cutDoc) ||
        a.map(_.doc_id).toSet.intersect(b.map(_.doc_id).toSet).nonEmpty,
        "fixture degenerated: no asset straddles the batch boundary")
    } finally { q.stop(); () }
  }

  test("sceneKeyframes: streamed per-scene keyframes equal batch m106 " +
      "bit-for-bit; closed scenes emit mid-stream, final scenes flush on " +
      "the idle timeout") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val frames = operators.Multimodal.frameEnergies(
        graft.Graft.table(spark, TestSpark.sfDir, "documents")
          .select("doc_id", "text"))
      .as[(Long, Long, Long)].collect()
      .sortBy(f => (f._1, f._2))
      .map(f => streaming.DocStreams.Frame(f._1, f._2, f._3))
    val src = MemoryStream[streaming.DocStreams.Frame]
    val q = streaming.DocStreams.sceneKeyframes(src.toDS())
      .writeStream.format("memory").queryName("keyframes")
      .outputMode("append").start()
    try {
      val (a, b) = frames.splitAt(frames.length / 2)
      src.addData(a.toSeq); q.processAllAvailable()
      val early = spark.table("keyframes").count()
      src.addData(b.toSeq); q.processAllAvailable()
      // every asset's FINAL scene is still open (parity-mode timestamps
      // pin the watermark at 0) — a far-future sentinel asset advances
      // the watermark past every cursor's idle deadline and flushes them
      src.addData(streaming.DocStreams.Frame(-1L, 0L, 0L,
        new java.sql.Timestamp(System.currentTimeMillis()
          + 365L * 24 * 3600 * 1000)))
      q.processAllAvailable()
      assert(early > 0,
        "no scene closed mid-stream: early emission untested")
      val out = spark.table("keyframes")
        .filter(col("doc_id") >= 0).collect()
        .map(r => ((r.getLong(0), r.getLong(1)),
          (r.getLong(2), r.getLong(3)))).toMap
      val batch = SparkEntry.queries("m106_scene_keyframes")(
        spark, TestSpark.sfDir).collect()
        .map(r => ((r.getLong(0), r.getLong(1)),
          (r.getLong(2), r.getLong(3)))).toMap
      assert(batch.nonEmpty && out.keySet == batch.keySet,
        s"scene sets diverge: ${out.size} streamed vs ${batch.size} batch")
      batch.foreach { case (k, v) =>
        assert(out(k) == v, s"scene $k keyframe diverged: ${out(k)} != $v")
      }
    } finally { q.stop(); () }
  }

  test("perplexityBucket: streamed docs bucket bit-identical to batch " +
      "t102 under the frozen LM + edges; OOV reads as tail") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // freeze the two batch artifacts: the unigram micro-nat table and the
    // per-language tercile edges
    val lq = operators.TextAnalysis.unigramLq(spark, TestSpark.sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val edges = operators.TextAnalysis
      .perplexityParts(spark, TestSpark.sfDir)._2
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2)))).toMap
    val docs = graft.Graft.table(spark, TestSpark.sfDir, "documents")
      .select("doc_id", "lang", "text")
    val rows = docs.as[(Long, String, String)].collect()
    val src = MemoryStream[(Long, String, String)]
    val q = streaming.DocStreams.perplexityBucket(
        src.toDF().toDF("doc_id", "lang", "text"), lq, edges)
      .writeStream.format("memory").queryName("ppl")
      .outputMode("append").start()
    try {
      src.addData(rows.take(20).toSeq); q.processAllAvailable()
      src.addData(rows.drop(20).toSeq); q.processAllAvailable()
      val out = spark.table("ppl").collect()
        .map(r => (r.getLong(0), (r.getString(1),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)),
          if (r.isNullAt(4)) None else Some(r.getString(4)),
          r.getLong(5)))).toMap
      assert(out.size == rows.length)
      // the LM is self-trained on this corpus: zero OOV on a replay
      assert(out.values.forall(_._4 == 0L), "no OOV against the corpus")
      val batch = SparkEntry.queries("t102_perplexity_buckets")(
          spark, TestSpark.sfDir)
        .collect().map(r => (r.getLong(0),
          (r.getString(1), r.getDouble(2), r.getString(3)))).toMap
      assert(batch.keySet.subsetOf(out.keySet))
      batch.foreach { case (id, (lang, sp, b)) =>
        val (sl, ssp, sb, _) = out(id)
        assert((sl, ssp, sb) == ((lang, Some(sp), Some(b))),
          s"doc $id diverged from t102: ($sl, $ssp, $sb) != " +
            s"($lang, $sp, $b)")
      }
      // batch drops token-free docs; the stream surfaces them with NULLs
      assert(out.keySet.diff(batch.keySet)
        .forall(id => out(id)._2.isEmpty && out(id)._3.isEmpty))
    } finally { q.stop(); () }
    // OOV floor: unseen words read as maximal surprisal -> tail
    val tiny = streaming.DocStreams.perplexityBucket(
      Seq((1L, "xx", "zz qq")).toDF("doc_id", "lang", "text"),
      Map("aa" -> -100L), Map("xx" -> ((1.0, 2.0)))).collect().head
    assert(tiny.getLong(5) == 2, "both words OOV")
    assert(tiny.getString(4) == "tail", "OOV must quarantine to tail")
  }

  test("nbClassify: streamed docs classify bit-identical to batch t100 " +
      "under the frozen model; zero-token docs score on priors") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // freeze the model = the t100 training artifact in exact micros
    val (langStats, wordLik) =
      operators.TextAnalysis.nbModelMicros(spark, TestSpark.sfDir)
    val docs = graft.Graft.table(spark, TestSpark.sfDir, "documents")
      .select("doc_id", "text")
    val rows = docs.as[(Long, String)].collect()
    val src = MemoryStream[(Long, String)]
    val q = streaming.DocStreams.nbClassify(
        src.toDF().toDF("doc_id", "text"), langStats, wordLik)
      .writeStream.format("memory").queryName("nbc")
      .outputMode("append").start()
    try {
      src.addData(rows.take(100).toSeq); q.processAllAvailable()
      src.addData(rows.drop(100).toSeq); q.processAllAvailable()
      val out = spark.table("nbc").collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), r.getString(2), r.getLong(3))).toMap
      // serving scores EVERY arriving doc — training half included
      assert(out.size == rows.length)
      val batch = SparkEntry
        .queries("t100_nb_classifier")(spark, TestSpark.sfDir)
        .collect().map(r => r.getLong(0) ->
          (r.getString(2), r.getDouble(3))).toMap
      assert(batch.nonEmpty)
      batch.foreach { case (id, (pred, score)) =>
        val (_, sPred, sMicro) = out(id)
        assert(sPred == pred, s"doc $id predicted $sPred, batch $pred")
        assert(sMicro == math.round(score * 1e6),
          s"doc $id score $sMicro != batch ${score}")
      }
    } finally { q.stop(); () }
    // zero-token and OOV behavior: an empty doc takes argmax of priors
    // (ties break lang-ascending); an all-OOV doc adds the default per
    // token — both deterministic, neither throws
    val tiny = streaming.DocStreams.nbClassify(
      Seq((1L, "   "), (2L, "zzqq zzqq")).toDF("doc_id", "text"),
      Map("aa" -> (-100L, -900L), "bb" -> (-100L, -700L)),
      Map.empty).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    assert(tiny(0) == ((1L, 0L, "aa", -100L)),
      s"prior tie must break lang-ascending: ${tiny(0)}")
    assert(tiny(1) == ((2L, 2L, "bb", -100L - 2 * 700L)), s"got ${tiny(1)}")
  }

  test("nbClassifyJoin: the join-based twin (no driver-side model Map) " +
      "answers bit-identical to the Map twin over the whole corpus, " +
      "including zero-token docs and prior tie-breaks") {
    import spark.implicits._
    val (langStats, wordLik) =
      operators.TextAnalysis.nbModelMicros(spark, TestSpark.sfDir)
    val (langStatsDf, wordLikDf) =
      operators.TextAnalysis.nbModelMicroFrames(spark, TestSpark.sfDir)
    val docs = graft.Graft.table(spark, TestSpark.sfDir, "documents")
      .select("doc_id", "text")
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2), r.getLong(3)))).toMap
    val viaMap = asMap(
      streaming.DocStreams.nbClassify(docs, langStats, wordLik))
    val viaJoin = asMap(
      streaming.DocStreams.nbClassifyJoin(docs, langStatsDf, wordLikDf))
    assert(viaJoin.size == viaMap.size && viaMap.nonEmpty)
    viaMap.foreach { case (id, m) =>
      assert(viaJoin(id) == m, s"doc $id: join ${viaJoin(id)} != map $m")
    }
    // the degenerate shapes the Map twin pins: empty doc argmaxes priors
    // (tie breaks lang-ascending), all-OOV doc adds the default per token
    val tinyStats = Seq(("aa", -100L, -900L), ("bb", -100L, -700L))
      .toDF("clang", "pm", "dm")
    val tinyLik = Seq.empty[(String, String, Long)]
      .toDF("clang", "word", "lm")
    val tiny = streaming.DocStreams.nbClassifyJoin(
      Seq((1L, "   "), (2L, "zzqq zzqq")).toDF("doc_id", "text"),
      tinyStats, tinyLik).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    assert(tiny(0) == ((1L, 0L, "aa", -100L)), s"got ${tiny(0)}")
    assert(tiny(1) == ((2L, 2L, "bb", -100L - 2 * 700L)), s"got ${tiny(1)}")
    // duplicate ARRIVALS: the Map twin scores every input row, so the
    // join twin must too — a redelivered (id, text) pair yields two
    // identical rows (never one merged row), and two DIFFERENT texts
    // sharing an id score independently (never a merged token stream)
    val dupIn = Seq((7L, "zzqq"), (7L, "zzqq"), (8L, "zzqq"),
      (8L, "zzqq zzqq zzqq")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    val dupMap = rows(streaming.DocStreams.nbClassify(dupIn,
      Map("aa" -> (-100L, -900L), "bb" -> (-100L, -700L)), Map.empty))
    val dupJoin = rows(streaming.DocStreams.nbClassifyJoin(dupIn,
      tinyStats, tinyLik))
    assert(dupJoin.length == 4, s"duplicate rows collapsed: $dupJoin")
    assert(dupJoin == dupMap, s"join $dupJoin != map $dupMap")
  }

  test("nbClassifier auto-switch: a model exceeding the per-class cap " +
      "serves via the JOIN form — bit-identical to the uncapped batch " +
      "model, where the capped Map form would dampen evicted terms; an " +
      "under-cap model keeps the Map form, same answers either way") {
    val d = TestSpark.sfDir
    val (fullStats, fullLik) =
      operators.TextAnalysis.nbModelMicros(spark, d)
    // the same binding cap the vocabulary-cap spec uses: half the largest
    // class vocabulary guarantees the cap binds on this fixture
    val kBind = math.max(1,
      fullStats.keySet.map(c => fullLik.count(_._1._1 == c)).max / 2)
    val docs = graft.Graft.table(spark, d, "documents")
      .select("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2), r.getLong(3)))).toMap
    // ground truth: the UNCAPPED batch model through the Map twin
    val expect = rows(
      streaming.DocStreams.nbClassify(docs, fullStats, fullLik))
    val over = streaming.DocStreams.nbClassifier(spark, d, kBind)
    assert(over.joinForm,
      s"cap $kBind binds on this fixture - dispatcher must pick the join form")
    assert(rows(over.score(docs)) == expect,
      "join-form serving diverged from the uncapped batch model")
    val under = streaming.DocStreams.nbClassifier(spark, d)
    assert(!under.joinForm,
      "default cap must keep the frozen Map form on the fixture")
    assert(rows(under.score(docs)) == expect,
      "Map-form serving diverged from the uncapped batch model")
  }

  test("empty-model parity: BOTH NB twins refuse a dry training corpus — " +
      "the join twin's verdict join would otherwise silently emit zero " +
      "rows where the Map twin fails fast") {
    import spark.implicits._
    val docs = Seq((1L, "hello world")).toDF("doc_id", "text")
    val emptyStats = Seq.empty[(String, Long, Long)].toDF("clang", "pm", "dm")
    val emptyLik = Seq.empty[(String, String, Long)].toDF("clang", "word", "lm")
    val eJoin = intercept[IllegalArgumentException](
      streaming.DocStreams.nbClassifyJoin(docs, emptyStats, emptyLik))
    assert(eJoin.getMessage.contains("langStats is empty"), eJoin.getMessage)
    val eMap = intercept[IllegalArgumentException](
      streaming.DocStreams.nbClassify(docs, Map.empty, Map.empty))
    assert(eMap.getMessage.contains("langStats is empty"), eMap.getMessage)
  }

  test("nbModelMicros vocabulary cap: frozen map bounded by k x |classes|, " +
      "evicted terms score at the OOV floor, cap-surviving docs == batch") {
    import spark.implicits._
    val (fullStats, fullLik) =
      operators.TextAnalysis.nbModelMicros(spark, TestSpark.sfDir)
    val classes = fullStats.keySet
    // size the cap off the frozen model so it BINDS at any fixture SF:
    // half the largest class vocabulary guarantees eviction somewhere
    val k = math.max(1,
      classes.map(c => fullLik.count(_._1._1 == c)).max / 2)
    val (capStats, capLik) = operators.TextAnalysis
      .nbModelMicros(spark, TestSpark.sfDir, maxTermsPerClass = k)
    // the cap must BIND on this corpus or the test proves nothing
    assert(fullLik.size > capLik.size,
      s"fixture vocab (${fullLik.size}) never exceeds the cap - shrink k")
    // (a) the driver map is provably bounded by k x |classes|
    assert(capLik.size <= k * classes.size)
    classes.foreach { c =>
      assert(capLik.count(_._1._1 == c) <= k, s"class $c over cap") }
    // priors and unseen-word defaults are untouched by the cap, and the
    // survivors keep their full-model likelihoods bit-for-bit (the cap
    // EVICTS, it never re-estimates)
    assert(capStats == fullStats)
    capLik.foreach { case (key, lm) =>
      assert(fullLik(key) == lm, s"survivor $key re-estimated") }
    // (b) capped == full scoring for any doc whose (class, word) lookups
    // the cap left unchanged — i.e. every word either survived in a
    // class or was never in that class's vocabulary to begin with. Real
    // corpus docs all mix in evicted words at this fixture size, so the
    // survivor docs are SYNTHESIZED from the cap-stable vocabulary (the
    // invariant is about lookups, not about which doc carries them).
    val stableWords = fullLik.keysIterator.map(_._2).toSeq.distinct
      .filter(w => classes.forall(c =>
        capLik.contains((c, w)) == fullLik.contains((c, w))))
      .sorted
    assert(stableWords.nonEmpty,
      "fixture: every word had an eviction somewhere - raise k")
    val survivors = stableWords.grouped(5).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq
    val capOut = streaming.DocStreams.nbClassify(
        survivors.toDF("doc_id", "text"), capStats, capLik)
      .collect().map(r => r.getLong(0) ->
        (r.getString(2), r.getLong(3))).toMap
    val fullOut = streaming.DocStreams.nbClassify(
        survivors.toDF("doc_id", "text"), fullStats, fullLik)
      .collect().map(r => r.getLong(0) ->
        (r.getString(2), r.getLong(3))).toMap
    assert(capOut == fullOut,
      "capped model diverged on docs whose words survive the cap")
    // (c) an evicted term is indistinguishable from an UNSEEN term: both
    // take the class's dm floor, so a doc of one evicted-everywhere word
    // scores exactly like a doc of a vocabulary-free word
    val evictedEverywhere = fullLik.keysIterator.map(_._2)
      .filter(w => classes.forall(c => !capLik.contains((c, w))))
      .to(LazyList).headOption
    evictedEverywhere.foreach { w =>
      assert(classes.forall(c => !fullLik.contains((c, "zzqqxxyy"))),
        "sentinel unseen word collided with the corpus vocabulary")
      val pair = streaming.DocStreams.nbClassify(
          Seq((1L, w), (2L, "zzqqxxyy")).toDF("doc_id", "text"),
          capStats, capLik)
        .collect().map(r => (r.getString(2), r.getLong(3))).distinct
      assert(pair.length == 1,
        s"evicted word '$w' must score exactly like an unseen word: $pair")
    }
    assert(evictedEverywhere.nonEmpty,
      "fixture: no word evicted from every class - shrink k")
  }

  test("imagePhashDedup: streamed image ingest dedups to the same phash " +
      "groups as batch m101; corruption degrades to exclusion") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the SAME payloads batch m101 hashes, replayed as an ingest stream
    val blobs = operators.Multimodal.m101Blobs(spark, TestSpark.sfDir)
      .collect().map(b => (b.doc_id, b.payload)).sortBy(_._1)
    val batch = SparkEntry
      .queries("m101_image_phash_dedup")(spark, TestSpark.sfDir)
      .collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getString(3)))
      .toMap
    val groups = batch.values.map(_._3).toSet
    val src = MemoryStream[(Long, Array[Byte])]
    val q = streaming.DocStreams.imagePhashDedup(
        src.toDF().toDF("doc_id", "payload"))
      .writeStream.format("memory").queryName("imgdedup")
      .outputMode("append").start()
    try {
      src.addData(blobs.take(30).toSeq); q.processAllAvailable()
      // a corrupt payload mid-stream: excluded, never kills the stream
      src.addData(Seq((999999L, Array[Byte](1, 2, 3))))
      q.processAllAvailable()
      src.addData(blobs.drop(30).toSeq); q.processAllAvailable()
      val kept = spark.table("imgdedup").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      // one keeper per batch group, covering every group, no invalid row
      assert(kept.length == groups.size,
        s"${kept.length} keepers for ${groups.size} phash groups")
      assert(kept.map(_._4).toSet == groups)
      assert(!kept.exists(_._1 == 999999L), "corrupt payload leaked")
      // every keeper is a genuine member of its batch group, with the
      // group's dimensions
      kept.foreach { case (id, w, h, ph) =>
        assert(batch(id) == ((w, h, ph)),
          s"streamed keeper $id disagrees with batch m101")
      }
    } finally { q.stop(); () }

    // watermark variant: same dedup under bounded state — a duplicate
    // arriving within the horizon is dropped, the timestamp column and
    // kernel are shared with the unbounded form
    val src2 = MemoryStream[(Long, Array[Byte], java.sql.Timestamp)]
    val q2 = streaming.DocStreams.imagePhashDedupWithinWatermark(
        src2.toDF().toDF("doc_id", "payload", "ingest_ts"),
        "ingest_ts", "10 minutes")
      .writeStream.format("memory").queryName("imgdedupwm")
      .outputMode("append").start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
      val t1 = java.sql.Timestamp.valueOf("2026-01-01 00:01:00")
      // doc 0 and doc 4 share a pixel pattern class only if their dims
      // match; feed a literal re-ingest of doc 0's payload instead
      src2.addData(Seq((blobs(0)._1, blobs(0)._2, t0)))
      q2.processAllAvailable()
      src2.addData(Seq((blobs(0)._1 + 1000000L, blobs(0)._2, t1)))
      q2.processAllAvailable()
      val kept2 = spark.table("imgdedupwm").collect().map(_.getLong(0))
      assert(kept2.toSeq == Seq(blobs(0)._1),
        s"watermarked dedup kept ${kept2.toSeq}")
    } finally { q2.stop(); () }
  }

  test("decodeWav: streamed binary payloads decode identically to the " +
      "batch codec; corruption degrades to an invalid row, not a dead stream") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // a valid canonical WAV (hand-built, same layout the m97 plan
    // assembles) and two corrupt payloads
    def wav(dataBytes: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(44 + dataBytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes).putInt(36 + dataBytes).put("WAVE".getBytes)
        .put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
        .putInt(8000).putInt(16000).putShort(2).putShort(16)
        .put("data".getBytes).putInt(dataBytes)
      bb.array()
    }
    val rows = Seq(
      (1L, wav(4)), (2L, wav(0)),
      (3L, Array[Byte](1, 2, 3)),                     // truncated
      (4L, "RIFFxxxxJUNKjunk".getBytes ++ new Array[Byte](40))) // bad magic
    val src = MemoryStream[(Long, Array[Byte])]
    val q = streaming.DocStreams.decodeWav(
        src.toDF().toDF("doc_id", "payload"))
      .writeStream.format("memory").queryName("wavdec")
      .outputMode("append").start()
    try {
      src.addData(rows); q.processAllAvailable()
      val out = spark.table("wavdec").collect()
        .map(r => r.getLong(0) -> r.getBoolean(7)).toMap
      assert(out == Map(1L -> true, 2L -> true, 3L -> false, 4L -> false))
      // stream == batch: identical code path over a static frame
      val batch = streaming.DocStreams.decodeWav(rows.toDF("doc_id", "payload"))
        .collect().map(r => r.getLong(0) -> r.getBoolean(7)).toMap
      assert(batch == out)
      val meta = spark.table("wavdec").filter(col("doc_id") === 1).head()
      assert(meta.getInt(1) == 8000 && meta.getInt(2) == 1 &&
        meta.getInt(3) == 16 && meta.getInt(6) == 4)
    } finally { q.stop(); () }
  }

  test("chunkDocs: streamed docs chunk identically to batch t90; " +
      "emission is stateless (same micro-batch)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = Seq(
      (1L, Seq.range(0, 80).map(i => s"w$i").mkString(" ")), // 80 toks → 3 chunks
      (2L, "short doc"),                                     // 1 chunk
      (3L, ""))                                              // 0 chunks
    val src = MemoryStream[(Long, String)]
    val q = streaming.DocStreams.chunkDocs(src.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("chunks")
      .outputMode("append").start()
    try {
      src.addData(rows); q.processAllAvailable()
      val out = spark.table("chunks").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
          r.getString(4))).toSet
      // stream == batch: identical kernel over a static frame
      val batch = streaming.DocStreams.chunkDocs(rows.toDF("doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
          r.getInt(3), r.getString(4))).toSet
      assert(out == batch)
      assert(out.count(_._1 == 1L) == 3 && out.count(_._1 == 2L) == 1 &&
        !out.exists(_._1 == 3L))
      // the tail chunk of doc 1 starts at 49 and carries 32 tokens (80-48)
      assert(out.filter(_._1 == 1L).map(c => (c._2, c._3, c._4)) ==
        Set((0, 1, 32), (1, 25, 32), (2, 49, 32)))
    } finally { q.stop(); () }
  }

  test("streaming transforms survive a degenerate document stream") {
    // the ingest path sees what a real crawler emits: empty docs,
    // whitespace-only docs, single tokens, unicode — none may kill a
    // long-running stream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val degenerate = Seq(
      (1L, "", "en", "src0"),
      (2L, "single", "en", "src0"),
      (3L, "   \t\n ", "de", "src1"),
      (4L, "héllo ünïcode", "fr", "src1"))
    val src = MemoryStream[(Long, String, String, String)]
    val docs = src.toDF().toDF("doc_id", "text", "lang", "source")
    val dedup = streaming.DocStreams.contentDedup(docs)
      .writeStream.format("memory").queryName("patho_dedup")
      .outputMode("append").start()
    val decon = streaming.DocStreams.decontaminate(docs, Set("a b c d e"))
      .writeStream.format("memory").queryName("patho_decon")
      .outputMode("append").start()
    val surp = streaming.DocStreams.surprisalScore(docs, Map("a b" -> -100L))
      .writeStream.format("memory").queryName("patho_surp")
      .outputMode("append").start()
    val mix = streaming.DocStreams.runningMixture(docs)
      .writeStream.format("memory").queryName("patho_mix")
      .outputMode("complete").start()
    val ppl = streaming.DocStreams.perplexityBucket(docs,
        Map("single" -> -500000L), Map("en" -> ((0.4, 0.6))))
      .writeStream.format("memory").queryName("patho_ppl")
      .outputMode("append").start()
    try {
      src.addData(degenerate)
      Seq(dedup, decon, surp, mix, ppl).foreach(_.processAllAvailable())
      // every doc gets a verdict from the stateless scorers
      assert(spark.table("patho_decon").count() == 4)
      assert(spark.table("patho_surp").count() == 4)
      // the empty and whitespace-only docs share a signature (no tokens):
      // dedup keeps one representative, never throws
      assert(spark.table("patho_dedup").count() >= 2)
      // the mixture report accounts for every (source, lang) cell:
      // (src0,en), (src1,de), (src1,fr)
      assert(spark.table("patho_mix").count() == 3)
      // the bucketer: every doc answered; token-free docs carry NULL
      // surprisal+bucket, edge-less languages carry NULL bucket — no row
      // lost, nothing thrown
      val pb = spark.table("patho_ppl").collect()
        .map(r => r.getLong(0) -> (r.isNullAt(3), r.isNullAt(4))).toMap
      assert(pb.size == 4)
      assert(pb(1L) == ((true, true)), "empty doc must be all-NULL")
      assert(pb(3L) == ((true, true)), "whitespace doc must be all-NULL")
      assert(pb(2L) == ((false, false)), "in-vocab en doc buckets")
      assert(pb(4L) == ((false, true)), "edge-less fr doc: score, no bucket")
    } finally Seq(dedup, decon, surp, mix, ppl).foreach(_.stop())
  }

  test("scoring twins answer a null text exactly like an empty one; " +
      "their count columns are the sizes of the batch token Columns") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = Seq[String](null, "", "\u000B a b \t", "ÉCOLE Straße AND the")
      .zipWithIndex.map { case (t, i) => (i + 1L, t, "en") }
    val src = MemoryStream[(Long, String, String)]
    val docs = src.toDF().toDF("doc_id", "text", "lang")
    // (twin, its stream, the index of its count column)
    val twins = Seq(
      ("decon", streaming.DocStreams.decontaminate(docs, Set("a b c d e")), 1),
      ("surp", streaming.DocStreams.surprisalScore(docs,
        Map("a b" -> -100L)), 1),
      ("dsir", streaming.DocStreams.dsirScore(docs, Map("the" -> 3L)), 1),
      ("nb", streaming.DocStreams.nbClassify(docs,
        Map("en" -> ((-1L, -5L)), "fr" -> ((-2L, -4L))),
        Map(("en", "the") -> -1L)), 1),
      ("bpe", streaming.DocStreams.bpeApply(docs, Seq("th", "0e")), 1),
      ("ppl", streaming.DocStreams.perplexityBucket(docs,
        Map("the" -> -500000L), Map("en" -> ((0.4, 0.6)))), 2))
    val qs = twins.map { case (n, df, _) =>
      df.writeStream.format("memory").queryName(s"nulltext_$n")
        .outputMode("append").start()
    }
    try {
      src.addData(rows)
      qs.foreach(_.processAllAvailable())
      // the batch queries' own token Columns over the same static rows
      val static = rows.toDF("doc_id", "text", "lang")
      val text = col("text")
      def sizes(c: org.apache.spark.sql.Column): Map[Long, Long] = static
        .filter(text.isNotNull)
        .select(col("doc_id"), size(c).cast("long"))
        .as[(Long, Long)].collect().toMap
      val words = regexp_extract_all(lower(text), lit("[a-z]+"), lit(0))
      val expect = Map(
        "decon" -> sizes(operators.Dedup.shingles(text, 5)),
        "surp" -> sizes(functions.GraftFunctions.word_shingles(lower(text), 2)),
        "dsir" -> sizes(words),
        "nb" -> sizes(operators.TextAnalysis.tokens(lower(text))),
        // n_chars: the letters of the same word array
        "bpe" -> static.filter(text.isNotNull)
          .select(col("doc_id"), length(array_join(words, "")).cast("long"))
          .as[(Long, Long)].collect().toMap,
        "ppl" -> sizes(operators.TextAnalysis.tokens(lower(text))))
      twins.foreach { case (n, _, ci) =>
        val out = spark.table(s"nulltext_$n").collect()
          .map(r => r.getLong(0) -> r).toMap
        assert(out.keySet == Set(1L, 2L, 3L, 4L), s"$n lost a row: $out")
        assert(out(1L).toSeq.tail == out(2L).toSeq.tail,
          s"$n: null text ${out(1L)} != empty text ${out(2L)}")
        expect(n).foreach { case (id, k) =>
          assert(out(id).getAs[Number](ci).longValue == k,
            s"$n doc $id: count ${out(id).get(ci)} != batch Column size $k")
        }
      }
      // the fixture really tokenizes: the \u000B doc carries 3 tokens
      assert(expect("nb")(3L) == 3L && expect("surp")(3L) == 2L)
    } finally qs.foreach(_.stop())
  }

  test("sceneAssign survives a degenerate frame stream") {
    // single-frame assets, duplicate energies, an asset whose frames all
    // arrive in one batch after another asset interleaves
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[streaming.DocStreams.Frame]
    val q = streaming.DocStreams.sceneAssign(src.toDS())
      .writeStream.format("memory").queryName("patho_scene")
      .outputMode("append").start()
    try {
      src.addData(Seq(
        streaming.DocStreams.Frame(1L, 0L, 100L),   // lone frame
        streaming.DocStreams.Frame(2L, 0L, 100L),
        streaming.DocStreams.Frame(2L, 1L, 100L)))  // flat: one scene
      q.processAllAvailable()
      src.addData(Seq(
        streaming.DocStreams.Frame(2L, 2L, 1000L))) // cut across batches
      q.processAllAvailable()
      val out = spark.table("patho_scene").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
      assert(out((1L, 0L)) == 0L)
      assert(out((2L, 0L)) == 0L && out((2L, 1L)) == 0L)
      assert(out((2L, 2L)) == 1L,
        "the cross-batch jump must open scene 1 from carried state")
    } finally { q.stop(); () }
  }

  test("sceneAssign evicts idle-asset cursors on the event-time gap: " +
      "a straggler past the watermark re-opens its asset at scene 0") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def f(doc: Long, idx: Long, e: Long, t: String) =
      streaming.DocStreams.Frame(doc, idx, e, ts(t))
    val src = MemoryStream[streaming.DocStreams.Frame]
    val q = streaming.DocStreams.sceneAssign(src.toDS(),
        idleGap = "10 seconds")
      .writeStream.format("memory").queryName("evict_scene")
      .outputMode("append").start()
    try {
      // asset 1: two frames, a cut between them → scenes 0, 1
      src.addData(Seq(
        f(1L, 0L, 100L, "2026-01-01 10:00:00"),
        f(1L, 1L, 500L, "2026-01-01 10:00:01")))
      q.processAllAvailable()
      // an unrelated asset far in the future drives the watermark to
      // 10:04:50, past asset 1's 10:00:11 timeout → cursor evicted on
      // the watermark-advance batch (no wall-clock spinning involved)
      src.addData(Seq(f(9L, 0L, 0L, "2026-01-01 10:05:00")))
      q.processAllAvailable()
      // a straggler for asset 1 (NOT late vs the watermark) re-opens it:
      // scene restarts at 0 even though its energy equals the evicted
      // cursor's last energy — proof the cursor is GONE, not carried.
      // A frame BEHIND the watermark (10:04:50) is late data: the
      // engine drops it before the operator runs — no row, no re-open —
      // the documented price of bounded state.
      src.addData(Seq(
        f(1L, 5L, 500L, "2026-01-01 10:06:00"),
        f(7L, 0L, 100L, "2026-01-01 10:00:30"))) // late: < watermark
      q.processAllAvailable()
      val out = spark.table("evict_scene").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
      assert(out((1L, 0L)) == 0L && out((1L, 1L)) == 1L)
      assert(out((9L, 0L)) == 0L)
      assert(out((1L, 5L)) == 0L,
        "straggler after eviction must re-open the asset at scene 0; " +
          "a carried cursor would have continued scene 1")
      assert(!out.contains((7L, 0L)),
        "a frame behind the watermark must be dropped as late data")
    } finally { q.stop(); () }
  }

  test("contentDedupWithinWatermark: dups dropped inside the horizon, " +
      "state evicted past it") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val text = "the quick brown fox jumps over the lazy dog"
    val src = MemoryStream[(Long, Timestamp, String)]
    val q = streaming.DocStreams.contentDedupWithinWatermark(
        src.toDF().toDF("doc_id", "ingest_ts", "text"), "ingest_ts", "1 minute")
      .writeStream.format("memory").queryName("wdedup")
      .outputMode("append").start()
    try {
      src.addData((1L, ts("2026-01-01 10:00:00"), text))
      q.processAllAvailable()
      // same signature 30 s later — inside the horizon — dropped; an
      // event far ahead advances the watermark past 10:01, evicting the
      // signature's state at the end of this batch
      src.addData(
        (2L, ts("2026-01-01 10:00:30"), text),
        (3L, ts("2026-01-01 10:10:00"), "some totally different words here")
      )
      q.processAllAvailable()
      // the same content arriving AFTER eviction is re-admitted: state is
      // bounded by the horizon, not the stream's lifetime
      src.addData((4L, ts("2026-01-01 10:11:00"), text))
      q.processAllAvailable()
      val kept = spark.table("wdedup").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 3L, 4L),
        s"expected dup 2 dropped and 4 re-admitted after eviction, got $kept")
    } finally q.stop()
  }

  test("file-source stream: a JSONL drop directory drives content dedup") {
    // the production ingest shape: files land in a directory, Spark's file
    // source discovers them per micro-batch, and the same dedup transform
    // runs unchanged (MemoryStream covers logic; this covers the source)
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_src")
    // ATOMIC_MOVE into the watched dir: the continuous micro-batch trigger
    // races a direct write and would mark a half-written file as seen
    def drop(name: String, lines: String*): Unit = {
      val tmp = java.nio.file.Files.createTempFile("graft_drop", ".jsonl")
      java.nio.file.Files.writeString(tmp, lines.mkString("", "\n", "\n"))
      java.nio.file.Files.move(tmp, dir.resolve(name),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    drop("b1.jsonl",
      """{"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog"}""")
    val docs = spark.readStream.schema("doc_id LONG, text STRING")
      .json(dir.toString)
    val q = streaming.DocStreams.contentDedup(docs)
      .writeStream.format("memory").queryName("filededup")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      drop("b2.jsonl",
        """{"doc_id": 2, "text": "the quick brown fox jumps over the lazy dog"}""",
        """{"doc_id": 3, "text": "an entirely different document entirely"}""")
      q.processAllAvailable()
      val kept = spark.table("filededup").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 3L),
        s"content dup from a later FILE must be dropped, got $kept")
    } finally q.stop()
  }

  test("viewToPurchase: stream-stream interval join == batch join") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val data = Seq(
      Ev(1, ts("2026-01-01 10:00:00"), 1, "view", 0),
      Ev(2, ts("2026-01-01 10:10:00"), 1, "purchase", 0), // in window
      Ev(3, ts("2026-01-01 11:00:00"), 1, "purchase", 0), // 60 min — out
      Ev(4, ts("2026-01-01 10:05:00"), 2, "purchase", 0), // no view: user 2
      Ev(5, ts("2026-01-01 10:20:00"), 1, "view", 0),     // matches ev 3? no (40m); none
      Ev(6, ts("2026-01-01 10:45:00"), 1, "view", 0),     // matches ev 3 (15m)
      // far-future event advances both watermarks so all matches flush
      Ev(7, ts("2026-01-01 15:00:00"), 3, "view", 0))
    val src = MemoryStream[Ev]
    val q = EventStreams.viewToPurchase(src.toDF())
      .writeStream.format("memory").queryName("ssjoin")
      .outputMode("append").start()
    try {
      src.addData(data.take(4): _*)
      q.processAllAvailable()
      src.addData(data.drop(4): _*)
      q.processAllAvailable()
      val streamed = spark.table("ssjoin").collect()
        .map(r => (r.getLong(1), r.getLong(2))).toSet
      assert(streamed == Set((1L, 2L), (6L, 3L)),
        s"expected view->purchase pairs (1,2) and (6,3), got $streamed")
      // batch parity: the same transform over a static frame
      val batch = EventStreams.viewToPurchase(data.toDF()).collect()
        .map(r => (r.getLong(1), r.getLong(2))).toSet
      assert(batch == streamed, "stream-stream join must equal batch join")
    } finally q.stop()
  }

  test("WarehouseSink: a stream lands in a manifest table batch by batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val wh = java.nio.file.Files.createTempDirectory("graft_sink_wh").toString
    val cmds = new graft.commands.TableCommands(spark, wh)
    val src = MemoryStream[(Long, String)]
    val q = streaming.WarehouseSink.start(
      src.toDF().toDF("id", "v"), cmds, "streamed")
    try {
      src.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      assert(cmds.table("streamed").count() == 2)
      src.addData((3L, "c"))
      q.processAllAvailable()
      val got = cmds.table("streamed").orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(got == Seq((1L, "a"), (2L, "b"), (3L, "c")))
      // and the result is a REAL warehouse table: integrity scan + the
      // storage commands work on it
      assert(cmds.verifyTable("streamed") == 3L)
      cmds.optimizeTable("streamed", targetPartitions = 1)
      assert(cmds.table("streamed").count() == 3)
    } finally q.stop()
  }

  test("WarehouseSink.route: quality gate splits a stream into pass/fail " +
      "warehouse tables; NULL scores quarantine to fail") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val wh = java.nio.file.Files.createTempDirectory("graft_route_wh").toString
    val cmds = new graft.commands.TableCommands(spark, wh)
    val src = MemoryStream[(Long, String)]
    // gate: >= 3 whitespace tokens (a t71-style length gate); null text is
    // unscorable and must land in the reject table, not vanish
    val gate = size(graft.operators.TextAnalysis.tokens(col("text"))) >= 3 &&
      when(col("text").isNull, lit(null)).otherwise(lit(true))
    val q = streaming.WarehouseSink.route(
      src.toDF().toDF("doc_id", "text"), cmds, gate, "kept", "rejected")
    try {
      src.addData((1L, "one two three four"), (2L, "too short"), (3L, null))
      q.processAllAvailable()
      src.addData((4L, "another doc long enough to keep"), (5L, "no"))
      q.processAllAvailable()
      val kept = cmds.table("kept").select("doc_id").as[Long].collect().toSet
      val rej = cmds.table("rejected").select("doc_id").as[Long].collect().toSet
      assert(kept == Set(1L, 4L), s"kept $kept")
      assert(rej == Set(2L, 3L, 5L), s"rejected $rej")
      // both outputs are REAL warehouse tables with independent cursors
      assert(cmds.verifyTable("kept") == 2L && cmds.verifyTable("rejected") == 3L)
      assert(cmds.lastCommittedBatch("kept").isDefined &&
        cmds.lastCommittedBatch("rejected").isDefined)
      // a replayed batch is a no-op on an already-committed table
      val before = cmds.table("kept").count()
      cmds.appendCommitted("kept",
        Seq((1L, "one two three four")).toDF("doc_id", "text"),
        cmds.lastCommittedBatch("kept").get)
      assert(cmds.table("kept").count() == before, "replay duplicated rows")
    } finally q.stop()
  }

  test("ingest front door end-to-end: admit gates the stream and route " +
      "lands the verdicts in two exactly-once warehouse tables") {
    // the production composition of the round's admission story: arriving
    // docs -> near-dup + quality verdicts (admit, == batch p102) -> the
    // admitted flag routes each doc into the corpus or the quarantine
    // table, both with exactly-once batch cursors. This is the decision
    // path a real ingest service runs per micro-batch.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (hist, arrDocs) =
      operators.Dedup.incrementalParts(spark, TestSpark.sfDir)
    val histBands = hist.cache()
    val arrivals = arrDocs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val wh = java.nio.file.Files
      .createTempDirectory("graft_door_wh").toString
    val cmds = new graft.commands.TableCommands(spark, wh)
    val src = MemoryStream[(Long, String)]
    val q = streaming.WarehouseSink.route(
      streaming.DocStreams.admit(
        src.toDF().toDF("doc_id", "text"), histBands),
      cmds, col("admitted"), "corpus_admitted", "quarantine")
    try {
      src.addData(arrivals.take(arrivals.length / 2): _*)
      q.processAllAvailable()
      src.addData(arrivals.drop(arrivals.length / 2): _*)
      q.processAllAvailable()
      val admitted = cmds.table("corpus_admitted")
        .select("doc_id").as[Long].collect().toSet
      val rejected = cmds.table("quarantine")
        .select("doc_id").as[Long].collect().toSet
      val batch = SparkEntry.queries("p102_ingest_gate")(
          spark, TestSpark.sfDir).collect()
        .map(r => r.getLong(0) -> r.getBoolean(4)).toMap
      assert(admitted == batch.filter(_._2).keySet,
        "admitted table diverged from batch p102's admitted slice")
      assert(rejected == batch.filterNot(_._2).keySet,
        "quarantine table diverged from batch p102's rejected slice")
      assert(admitted.nonEmpty && rejected.nonEmpty,
        "fixture degenerated: one side of the gate is empty")
      // both tables carry replay cursors — the exactly-once contract
      assert(cmds.lastCommittedBatch("corpus_admitted").isDefined &&
        cmds.lastCommittedBatch("quarantine").isDefined)
    } finally { q.stop(); histBands.unpersist(); () }
  }

  test("WarehouseSink exactly-once: re-delivered batches do not duplicate rows") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val wh = java.nio.file.Files.createTempDirectory("graft_sink_eo_wh").toString
    val cmds = new graft.commands.TableCommands(spark, wh)

    // unit-level: the sink body itself is idempotent per batch id
    cmds.appendCommitted("eo", Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0L)
    cmds.appendCommitted("eo", Seq((3L, "c")).toDF("id", "v"), 1L)
    cmds.appendCommitted("eo", Seq((3L, "c")).toDF("id", "v"), 1L) // re-delivery
    cmds.appendCommitted("eo", Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0L)
    assert(cmds.table("eo").count() == 3)
    assert(cmds.lastCommittedBatch("eo").contains(1L))
    // a compaction rewrite must NOT reset the replay cursor
    cmds.optimizeTable("eo", targetPartitions = 1)
    assert(cmds.lastCommittedBatch("eo").contains(1L))
    cmds.appendCommitted("eo", Seq((9L, "z")).toDF("id", "v"), 1L) // still a replay
    assert(cmds.table("eo").count() == 3)

    // end-to-end: a restarted query (fresh checkpoint, same source) replays
    // everything as batch 0 — the marker makes the replay a no-op
    val src = MemoryStream[(Long, String)]
    src.addData((10L, "x"), (11L, "y"))
    val q1 = streaming.WarehouseSink.start(src.toDF().toDF("id", "v"), cmds, "eo2")
    try { q1.processAllAvailable() } finally q1.stop()
    assert(cmds.table("eo2").count() == 2)
    val q2 = streaming.WarehouseSink.start(src.toDF().toDF("id", "v"), cmds, "eo2")
    try { q2.processAllAvailable() } finally q2.stop()
    assert(cmds.table("eo2").count() == 2,
      "restart replayed batch 0 and must have been skipped")
  }

  test("runningUserFlags: stateful running mean across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[EventStreams.UserEvent]
    val q = EventStreams.runningUserFlags(src.toDS(), threshold = 10.0)
      .writeStream.format("memory").queryName("flags")
      .outputMode("append").start()
    try {
      src.addData(EventStreams.UserEvent(1, ts("2026-01-01 10:00:00"), 4.0))
      q.processAllAvailable()
      src.addData(EventStreams.UserEvent(1, ts("2026-01-01 10:01:00"), 30.0))
      q.processAllAvailable()
      val byBatch = spark.table("flags").collect()
        .map(r => (r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      // batch 1: n=1 mean=4 unflagged; batch 2: n=2 mean=17 flagged
      assert(byBatch.contains((1L, 4.0, false)))
      assert(byBatch.contains((2L, 17.0, true)))
    } finally q.stop()
  }
}
