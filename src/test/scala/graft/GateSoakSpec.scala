package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Randomized soak of the VECTOR gate's batch kernel — the streaming
  * composition of the storage-model property spec: one gate driven
  * through a seeded-random interleaving of clean batches, poison rows,
  * replays, crash injections at both publish points, and tail
  * compactions at random thresholds, asserting after every step that
  *  - the paired sink markers stay EQUAL and non-decreasing (the
  *    invariant STOP ... PURGE's torn-pair refusal keys on),
  *  - and at the end that contents equal an exactly-once batch recompute
  *    (every committed vector routed+encoded once, every poison row
  *    quarantined once) and the VERIFY index audit passes.
  * Any interleaving that violates these is a real engine bug — the seed
  * pins it for replay. */
class GateSoakSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val d = TestSpark.sfDir

  test("vector gate soak: seeded-random clean/poison/replay/crash/" +
      "compaction interleavings keep the sink pair marker-equal and " +
      "monotone, contents exactly-once, and the VERIFY audit green") {
    import spark.implicits._
    val wh = java.nio.file.Files
      .createTempDirectory("graft_soak_wh").toString
    val cmds = new commands.TableCommands(spark, wh)
    operators.VectorIndex.build(spark, d, cmds)
    val codesT = operators.VectorIndex.tableName("codes")
    val assignT = operators.VectorIndex.tableName("assign")
    try {
      val model = streaming.VectorStreams.freeze(
        cmds.table(operators.VectorIndex.tableName("centroids")),
        cmds.table(operators.VectorIndex.tableName("codebook")))
      val base = spark.read.parquet(s"$d/embeddings.parquet")
        .select(col("embedding")).head.getSeq[Float](0)
      val rng = new scala.util.Random(20260815L)
      // the reference model: what an exactly-once gate must end up with
      val committedClean =
        scala.collection.mutable.Map.empty[Long, Seq[Float]]
      val committedPoison = scala.collection.mutable.Set.empty[Long]
      // committed batches by effective id, for replay ops
      val pastBatches = scala.collection.mutable.Map
        .empty[Long, Seq[(Long, Seq[Float])]]
      var nextId = 9600000L
      var nextBatch = 0L
      var lastMarker = -1L
      def markers(): (Long, Long) =
        (cmds.lastCommittedBatch(codesT).getOrElse(-1L),
          cmds.lastCommittedBatch(assignT).getOrElse(-1L))
      def checkPair(ctx: String): Unit = {
        val (mc, ma) = markers()
        assert(mc == ma, s"[$ctx] sink pair torn at rest: codes $mc, " +
          s"assign $ma (only a mid-replay window may tear it)")
        assert(mc >= lastMarker, s"[$ctx] marker regressed: $mc < " +
          s"$lastMarker")
        lastMarker = mc
      }
      def runBatch(rows: Seq[(Long, Seq[Float])], id: Long): Unit =
        streaming.VectorStreams.ingestBatch(
          rows.toDF("vec_id", "embedding"), cmds, model, id)
      (1 to 40).foreach { step =>
        rng.nextInt(10) match {
          case n if n <= 5 => // a fresh micro-batch, possibly poisoned,
            // possibly crashing mid-commit (then healed by replay — what
            // Spark's checkpoint recovery does)
            val rows = (0 until 1 + rng.nextInt(3)).map { _ =>
              nextId += 1
              if (rng.nextInt(4) == 0) (nextId, Seq(1.0f, 2.0f)) // poison
              else (nextId,
                base.map(_ + (rng.nextInt(1000) + 1) / 100000.0f))
            }
            val id = nextBatch
            if (rng.nextInt(5) == 0) { // crash one commit, then heal
              cmds.crashPoint =
                Some(if (rng.nextBoolean()) "staged" else "published")
              intercept[IllegalStateException] { runBatch(rows, id) }
              cmds.crashPoint = None
              // the pair MAY be torn right here — that is the state the
              // purge refusal guards; the replay below must heal it
            }
            runBatch(rows, id)
            rows.foreach { case (v, e) =>
              if (e.length == base.length) committedClean(v) = e
              else { committedPoison += v; () }
            }
            pastBatches(id) = rows
            nextBatch += 1
            checkPair(s"step $step commit")
          case 6 | 7 if pastBatches.nonEmpty => // replay a random PAST
            // batch (a re-delivered micro-batch after restart): no-op
            val id = pastBatches.keys.toSeq(
              rng.nextInt(pastBatches.size))
            runBatch(pastBatches(id), id)
            checkPair(s"step $step replay($id)")
          case 8 => // tail compaction at a random graduation threshold —
            // must carry markers forward and never change contents
            val thr = 1L << (14 + rng.nextInt(10)) // 16 KiB .. 8 MiB
            cmds.compactTail(codesT, thr)
            cmds.compactTail(assignT, thr)
            checkPair(s"step $step compact($thr)")
          case _ => // crash INSIDE a compaction, then retry — the stage
            // either never published (staged) or published atomically
            cmds.crashPoint =
              Some(if (rng.nextBoolean()) "staged" else "published")
            try { cmds.compactTail(codesT, 1L << 20); () }
            catch { case _: IllegalStateException => () } // no-op tails
            cmds.crashPoint = None
            cmds.compactTail(codesT, 1L << 20)
            checkPair(s"step $step compact-crash")
        }
      }
      // ── final contents equal an exactly-once recompute ──────────────
      val expected = streaming.VectorStreams.routeAndEncode(
        committedClean.toSeq.toDF("vec_id", "embedding"), model)
        .collect().map(_.toSeq).toSet
      val gotCodes = cmds.table(codesT)
        .filter(col("vec_id") >= 9600000L)
        .select("vec_id", "codes").collect().map(_.toSeq).toSet
      val expCodes = expected.map(r => Seq(r(0), r(2)))
      assert(gotCodes == expCodes,
        s"soak diverged on codes: ${gotCodes.size} vs ${expCodes.size}")
      val gotAssign = cmds.table(assignT)
        .filter(col("vec_id") >= 9600000L)
        .select("vec_id", "cluster").collect().map(_.toSeq).toSet
      val expAssign = expected.map(r => Seq(r(0), r(1)))
      assert(gotAssign == expAssign,
        s"soak diverged on assign: ${gotAssign.size} vs ${expAssign.size}")
      val gotRejects =
        if (!cmds.tableExists("vector_ingest_rejects")) Set.empty[Long]
        else cmds.table("vector_ingest_rejects")
          .filter(col("vec_id") >= 9600000L)
          .groupBy(col("vec_id")).count().collect()
          .map { r => assert(r.getLong(1) == 1L,
            s"poison row ${r.getLong(0)} quarantined ${r.getLong(1)}x")
            r.getLong(0) }.toSet
      assert(gotRejects == committedPoison.toSet,
        s"soak diverged on the quarantine log: ${gotRejects.size} vs " +
          s"${committedPoison.size}")
      // ── and the cross-table VERIFY audit agrees ──────────────────────
      val e = new Engine(spark, d, wh)
      try {
        assert(e.sql(s"VERIFY $codesT").head.getString(0)
          .contains("invariants hold"))
        assert(e.sql(s"VERIFY $assignT").head.getString(0)
          .contains("invariants hold"))
      } finally e.close()
    } finally {
      operators.VectorIndex.drop(spark, cmds)
      ()
    }
  }

  test("ADMIT gate soak: seeded-random fresh/duplicate/poison/reject " +
      "batches, replays, mid-pair crash injections and compactions — " +
      "verdicts exactly-once per document, the verdicts/bands markers " +
      "stay equal+monotone, the band index equals a set recompute over " +
      "corpus + ACTUAL admissions, and the VERIFY audit is green") {
    import spark.implicits._
    val wh = java.nio.file.Files
      .createTempDirectory("graft_asoak_wh").toString
    val cmds = new commands.TableCommands(spark, wh)
    operators.DedupIndex.build(spark, d, cmds)
    val vt = "ingest_verdicts"
    val bt = operators.DedupIndex.tableName("bands")
    try {
      val rng = new scala.util.Random(20260816L)
      // quality-passing sentence templates; a counter word keeps each
      // FRESH text distinct (they are mutually near-dup by construction
      // — the gate's verdicts, not this model, decide who admits)
      def freshText(i: Long): String =
        s"the amber lighthouse keeper number $i walks a winding cliff " +
          "path toward the harbor beacon every misty evening"
      val submitted =
        scala.collection.mutable.Map.empty[Long, String] // id -> text
      val pastBatches = scala.collection.mutable.Map
        .empty[Long, Seq[(Long, String)]]
      var nextId = 8600000L
      var nextBatch = 0L
      var lastMarker = -1L
      def markers(): (Long, Long) =
        (cmds.lastCommittedBatch(vt).getOrElse(-1L),
          cmds.lastCommittedBatch(bt).getOrElse(-1L))
      def checkPair(ctx: String): Unit = {
        val (mv, mb) = markers()
        assert(mv == mb,
          s"[$ctx] verdicts/bands pair torn at rest: $mv vs $mb")
        assert(mv >= lastMarker, s"[$ctx] marker regressed")
        lastMarker = mv
      }
      def runBatch(rows: Seq[(Long, String)], id: Long): Unit =
        streaming.DocStreams.admitAndIndexBatch(
          rows.toDF("doc_id", "text"), cmds, vt, id)
      (1 to 25).foreach { step =>
        rng.nextInt(10) match {
          case n if n <= 5 =>
            val rows = (0 until 1 + rng.nextInt(2)).map { _ =>
              nextId += 1
              rng.nextInt(5) match {
                case 0 => (nextId, null: String) // poison: null text
                case 1 => (nextId, "x") // quality reject
                case 2 if submitted.nonEmpty => // duplicate of an
                  // earlier arrival (historical or batch dup)
                  (nextId, submitted.values
                    .toSeq(rng.nextInt(submitted.size)))
                case _ => (nextId, freshText(nextId))
              }
            }
            val id = nextBatch
            if (rng.nextInt(5) == 0) { // crash one commit, then heal by
              // replaying the batch (Spark's checkpoint recovery)
              cmds.crashPoint =
                Some(if (rng.nextBoolean()) "staged" else "published")
              intercept[IllegalStateException] { runBatch(rows, id) }
              cmds.crashPoint = None
            }
            runBatch(rows, id)
            rows.foreach { case (i, t) => submitted(i) = t }
            pastBatches(id) = rows
            nextBatch += 1
            checkPair(s"step $step commit")
          case 6 | 7 if pastBatches.nonEmpty =>
            val id = pastBatches.keys.toSeq(rng.nextInt(pastBatches.size))
            runBatch(pastBatches(id), id)
            checkPair(s"step $step replay($id)")
          case _ =>
            val thr = 1L << (14 + rng.nextInt(10))
            if (rng.nextInt(4) == 0) { // crash inside a compaction
              cmds.crashPoint =
                Some(if (rng.nextBoolean()) "staged" else "published")
              try { cmds.compactTail(vt, thr); () }
              catch { case _: IllegalStateException => () }
              cmds.crashPoint = None
            }
            if (cmds.tableExists(vt)) cmds.compactTail(vt, thr)
            cmds.compactTail(bt, thr)
            checkPair(s"step $step compact($thr)")
        }
      }
      // ── exactly-once: ONE verdict row per submitted document ─────────
      val verdicts = cmds.table(vt).collect()
        .map(r => r.getLong(0) ->
          r.getBoolean(r.fieldIndex("admitted"))).toMap
      assert(cmds.table(vt).count() == verdicts.size.toLong,
        "duplicate verdict rows (replay leaked through the marker)")
      assert(verdicts.keySet == submitted.keySet.toSet,
        s"verdict coverage diverged: ${verdicts.size} vs " +
          s"${submitted.size}")
      // ── the band index equals a set recompute over corpus + ACTUAL
      // admissions (torn appends or replay double-appends would differ:
      // missing rows break set-equality, duplicates break VERIFY below) ─
      val admittedDocs = verdicts.collect { case (i, true) => i }.toSeq
      val expected = (operators.Dedup.allBands(spark, d).collect() ++
        (if (admittedDocs.isEmpty) Array.empty[org.apache.spark.sql.Row]
         else operators.Dedup.bandsForCorpus(
           admittedDocs.map(i => i -> submitted(i))
             .toDF("doc_id", "text")).collect()))
        .map(_.toSeq).toSet
      val got = cmds.table(bt).collect().map(_.toSeq).toSet
      assert(got == expected,
        s"band index diverged from recompute: ${got.size} vs " +
          s"${expected.size}")
      assert(admittedDocs.nonEmpty,
        "soak degenerated - no admissions exercised the band append")
      // ── VERIFY's set-ness + provenance audit agrees ──────────────────
      val e = new Engine(spark, d, wh)
      try assert(e.sql(s"VERIFY $bt").head.getString(0)
        .contains("invariants hold"))
      finally e.close()
    } finally {
      operators.DedupIndex.drop(spark, cmds)
      ()
    }
  }

  test("rotation soak: randomized sequence of clean stops, session " +
      "deaths, resumes and PURGE rotations over the SQL face — one " +
      "verdict row per dropped document across every epoch (zero lost, " +
      "zero duplicated), markers monotone through all floors; two " +
      "seeds, fresh warehouse each") {
    Seq(20260817L, 40517L).foreach(rotationSoak)
  }

  private def rotationSoak(seed: Long): Unit = {
    import spark.implicits._
    val wh = java.nio.file.Files
      .createTempDirectory("graft_rsoak_wh").toString
    var engine = new Engine(spark, d, wh)
    def newDir() = java.nio.file.Files
      .createTempDirectory("graft_rsoak_src").toString
    try {
      engine.sql("BUILD DEDUP INDEX ON documents")
      val rng = new scala.util.Random(seed)
      val dropped = scala.collection.mutable.Set.empty[Long]
      var nextId = 8800000L
      var dir = newDir()
      var lastMarker = -1L
      def freshText(i: Long): String =
        s"the amber lighthouse keeper number $i walks a winding cliff " +
          "path toward the harbor beacon every misty evening"
      (1 to 6).foreach { epoch =>
        // drop 1-2 documents into the CURRENT source dir, run the gate
        (0 until 1 + rng.nextInt(2)).foreach { _ =>
          nextId += 1
          Seq(nextId -> freshText(nextId)).toDF("doc_id", "text")
            .write.mode("append").parquet(dir)
          dropped += nextId
        }
        engine.sql(s"START ADMIT INGEST FROM '$dir' AS gate")
        engine.ingestQuery("gate").get.processAllAvailable()
        val m = engine.storage.lastCommittedBatch("ingest_verdicts")
          .getOrElse(-1L)
        assert(m >= lastMarker,
          s"epoch $epoch: marker regressed across rotations ($m < " +
            s"$lastMarker) - a floor failed to lift")
        lastMarker = m
        // while the gate is registered its verdict log is CLAIMED: a
        // randomly chosen fenced verb must be refused — OPTIMIZE, DML
        // and LOAD (the verb the fence originally missed) all race the
        // gate's per-batch manifest commit
        val probe = rng.nextInt(3) match {
          case 0 => "OPTIMIZE ingest_verdicts"
          case 1 => "DELETE FROM ingest_verdicts WHERE doc_id < 0"
          case _ => "LOAD '/tmp/nonexistent_rsoak.csv' INTO ingest_verdicts"
        }
        val fenceErr = intercept[IllegalStateException](engine.sql(probe))
        assert(fenceErr.getMessage.contains("live stream"),
          s"epoch $epoch: '$probe' failed for the wrong reason: " +
            fenceErr.getMessage)
        // the txn/stream exclusion holds at every registered rest point:
        // BEGIN must refuse while the gate's sink claims are live
        val txnErr = intercept[IllegalArgumentException](engine.sql("BEGIN"))
        assert(txnErr.getMessage.contains("live streams"),
          s"epoch $epoch: BEGIN failed for the wrong reason: " +
            txnErr.getMessage)
        // end the epoch one of four ways
        rng.nextInt(4) match {
          case 0 => // clean stop; next epoch RESUMES the same source —
            // sometimes with a legal between-epoch compaction in the gap
            // (the claim released with the registration, so maintenance
            // is allowed, and it must carry the marker so the resume
            // stays exactly-once)
            engine.sql("STOP INGEST gate")
            if (rng.nextBoolean()) {
              engine.sql("OPTIMIZE ingest_verdicts")
              assert(engine.storage.lastCommittedBatch("ingest_verdicts")
                .contains(m),
                s"epoch $epoch: OPTIMIZE dropped the stream marker")
            }
            // ... and with the claims released, a transaction opens and
            // commits cleanly in the same gap
            engine.sql("BEGIN"); engine.sql("COMMIT")
          case 1 => // session dies; a new engine resumes the same source
            engine.close()
            engine = new Engine(spark, d, wh)
          case 2 => // clean rotation to a fresh source directory
            engine.sql("STOP INGEST gate PURGE")
            dir = newDir()
          case _ => // session dies mid-epoch; the registration is
            // released from the NEW session and the source rotated
            engine.close()
            engine = new Engine(spark, d, wh)
            engine.sql("STOP INGEST gate FORCE PURGE")
            dir = newDir()
        }
      }
      // drain: make sure no gate is left registered, then audit
      try engine.sql("STOP INGEST gate")
      catch { case _: Exception =>
        try { engine.sql("STOP INGEST gate FORCE"); () }
        catch { case _: Exception => () }
      }
      val counts = engine.storage.table("ingest_verdicts")
        .groupBy(col("doc_id")).count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(counts.keySet == dropped.toSet,
        s"rotation soak (seed $seed) LOST documents: dropped " +
          s"${dropped.size}, verdicts ${counts.size}")
      val dups = counts.filter(_._2 > 1)
      assert(dups.isEmpty,
        s"rotation soak (seed $seed) DUPLICATED verdicts: $dups")
      engine.sql("DROP DEDUP INDEX ON documents")
    } finally {
      try {
        val ec = new Engine(spark, d, wh)
        ec.sql("DROP DEDUP INDEX ON documents"); ec.close()
      } catch { case _: Throwable => () }
      engine.close()
    }
  }
}
