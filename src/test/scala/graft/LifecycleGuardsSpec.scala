package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-11 lifecycle guards: the generic per-table sink fence, the
  * torn-pair PURGE refusal, the floor pin (spec'd with the mid-PURGE crash
  * cases in EngineSqlSpec), idle-proof heartbeats, VERIFY's index
  * integrity audits, the claim-tmp sweep, the symlinked-retired-dir
  * refusal, and the COMPACT ... THRESHOLD surface. Each test is the "done"
  * criterion of a round-10 verdict ask or ADVICE finding. */
class LifecycleGuardsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val d = TestSpark.sfDir

  private def freshWh(tag: String): String =
    Files.createTempDirectory(s"graft_${tag}_wh").toString

  /** Poll until `body` stops throwing IllegalStateException (async claim
    * release lands on the listener bus) — bounded, never silent. */
  private def eventuallyAllowed[T](maxMs: Long = 15000)(body: => T): T = {
    val deadline = System.currentTimeMillis() + maxMs
    while (true) {
      try return body
      catch { case e: IllegalStateException =>
        if (System.currentTimeMillis() > deadline) throw e
        Thread.sleep(100)
      }
    }
    sys.error("unreachable")
  }

  test("generic sink fence: OPTIMIZE and DML on a Scala-API serve twin's " +
      "caller-named sink (and its _rejects) are refused while the twin " +
      "runs, allowed after stop; RELEASE SINK ... FORCE releases a dead " +
      "claim deliberately") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val e1 = new Engine(spark, d, freshWh("fence"))
    operators.VectorIndex.build(spark, d, e1.storage)
    try {
      val callerQ = spark.read.parquet(s"$d/embeddings.parquet")
        .selectExpr("vec_id AS q_id",
          "transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding")
        .filter(col("q_id") < 3).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
      val src = MemoryStream[(Long, Seq[Double])]
      val q = streaming.VectorStreams.serve(
        src.toDF().toDF("q_id", "embedding"), d, e1.storage, "svc_answers")
      try {
        src.addData(callerQ: _*)
        src.addData((999L, Seq(1.0, 2.0))) // dim-mismatch -> _rejects
        q.processAllAvailable()
        assert(e1.storage.tableExists("svc_answers"))
        assert(e1.storage.tableExists("svc_answers_rejects"))
        // the fence keys off the CLAIM, not a table-name list: the
        // caller-named sink and its quarantine log are both refused
        val r1 = intercept[IllegalStateException] {
          e1.sql("OPTIMIZE svc_answers")
        }
        assert(r1.getMessage.contains("serve:svc_answers"),
          s"fence must name the owning stream: ${r1.getMessage}")
        intercept[IllegalStateException] {
          e1.sql("OPTIMIZE svc_answers_rejects")
        }
        intercept[IllegalStateException] {
          e1.sql("DELETE FROM svc_answers WHERE q_id = 0")
        }
        intercept[IllegalStateException] {
          e1.sql("INSERT INTO svc_answers SELECT * FROM svc_answers " +
            "WHERE 1 = 0")
        }
        // DROP deletes the manifests mid-append — fenced the same way
        intercept[IllegalStateException] {
          e1.sql("DROP TABLE svc_answers")
        }
        // SHOW SINKS surfaces the claims BEFORE an operator hits the
        // refusal: both the sink and its quarantine log, by owner
        val sinks = e1.sql("SHOW SINKS").collect()
          .map(r => (r.getString(0), r.getString(1))).toSet
        assert(sinks == Set(
          ("svc_answers", "serve:svc_answers"),
          ("svc_answers_rejects", "serve:svc_answers")),
          s"SHOW SINKS listed: $sinks")
        // EXPLAIN only builds the frame — it passes while the twin runs
        assert(e1.sql("EXPLAIN DELETE FROM svc_answers WHERE q_id = 0")
          .columns.sameElements(Array("plan")))
      } finally q.stop()
      // release rides the termination listener (async) — eventually the
      // claim is gone and maintenance is legal again
      eventuallyAllowed() { e1.sql("OPTIMIZE svc_answers") }
      e1.sql("OPTIMIZE svc_answers_rejects")
      // dead-claim path: a hard-killed twin leaves its claim; the fence
      // refuses until the operator releases it DELIBERATELY
      e1.storage.claimSink("svc_answers", "serve:ghost_twin")
      intercept[IllegalStateException] { e1.sql("OPTIMIZE svc_answers") }
      val rel = e1.sql("RELEASE SINK svc_answers FORCE").head.getString(0)
      assert(rel.contains("released") && rel.contains("serve:ghost_twin"))
      e1.sql("OPTIMIZE svc_answers") // fence open again
      // no claim -> RELEASE is an error, not a silent no-op
      intercept[IllegalArgumentException] {
        e1.sql("RELEASE SINK svc_answers FORCE")
      }
      // FORCE is grammar-mandatory: the bare form is malformed, caught by
      // the engine-only head guard (never falls through to spark.sql)
      val bare = intercept[IllegalArgumentException] {
        e1.sql("RELEASE SINK svc_answers")
      }
      assert(bare.getMessage.contains("malformed"))
      // two DIFFERENT twins targeting one sink table: the second claim is
      // refused (single-writer), while the SAME owner re-claims freely
      // (a crashed twin's own restart)
      e1.storage.claimSink("svc_answers", "serve:svc_answers")
      e1.storage.claimSink("svc_answers", "serve:svc_answers") // idempotent
      val clash = intercept[IllegalStateException] {
        e1.storage.claimSink("svc_answers", "decontam:svc_answers")
      }
      assert(clash.getMessage.contains("serve:svc_answers"))
      e1.storage.releaseSink("svc_answers")
      // a claim on a NOT-yet-created table (a twin about to create its
      // sink from the first batch) fences CREATE too
      e1.storage.claimSink("pending_sink", "serve:pending_sink")
      intercept[IllegalStateException] {
        e1.sql("CREATE COLSTORE pending_sink AS SELECT 1 AS x")
      }
      e1.storage.releaseSink("pending_sink")
      e1.sql("CREATE COLSTORE pending_sink AS SELECT 1 AS x")
      e1.sql("DROP TABLE pending_sink")
    } finally {
      operators.VectorIndex.drop(spark, e1.storage)
      e1.close()
    }
  }

  test("legacy-warehouse fence migration: a registration written before " +
      "sink claims existed (registry entry, no _sink_claims) re-fences " +
      "at engine construction — OPTIMIZE/DML on the gate's log tables " +
      "are refused on the new engine without resuming the gate") {
    import spark.implicits._
    val wh = freshWh("legacyfence")
    val e1 = new Engine(spark, d, wh)
    val watch = Files.createTempDirectory("graft_lf_watch").toString
    try {
      e1.sql("BUILD DEDUP INDEX ON documents")
      Seq(7600001L -> ("the amber lighthouse keeper walks a winding " +
        "cliff path toward the harbor beacon every misty evening"))
        .toDF("doc_id", "text").write.mode("append").parquet(watch)
      e1.sql(s"START ADMIT INGEST FROM '$watch' AS gate")
      e1.ingestQuery("gate").get.processAllAvailable()
      e1.close() // session dies; registration survives
      // simulate a PRE-CLAIM warehouse: wipe _sink_claims entirely (an
      // older engine never wrote them), keep the registration
      val claims = Paths.get(wh, "_sink_claims")
      Option(claims.toFile.listFiles()).getOrElse(Array.empty)
        .foreach { f => f.delete(); () }
      val e2 = new Engine(spark, d, wh) // construction re-establishes
      assert(e2.storage.sinkOwner("ingest_verdicts")
        .contains("ingest:ADMIT"),
        "construction did not re-establish the legacy gate's sink claims")
      intercept[IllegalStateException] {
        e2.sql("OPTIMIZE ingest_verdicts")
      }
      intercept[IllegalStateException] {
        e2.sql("DELETE FROM ingest_verdicts WHERE doc_id = 0")
      }
      // STOP releases registration AND claims together
      e2.sql("STOP INGEST gate FORCE")
      assert(e2.storage.sinkOwner("ingest_verdicts").isEmpty)
      e2.sql("OPTIMIZE ingest_verdicts") // legal again
      e2.sql("DROP DEDUP INDEX ON documents")
      e2.close()
    } finally {
      try {
        val ec = new Engine(spark, d, wh)
        ec.sql("DROP DEDUP INDEX ON documents"); ec.close()
      } catch { case _: Throwable => () }
      e1.close()
    }
  }

  test("sink-claim race: two threads claiming one table for DIFFERENT " +
      "owners — exactly one wins every round (link(2) EEXIST is the " +
      "exclusion; a rename-based claim would let both through)") {
    val cmds = new commands.TableCommands(spark, freshWh("claimrace"))
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    try {
      (1 to 20).foreach { round =>
        val tbl = s"raced_$round"
        val gate = new CountDownLatch(1)
        def racer(owner: String) =
          pool.submit(new java.util.concurrent.Callable[Boolean] {
            def call(): Boolean = {
              gate.await()
              try { cmds.claimSink(tbl, owner); true }
              catch { case _: IllegalStateException => false }
            }
          })
        val fa = racer("serve:a")
        val fb = racer("decontam:b")
        gate.countDown()
        val wins = Seq(fa, fb).map(_.get(30, TimeUnit.SECONDS))
          .count(identity)
        assert(wins == 1,
          s"round $round: $wins winners (must be exactly 1); owner on " +
            s"disk: ${cmds.sinkOwner(tbl)}")
        // and the file content is EXACTLY the winner's tag, never a
        // half-write or the loser's clobber
        assert(Set("serve:a", "decontam:b")
          .contains(cmds.sinkOwner(tbl).get))
      }
    } finally { pool.shutdown(); () }
  }

  test("late-release safety: a predecessor twin's ASYNC release cannot " +
      "unfence its successor — a same-owner re-claim replaces the claim " +
      "nonce, and releaseSinkIfRun honors only the current one") {
    val cmds = new commands.TableCommands(spark, freshWh("nonce"))
    val n1 = cmds.claimSink("t", "serve:t")
    val n2 = cmds.claimSink("t", "serve:t") // successor instance re-claims
    assert(n1 != n2)
    // the predecessor's termination listener fires LATE (after the
    // successor started): its release must be a no-op
    cmds.releaseSinkIfRun("t", n1)
    assert(cmds.sinkOwner("t").contains("serve:t"),
      "late release dropped the successor's live claim - fence open")
    cmds.releaseSinkIfRun("t", n2) // the successor's own release works
    assert(cmds.sinkOwner("t").isEmpty)
    // the deliberate-operator release (RELEASE SINK ... FORCE / STOP
    // INGEST) stays unconditional
    cmds.claimSink("t", "serve:t")
    cmds.releaseSink("t")
    assert(cmds.sinkOwner("t").isEmpty)
  }

  test("torn-pair PURGE refusal: a crash between the codes and assign " +
      "appends of one micro-batch blocks STOP ... PURGE until a replay " +
      "heals the pair — the checkpoint (the only healer) cannot be " +
      "deleted out from under a torn batch") {
    import spark.implicits._
    val wh = freshWh("torn")
    val e1 = new Engine(spark, d, wh)
    val dirA = Files.createTempDirectory("graft_torn_a").toString
    try {
      e1.sql("BUILD VECTOR INDEX ON embeddings")
      val base = spark.read.parquet(s"$d/embeddings.parquet")
        .select(col("embedding")).head.getSeq[Float](0)
      Seq(9500001L -> base.map(_ + 0.01f)).toDF("vec_id", "embedding")
        .write.mode("append").parquet(dirA)
      e1.sql(s"START VECTOR INGEST FROM '$dirA' AS vgate")
      e1.ingestQuery("vgate").get.processAllAvailable()
      e1.close() // session dies; registration + checkpoint survive
      val e2 = new Engine(spark, d, wh)
      val cmds = e2.storage
      val codesT = operators.VectorIndex.tableName("codes")
      val assignT = operators.VectorIndex.tableName("assign")
      assert(cmds.lastCommittedBatch(codesT) ==
        cmds.lastCommittedBatch(assignT))
      // plant the REAL torn state: replay batch 1 through the gate kernel
      // with a crash armed AFTER the codes publish — codes commits batch
      // 1, assign never runs (exactly what a process kill between the
      // paired appends leaves)
      val model = streaming.VectorStreams.freeze(
        cmds.table(operators.VectorIndex.tableName("centroids")),
        cmds.table(operators.VectorIndex.tableName("codebook")))
      val batch1 = Seq(9500002L -> base.map(_ + 0.02f))
        .toDF("vec_id", "embedding")
      cmds.crashPoint = Some("published")
      intercept[IllegalStateException] {
        streaming.VectorStreams.ingestBatch(batch1, cmds, model, 1L)
      }
      cmds.crashPoint = None
      assert(cmds.lastCommittedBatch(codesT).contains(1L) &&
        cmds.lastCommittedBatch(assignT).contains(0L),
        "fixture failed to tear the pair")
      // the purge is REFUSED while torn — deleting the checkpoint here
      // would discard the only replay that can heal assign
      val refused = intercept[IllegalStateException] {
        e2.sql("STOP INGEST vgate FORCE PURGE")
      }
      assert(refused.getMessage.contains("torn"),
        s"wrong refusal: ${refused.getMessage}")
      // the directed recovery: the replay (Spark would re-run batch 1 on
      // resume; here the kernel is driven directly) heals the pair —
      // codes skips its marker, assign catches up, rows land exactly once
      streaming.VectorStreams.ingestBatch(batch1, cmds, model, 1L)
      assert(cmds.lastCommittedBatch(codesT) ==
        cmds.lastCommittedBatch(assignT))
      val counts = Seq(codesT, assignT).map(t => cmds.table(t)
        .filter(col("vec_id") >= 9500000L).count())
      assert(counts == Seq(2L, 2L),
        s"heal lost or duplicated rows: $counts")
      // now the purge completes
      assert(e2.sql("STOP INGEST vgate FORCE PURGE").head.getString(0)
        .contains("purged"))
      e2.sql("DROP VECTOR INDEX ON embeddings")
      e2.close()
    } finally {
      try {
        val ec = new Engine(spark, d, wh)
        ec.sql("DROP VECTOR INDEX ON embeddings"); ec.close()
      } catch { case _: Throwable => () }
      e1.close()
    }
  }

  test("idle-proof heartbeat: a LIVE gate watching a quiet directory " +
      "keeps its claim fresh (onQueryIdle beats), so heartbeat_age_sec " +
      "never recommends FORCE-releasing a live claim; a genuinely dead " +
      "session's age grows") {
    import spark.implicits._
    val wh = freshWh("idlehb")
    val e1 = new Engine(spark, d, wh)
    val watch = Files.createTempDirectory("graft_idlehb_watch").toString
    val confKey = "spark.sql.streaming.noDataProgressEventInterval"
    val oldConf = spark.conf.getOption(confKey)
    try {
      spark.conf.set(confKey, "500ms") // idle events every 0.5 s
      e1.sql("BUILD DEDUP INDEX ON documents")
      Seq(7300001L -> ("the amber lighthouse keeper walks a winding " +
        "cliff path toward the harbor beacon every misty evening"))
        .toDF("doc_id", "text").write.mode("append").parquet(watch)
      e1.sql(s"START ADMIT INGEST FROM '$watch' AS gate")
      e1.ingestQuery("gate").get.processAllAvailable()
      // the source goes QUIET: no new files, so foreachBatch never runs
      // again. Plant a stale mtime on the claim — the LIVE gate's idle
      // beat must refresh it within a few idle intervals, keeping the
      // age an operator reads bounded.
      val claim = Paths.get(wh, "_ingest_registry", "kind.admit")
      assert(Files.exists(claim))
      def plantStale(): Unit = {
        Files.setLastModifiedTime(claim,
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis() - 7200000L)); ()
      }
      def shownAge(): Long =
        e1.sql("SHOW INGESTS").collect().head.getLong(4)
      plantStale()
      assert(shownAge() >= 7000L, "fixture mtime plant failed")
      val deadline = System.currentTimeMillis() + 20000L
      var age = shownAge()
      while (age >= 7000L && System.currentTimeMillis() < deadline) {
        Thread.sleep(200); age = shownAge()
      }
      assert(age < 7000L,
        s"idle-but-LIVE gate never beat its claim (age still $age s) - " +
          "SHOW INGESTS would wrongly recommend STOP ... FORCE")
      // a DEAD session stops beating: age grows unbounded from the plant
      e1.close()
      plantStale()
      Thread.sleep(2000)
      val e2 = new Engine(spark, d, wh)
      val deadAge = e2.sql("SHOW INGESTS").collect().head.getLong(4)
      assert(deadAge >= 7000L,
        s"dead claim read fresh ($deadAge s) - liveness evidence broken")
      e2.sql("STOP INGEST gate FORCE")
      e2.sql("DROP DEDUP INDEX ON documents")
      e2.close()
    } finally {
      oldConf match {
        case Some(v) => spark.conf.set(confKey, v)
        case None => spark.conf.unset(confKey)
      }
      try {
        val ec = new Engine(spark, d, wh)
        ec.sql("DROP DEDUP INDEX ON documents"); ec.close()
      } catch { case _: Throwable => () }
      e1.close()
    }
  }

  test("VERIFY index audits: duplicate ids, broken assign/codes nesting " +
      "and orphaned band rows are reported; a clean index passes") {
    import spark.implicits._
    val e1 = new Engine(spark, d, freshWh("verifyidx"))
    val cmds = e1.storage
    val codesT = operators.VectorIndex.tableName("codes")
    val assignT = operators.VectorIndex.tableName("assign")
    val bandsT = operators.DedupIndex.tableName("bands")
    try {
      e1.sql("BUILD VECTOR INDEX ON embeddings")
      e1.sql("BUILD DEDUP INDEX ON documents")
      // clean warehouse: both audits pass and say so
      assert(e1.sql(s"VERIFY $codesT").head.getString(0)
        .contains("invariants hold"))
      assert(e1.sql(s"VERIFY $bandsT").head.getString(0)
        .contains("invariants hold"))
      // duplicate vec_id (the re-ingest signature): VERIFY reports it
      cmds.insertInto(codesT, cmds.table(codesT).limit(1))
      val dup = intercept[IllegalStateException] {
        e1.sql(s"VERIFY $codesT")
      }
      assert(dup.getMessage.contains("duplicated vec_id"),
        s"wrong audit: ${dup.getMessage}")
      // heal by rebuild, then break NESTING: an assign row with no codes
      // row (appends commit codes first, so assign must never lead)
      e1.sql("BUILD VECTOR INDEX ON embeddings")
      cmds.insertInto(assignT, Seq((999999999L, 0))
        .toDF("vec_id", "cluster")
        .select(cmds.table(assignT).schema.fields.toSeq.map(f =>
          col(f.name).cast(f.dataType)): _*))
      val nest = intercept[IllegalStateException] {
        e1.sql(s"VERIFY $assignT")
      }
      assert(nest.getMessage.contains("nesting violated"),
        s"wrong audit: ${nest.getMessage}")
      // band orphan: a doc_id neither in the built corpus nor admitted
      e1.sql("BUILD VECTOR INDEX ON embeddings")
      cmds.insertInto(bandsT, cmds.table(bandsT).limit(1)
        .withColumn("doc_id", lit(888888888L))
        .select(cmds.table(bandsT).schema.fields.toSeq.map(f =>
          col(f.name).cast(f.dataType)): _*))
      val orphan = intercept[IllegalStateException] {
        e1.sql(s"VERIFY $bandsT")
      }
      assert(orphan.getMessage.contains("orphaned"),
        s"wrong audit: ${orphan.getMessage}")
      // duplicate band row (set-ness): plant an exact copy
      e1.sql("BUILD DEDUP INDEX ON documents")
      cmds.insertInto(bandsT, cmds.table(bandsT).limit(1))
      val dupBand = intercept[IllegalStateException] {
        e1.sql(s"VERIFY $bandsT")
      }
      assert(dupBand.getMessage.contains("duplicated (doc_id"),
        s"wrong audit: ${dupBand.getMessage}")
    } finally {
      try e1.sql("DROP VECTOR INDEX ON embeddings")
      catch { case _: Throwable => () }
      try e1.sql("DROP DEDUP INDEX ON documents")
      catch { case _: Throwable => () }
      e1.close()
    }
  }

  test("full composition: ADMIT gate, VECTOR gate and a SERVE twin run " +
      "SIMULTANEOUSLY on one warehouse — seven independent claims, " +
      "per-table fences; stopping each stream releases only its own " +
      "claims; all three stay exactly-once") {
    import spark.implicits._
    val wh = freshWh("dual")
    val e1 = new Engine(spark, d, wh)
    val dirD = Files.createTempDirectory("graft_dual_docs").toString
    val dirV = Files.createTempDirectory("graft_dual_vecs").toString
    try {
      e1.sql("BUILD DEDUP INDEX ON documents")
      e1.sql("BUILD VECTOR INDEX ON embeddings")
      Seq(8900001L -> ("the amber lighthouse keeper walks a winding " +
        "cliff path toward the harbor beacon every misty evening"))
        .toDF("doc_id", "text").write.mode("append").parquet(dirD)
      val base = spark.read.parquet(s"$d/embeddings.parquet")
        .select(col("embedding")).head.getSeq[Float](0)
      Seq(8900002L -> base.map(_ + 0.01f)).toDF("vec_id", "embedding")
        .write.mode("append").parquet(dirV)
      e1.sql(s"START ADMIT INGEST FROM '$dirD' AS dgate")
      e1.sql(s"START VECTOR INGEST FROM '$dirV' AS vgate")
      e1.ingestQuery("dgate").get.processAllAvailable()
      e1.ingestQuery("vgate").get.processAllAvailable()
      val shown = e1.sql("SHOW INGESTS").collect()
        .map(r => (r.getString(0), r.getBoolean(1), r.getString(2)))
        .toSet
      assert(shown == Set(("dgate", true, "admit"),
        ("vgate", true, "vector")), s"SHOW INGESTS: $shown")
      // a SERVE twin joins the two gates on the same warehouse
      val dirQ = Files.createTempDirectory("graft_dual_queries").toString
      spark.read.parquet(s"$d/embeddings.parquet")
        .filter(col("vec_id") < 1)
        .selectExpr("vec_id AS q_id", "embedding")
        .write.mode("append").parquet(dirQ)
      e1.sql(s"START SERVE VECTORS FROM '$dirQ' INTO svc_dual")
      e1.serveQuery("svc_dual").get.processAllAvailable()
      // seven independent sink claims, split by owner
      val sinks = e1.sql("SHOW SINKS").collect()
        .map(r => (r.getString(0), r.getString(1))).toMap
      assert(sinks == Map(
        "ingest_verdicts" -> "ingest:ADMIT",
        operators.DedupIndex.tableName("bands") -> "ingest:ADMIT",
        operators.VectorIndex.tableName("codes") -> "ingest:VECTOR",
        operators.VectorIndex.tableName("assign") -> "ingest:VECTOR",
        "vector_ingest_rejects" -> "ingest:VECTOR",
        "svc_dual" -> "serve:svc_dual",
        "svc_dual_rejects" -> "serve:svc_dual"),
        s"SHOW SINKS: $sinks")
      intercept[IllegalStateException] {
        e1.sql("OPTIMIZE ingest_verdicts")
      }
      intercept[IllegalStateException] {
        e1.sql(s"OPTIMIZE ${operators.VectorIndex.tableName("codes")}")
      }
      intercept[IllegalStateException] { e1.sql("OPTIMIZE svc_dual") }
      // transactions exclude live streams: ROLLBACK would restore the
      // sinks' pointers under all three of them
      val txnErr = intercept[IllegalArgumentException](e1.sql("BEGIN"))
      assert(txnErr.getMessage.contains("live streams"), txnErr.getMessage)
      // stopping the ADMIT gate releases ONLY the ADMIT claims
      e1.sql("STOP INGEST dgate")
      e1.sql("OPTIMIZE ingest_verdicts") // released
      intercept[IllegalStateException] { // vector still fenced
        e1.sql(s"OPTIMIZE ${operators.VectorIndex.tableName("codes")}")
      }
      intercept[IllegalStateException] { // serve still fenced
        e1.sql("OPTIMIZE svc_dual")
      }
      e1.sql("STOP INGEST vgate")
      e1.sql(s"OPTIMIZE ${operators.VectorIndex.tableName("assign")}")
      intercept[IllegalStateException] { // serve STILL fenced
        e1.sql("OPTIMIZE svc_dual")
      }
      e1.sql("STOP SERVE svc_dual")
      eventuallyAllowed() { e1.sql("OPTIMIZE svc_dual") }
      val leaked = System.currentTimeMillis() + 15000L
      while (e1.sql("SHOW SINKS").collect().nonEmpty &&
          System.currentTimeMillis() < leaked)
        Thread.sleep(100)
      assert(e1.sql("SHOW SINKS").isEmpty, "claims leaked after stops")
      // all three streams committed exactly once
      assert(e1.storage.table("ingest_verdicts")
        .filter(col("doc_id") === 8900001L).count() == 1L)
      assert(e1.storage
        .table(operators.VectorIndex.tableName("codes"))
        .filter(col("vec_id") === 8900002L).count() == 1L)
      assert(e1.storage.table("svc_dual").select("q_id").distinct()
        .count() == 1L)
      e1.sql("DROP DEDUP INDEX ON documents")
      e1.sql("DROP VECTOR INDEX ON embeddings")
    } finally e1.close()
  }

  test("orphaned claim tmp sweep: a stale kind/sink claim tmp (crash " +
      "between write and link) is removed at engine construction; a " +
      "fresh one (a racing START's in-flight claim) survives") {
    val wh = freshWh("tmpsweep")
    val reg = Paths.get(wh, "_ingest_registry")
    val sink = Paths.get(wh, "_sink_claims")
    Files.createDirectories(reg)
    Files.createDirectories(sink)
    val oldTs = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 7200000L) // 2 h: past the 1 h gate
    val staleReg = reg.resolve("kind.gate.deadbeef.tmp")
    val staleSink = sink.resolve("answers.deadbeef.tmp")
    val freshReg = reg.resolve("kind.gate.cafebabe.tmp")
    Seq(staleReg, staleSink, freshReg).foreach(p =>
      Files.writeString(p, "x"))
    Seq(staleReg, staleSink).foreach(p =>
      Files.setLastModifiedTime(p, oldTs))
    val e1 = new Engine(spark, d, wh)
    try {
      assert(!Files.exists(staleReg), "stale registry tmp not swept")
      assert(!Files.exists(staleSink), "stale sink-claim tmp not swept")
      assert(Files.exists(freshReg),
        "fresh tmp swept - a racing START's claim would be destroyed")
      // and tmp files never surface as registrations either way
      assert(e1.sql("SHOW INGESTS").isEmpty)
    } finally e1.close()
  }

  test("symlinked retired directory: a symlink to a PURGE-retired source " +
      "resolves to the same files and is refused like the original path") {
    import spark.implicits._
    val wh = freshWh("symret")
    val e1 = new Engine(spark, d, wh)
    val dirA = Files.createTempDirectory("graft_symret_a").toString
    try {
      e1.sql("BUILD DEDUP INDEX ON documents")
      Seq(7400001L -> ("a patient cartographer sketches the forgotten " +
        "valley rivers onto vellum beneath a flickering lantern glow"))
        .toDF("doc_id", "text").write.mode("append").parquet(dirA)
      e1.sql(s"START ADMIT INGEST FROM '$dirA' AS gate")
      e1.ingestQuery("gate").get.processAllAvailable()
      e1.sql("STOP INGEST gate PURGE")
      val link = Paths.get(
        Files.createTempDirectory("graft_symret_l").toString, "alias")
      Files.createSymbolicLink(link, Paths.get(dirA))
      val refused = intercept[IllegalArgumentException] {
        e1.sql(s"START ADMIT INGEST FROM '$link' AS gate")
      }
      assert(refused.getMessage.contains("retired"),
        s"symlink sidestepped the retired check: ${refused.getMessage}")
      e1.sql("DROP DEDUP INDEX ON documents")
    } finally e1.close()
  }

  test("COMPACT EVERY n BATCHES THRESHOLD m MB: the graduation size " +
      "reaches the in-gate compaction; malformed forms error crisply; " +
      "the default is unchanged") {
    import spark.implicits._
    val wh = freshWh("thresh")
    val e1 = new Engine(spark, d, wh)
    val watch = Files.createTempDirectory("graft_thresh_watch").toString
    try {
      e1.sql("BUILD DEDUP INDEX ON documents")
      // malformed THRESHOLD forms never fall through to spark.sql
      val bad = intercept[IllegalArgumentException] {
        e1.sql(s"START ADMIT INGEST FROM '$watch' AS gate " +
          "COMPACT EVERY 1 BATCHES THRESHOLD x MB")
      }
      assert(bad.getMessage.contains("malformed"))
      val zero = intercept[IllegalArgumentException] {
        e1.sql(s"START ADMIT INGEST FROM '$watch' AS gate " +
          "COMPACT EVERY 1 BATCHES THRESHOLD 0 MB")
      }
      assert(zero.getMessage.contains(">= 1"))
      // functional: a 1 MB graduation threshold still merges the tiny
      // per-batch files (all < 1 MB), and the gate's answers stay
      // exactly-once across the compactions
      e1.sql(s"START ADMIT INGEST FROM '$watch' AS gate " +
        "COMPACT EVERY 1 BATCHES THRESHOLD 1 MB")
      val texts = Seq(
        7500001L -> ("the amber lighthouse keeper walks a winding cliff " +
          "path toward the harbor beacon every misty evening"),
        7500002L -> ("an elderly clockmaker repairs the tower bells " +
          "above the quiet market square during every autumn festival " +
          "week"))
      texts.foreach { case (id, t) =>
        Seq(id -> t).toDF("doc_id", "text")
          .write.mode("append").parquet(watch)
        e1.ingestQuery("gate").get.processAllAvailable()
      }
      val admitted = e1.storage.table("ingest_verdicts")
        .filter(col("admitted")).groupBy(col("doc_id")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(admitted == Map(7500001L -> 1L, 7500002L -> 1L),
        s"threshold-compacting gate lost or duplicated: $admitted")
      // the verdict log's live version holds few data files (merged tail)
      val live = Paths.get(e1.storage.dataPath("ingest_verdicts"))
      val nFiles = Option(live.toFile.listFiles()).get.count(f =>
        f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))
      assert(nFiles <= 2, s"tail not merged under THRESHOLD 1 MB: $nFiles")
      e1.sql("STOP INGEST gate")
      e1.sql("DROP DEDUP INDEX ON documents")
    } finally e1.close()
  }

  test("LOAD INTO a claimed sink is refused while the claim is live " +
      "(the one DML-shaped verb outside localName), allowed after " +
      "release") {
    val e1 = new Engine(spark, d, freshWh("loadfence"))
    try {
      val csv = Files.createTempFile("graft_loadfence", ".csv")
      Files.writeString(csv, "id,v\n1,a\n")
      val csv2 = Files.createTempFile("graft_loadfence2", ".csv")
      Files.writeString(csv2, "id,v\n2,b\n")
      e1.sql(s"CREATE COLSTORE lf_t FROM '$csv'")
      // plant the claim a live twin would hold over its caller-named sink
      val nonce = e1.storage.claimSink("lf_t", "serve:lf_t")
      val err = intercept[IllegalStateException](
        e1.sql(s"LOAD '$csv2' INTO lf_t"))
      assert(err.getMessage.contains("LOAD INTO") &&
        err.getMessage.contains("serve:lf_t"), err.getMessage)
      // the refused LOAD must not have appended
      assert(e1.sql("SELECT COUNT(*) AS n FROM lf_t").head().getLong(0)
        == 1L)
      e1.storage.releaseSinkIfRun("lf_t", nonce)
      e1.sql(s"LOAD '$csv2' INTO lf_t")
      assert(e1.sql("SELECT COUNT(*) AS n FROM lf_t").head().getLong(0)
        == 2L)
      e1.sql("DROP TABLE lf_t")
    } finally e1.close()
  }

  test("claim lock: a predecessor's late nonce release never drops a " +
      "successor's re-claim, two engines over one warehouse serialize " +
      "instead of deadlocking on the non-reentrant file lock, foreign " +
      "owners stay excluded, and the .lock file is not listed as a " +
      "claim") {
    val wh = freshWh("claimlock")
    val c1 = new commands.TableCommands(spark, wh)
    val c2 = new commands.TableCommands(spark, wh) // second in-process engine
    // deterministic core: a re-claim REPLACES the nonce, so the
    // predecessor's late release is a no-op while the current nonce's
    // release clears the claim
    val n1 = c1.claimSink("t_sink", "serve:t_sink")
    val n2 = c2.claimSink("t_sink", "serve:t_sink") // successor re-claim
    c1.releaseSinkIfRun("t_sink", n1)               // late async release
    assert(c1.sinkOwner("t_sink").contains("serve:t_sink"),
      "a late release with a stale nonce dropped the successor's claim")
    c2.releaseSinkIfRun("t_sink", n2)
    assert(c1.sinkOwner("t_sink").isEmpty)
    // foreign exclusion survives the re-claim path
    c1.claimSink("excl_t", "serve:a")
    intercept[IllegalStateException](c2.claimSink("excl_t", "decontam:b"))
    c1.releaseSink("excl_t")
    // concurrency soak over the locked ops: same-owner claim/late-release
    // storms from two engines; the lock serializes the check-then-act
    // pairs, so the final state is exactly the last logical operation's
    import java.util.concurrent.Executors
    val pool = Executors.newFixedThreadPool(8)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (0 until 8).foreach { i =>
      pool.submit(new Runnable {
        override def run(): Unit =
          try {
            val cmds = if (i % 2 == 0) c1 else c2
            (0 until 40).foreach { _ =>
              val n = cmds.claimSink("soak_t", "serve:soak_t")
              cmds.releaseSinkIfRun("soak_t", n)
            }
          } catch { case t: Throwable => errs.add(t); () }
      })
    }
    pool.shutdown()
    assert(pool.awaitTermination(120, java.util.concurrent.TimeUnit.SECONDS))
    assert(errs.isEmpty, s"claim soak threw: ${Option(errs.peek())}")
    // whatever interleaving won, the table is claimable and releasable
    val nFinal = c1.claimSink("soak_t", "serve:soak_t")
    assert(c2.sinkOwner("soak_t").contains("serve:soak_t"))
    c1.releaseSinkIfRun("soak_t", nFinal)
    assert(c1.sinkOwner("soak_t").isEmpty)
    // the advisory .lock file is fence plumbing, never a listed claim
    assert(Files.exists(Paths.get(wh, "_sink_claims", ".lock")))
    assert(!c1.sinkClaims.exists(_._1.startsWith(".")))
  }

  test("transactions and live streams exclude each other: BEGIN refuses " +
      "while any sink claim exists (ROLLBACK would restore the sink's " +
      "pointer under the stream, losing committed batches), and a " +
      "stream's claim refuses inside an open transaction") {
    val wh = freshWh("txnstream")
    val cmds = new commands.TableCommands(spark, wh)
    val n = cmds.claimSink("txs_t", "serve:txs_t")
    val err = intercept[IllegalArgumentException](cmds.begin())
    assert(err.getMessage.contains("txs_t") &&
      err.getMessage.contains("losing committed batches"), err.getMessage)
    cmds.releaseSinkIfRun("txs_t", n)
    // with claims gone BEGIN opens; a stream start inside it is refused
    cmds.begin()
    val err2 = intercept[IllegalArgumentException](
      cmds.claimSink("txs_t", "serve:txs_t"))
    assert(err2.getMessage.contains("transaction is open"))
    cmds.rollback()
    val n2 = cmds.claimSink("txs_t", "serve:txs_t") // fine again
    cmds.releaseSinkIfRun("txs_t", n2)
  }

  test("txn/stream exclusion is RACE-FREE: BEGIN's claims-empty check and " +
      "claimSink's txn-open check serialize on the claim lock, so two " +
      "threads hammering both can never land a claim inside an open " +
      "transaction (the unlocked check-then-act let a claim slip between " +
      "BEGIN's check and its snapshot assignment — and, worse, between " +
      "ROLLBACK's snapshot clear and its pointer restores)") {
    val wh = freshWh("txnrace")
    val cmds = new commands.TableCommands(spark, wh)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val violation = new java.util.concurrent.atomic.AtomicReference[String]()
    val claimer = new Thread(() => {
      while (!stop.get()) {
        try {
          val n = cmds.claimSink("race_sink", "serve:race_sink")
          cmds.releaseSinkIfRun("race_sink", n)
        } catch {
          case e: IllegalArgumentException
              if e.getMessage.contains("transaction is open") => ()
        }
      }
    }, "txnrace-claimer")
    claimer.start()
    try {
      (1 to 200).foreach { _ =>
        try {
          cmds.begin()
          // the invariant: once BEGIN returned, no claim may exist (a
          // pre-BEGIN claim would have refused BEGIN; a post-BEGIN
          // claimSink sees the open txn under the same lock and refuses)
          val live = cmds.sinkClaims
          if (live.nonEmpty)
            violation.compareAndSet(null,
              s"claim(s) ${live.map(_._1).mkString(",")} live inside " +
                "an open transaction")
          cmds.rollback()
        } catch {
          case e: IllegalArgumentException
              if e.getMessage.contains("live streams") => ()
        }
      }
    } finally { stop.set(true); claimer.join(10000) }
    assert(violation.get() == null, String.valueOf(violation.get()))
    // and the final state is clean: no txn, no claim
    val n = cmds.claimSink("race_sink", "serve:race_sink")
    cmds.releaseSinkIfRun("race_sink", n)
  }

  test("stream sinks default a 5-version retain window at claim time " +
      "(the reader-vs-sweep grace every continuously-appended table " +
      "needs) and an operator's explicit RETAIN is never overridden") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val wh = freshWh("retaindft")
    val cmds = new commands.TableCommands(spark, wh)
    // the operator pre-chose a window on one sink; the other is fresh
    cmds.setRetainAhead("rt_custom", 2)
    val src = MemoryStream[(Long, String)]
    val q = streaming.WarehouseSink.start(
      src.toDF().toDF("id", "v"), cmds, "rt_sink")
    val q2 = streaming.WarehouseSink.start(
      src.toDF().toDF("id", "v"), cmds, "rt_custom")
    try {
      src.addData((1L, "a")); q.processAllAvailable()
      q2.processAllAvailable()
      assert(Files.readString(
        Paths.get(wh, "rt_sink", "RETAIN")).trim == "5",
        "fresh stream sink did not get the default retain window")
      assert(Files.readString(
        Paths.get(wh, "rt_custom", "RETAIN")).trim == "2",
        "an explicit RETAIN was overridden by the stream default")
      // the pre-seeded dir publishes normally (first batch created the
      // table around the waiting RETAIN file)
      assert(cmds.table("rt_sink").count() == 1L)
    } finally { q.stop(); q2.stop() }
  }

  test("CROSS-PROCESS claim exclusivity: two child JVMs hammering " +
      "claimSink on one table never hold the single-writer claim " +
      "together (the in-JVM race specs serialize on the shared monitor " +
      "before the FileChannel lock is touched — only separate processes " +
      "contend on the link(2)-create + advisory-lock primitive itself)") {
    val wh = freshWh("xproc")
    val scratch = Files.createTempDirectory("graft_xproc_scratch")
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    def spawn(owner: String): Process = new ProcessBuilder(
      javaBin, "-cp", cp, "graft.ClaimHammer",
      wh, owner, "300", scratch.toString)
      .redirectErrorStream(true)
      .redirectOutput(scratch.resolve(s"out.$owner").toFile)
      .start()
    val pa = spawn("hammer_a")
    val pb = spawn("hammer_b")
    assert(pa.waitFor(180, java.util.concurrent.TimeUnit.SECONDS) &&
      pb.waitFor(180, java.util.concurrent.TimeUnit.SECONDS),
      "claim hammer child JVM(s) hung")
    def childLog(o: String): String =
      try Files.readString(scratch.resolve(s"out.$o")).takeRight(500)
      catch { case _: java.io.IOException => "<no output>" }
    assert(pa.exitValue == 0 && pb.exitValue == 0,
      s"child exit codes ${pa.exitValue}/${pb.exitValue}; " +
        s"a: ${childLog("hammer_a")}; b: ${childLog("hammer_b")}")
    val violation = scratch.resolve("VIOLATION")
    if (Files.exists(violation))
      fail("two processes held the single-writer claim together: " +
        Files.readString(violation))
    // both children actually acquired the claim (the test isn't vacuous)
    Seq("hammer_a", "hammer_b").foreach { o =>
      val Array(wins, _) =
        Files.readString(scratch.resolve(s"wins.$o")).trim.split(" ")
      assert(wins.toLong > 0, s"$o never won the claim - no contention " +
        "was exercised")
    }
    // and the warehouse ends clean: no claim left behind
    val cmds = new commands.TableCommands(spark, wh)
    assert(cmds.sinkOwner("xproc_sink").isEmpty)
  }

  test("a twin whose query DIES (not stopped) releases its sink claims " +
      "via the termination listener, so the fence lifts without " +
      "RELEASE ... FORCE") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val wh = freshWh("dieclaim")
    val cmds = new commands.TableCommands(spark, wh)
    // pre-create the sink with a NOT NULL constraint the twin's first
    // batch violates: the append throws inside foreachBatch and the
    // query dies with an error (not a stop)
    cmds.createEmpty("dies_t",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.StringType))),
      notNull = Seq("v"))
    val src = MemoryStream[(Int, String)]
    val q = streaming.WarehouseSink.start(
      src.toDS().toDF("id", "v"), cmds, "dies_t")
    assert(cmds.sinkOwner("dies_t").contains("sink:dies_t"))
    src.addData((1, null))
    intercept[Throwable] { q.processAllAvailable() }
    assert(!q.isActive, "a NOT NULL violation should kill the query")
    // the async termination event releases the claim — bounded wait
    val deadline = System.currentTimeMillis() + 15000
    while (cmds.sinkOwner("dies_t").nonEmpty &&
        System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(cmds.sinkOwner("dies_t").isEmpty,
      "a dead twin's claim must not need RELEASE ... FORCE")
  }

  /** Reconstruct the forked test JVM's --add-opens flags (build.sbt's
    * jdk17AddOpens) so a child JVM can boot its own SparkSession. */
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

  test("CROSS-PROCESS fence soak: a second Engine PROCESS on a warehouse " +
      "where a gate and a serve twin run — every fenced verb (OPTIMIZE / " +
      "DML / BUILD / REFRESH / DROP / LOAD / DROP TABLE / STOP-without-" +
      "FORCE, gate sinks and serve sink alike) refuses from the foreign " +
      "process; after the first session dies, a FORCE release + resume " +
      "FROM THE FOREIGN PROCESS drains the backlog exactly-once and " +
      "VERIFY is green — the gap between 'the lock is exclusive' and " +
      "'the system is safe with two operators'") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val wh = freshWh("xfence")
    val watch = Files.createTempDirectory("graft_xfence_watch").toString
    val scratch = Files.createTempDirectory("graft_xfence_scratch")
    def spawnProbe(mode: String): Process = {
      val javaBin = System.getProperty("java.home") + "/bin/java"
      val cp = System.getProperty("java.class.path")
      val cmd = Seq(javaBin) ++ childJvmOpens ++ Seq("-Xmx3g", "-cp", cp,
        "graft.FenceProbe", mode, d, wh, watch, scratch.toString)
      new ProcessBuilder(cmd: _*)
        .redirectErrorStream(true)
        .redirectOutput(scratch.resolve(s"out.$mode").toFile)
        .start()
    }
    def probeReport(mode: String): String = {
      val res = scratch.resolve(s"${mode}_results.tsv")
      val tsv = if (Files.exists(res)) Files.readString(res) else "<none>"
      val log = try Files.readString(scratch.resolve(s"out.$mode"))
        .takeRight(1500) catch { case _: java.io.IOException => "<no log>" }
      s"results:\n$tsv\nchild log tail:\n$log"
    }
    val e1 = new Engine(spark, d, wh)
    try {
      e1.sql("BUILD DEDUP INDEX ON documents")
      // two fresh docs are already waiting when the gate starts
      Seq(
        9000001L -> ("the quiet observatory dome rotates toward a " +
          "comet nobody has catalogued yet tonight"),
        9000002L -> ("a tired ferry pilot counts harbor lights " +
          "between the last two crossings of the evening"))
        .toDF("doc_id", "text").write.mode("append").parquet(watch)
      e1.sql(s"START ADMIT INGEST FROM '$watch' AS gate")
      val gq = e1.ingestQuery("gate").getOrElse(fail("no gate handle"))
      gq.processAllAvailable()
      // a serve twin on the same warehouse; one answered batch so its
      // caller-named sink exists (OPTIMIZE on a missing table would
      // refuse for the wrong reason)
      val callerQ = spark.read.parquet(s"$d/embeddings.parquet")
        .selectExpr("vec_id AS q_id",
          "transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding")
        .filter(col("q_id") < 2).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
      val src = MemoryStream[(Long, Seq[Double])]
      val sq = streaming.VectorStreams.serve(
        src.toDF().toDF("q_id", "embedding"), d, e1.storage, "svc_fence")
      try {
        src.addData(callerQ: _*)
        sq.processAllAvailable()
        assert(e1.storage.tableExists("svc_fence"))
        // ── phase 1: foreign process, live twins — every verb refuses
        val fence = spawnProbe("fence")
        assert(fence.waitFor(240, java.util.concurrent.TimeUnit.SECONDS),
          s"fence probe hung; ${probeReport("fence")}")
        assert(fence.exitValue == 0,
          s"foreign fence checks failed; ${probeReport("fence")}")
        // the parent's twins sailed through the foreign hammering
        assert(gq.isActive && sq.isActive,
          "a foreign fenced-verb attempt killed a live twin")
      } finally { sq.stop() }
      // ── phase 2: this session DIES (close(): queries stop, the gate's
      // registration and claims stay — the dead-session shape)
    } finally e1.close()
    // backlog lands while nobody is watching
    Seq(9000003L -> ("migrating cranes trace the river bend " +
      "past the shuttered paper mill at first frost"))
      .toDF("doc_id", "text").write.mode("append").parquet(watch)
    Files.writeString(scratch.resolve("expected_ids"),
      "9000001\n9000002\n9000003\n")
    val e1b = new Engine(spark, d, wh) // only to observe final state
    try {
      val resume = spawnProbe("resume")
      assert(resume.waitFor(300, java.util.concurrent.TimeUnit.SECONDS),
        s"resume probe hung; ${probeReport("resume")}")
      assert(resume.exitValue == 0,
        s"foreign FORCE+resume failed; ${probeReport("resume")}")
      // the parent's own read of the final state agrees: exactly-once
      val verdicts = e1b.storage.table("ingest_verdicts")
        .groupBy("doc_id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      Seq(9000001L, 9000002L, 9000003L).foreach(id =>
        assert(verdicts.get(id).contains(1L),
          s"doc $id verdicted ${verdicts.getOrElse(id, 0L)} times"))
      // and nothing holds the warehouse: claims are all released
      assert(e1b.sql("SHOW INGESTS").isEmpty)
      assert(e1b.storage.sinkOwner("ingest_verdicts").isEmpty)
    } finally {
      e1b.sql("DROP DEDUP INDEX ON documents")
      e1b.close()
    }
  }

  test("CROSS-PROCESS torn-pair recovery: the torn-pair PURGE refusal, " +
      "the directed replay heal, and the completed purge all hold from a " +
      "FOREIGN process reading only durable warehouse state (markers, " +
      "registry, checkpoint) — no in-memory torn flag exists to consult") {
    import spark.implicits._
    val wh = freshWh("xtorn")
    val scratch = Files.createTempDirectory("graft_xtorn_scratch")
    val dirA = Files.createTempDirectory("graft_xtorn_src").toString
    def spawnProbe(): Process = {
      val javaBin = System.getProperty("java.home") + "/bin/java"
      val cp = System.getProperty("java.class.path")
      val cmd = Seq(javaBin) ++ childJvmOpens ++ Seq("-Xmx3g", "-cp", cp,
        "graft.FenceProbe", "torn", d, wh, dirA, scratch.toString)
      new ProcessBuilder(cmd: _*)
        .redirectErrorStream(true)
        .redirectOutput(scratch.resolve("out.torn").toFile)
        .start()
    }
    val e1 = new Engine(spark, d, wh)
    try {
      e1.sql("BUILD VECTOR INDEX ON embeddings")
      val base = spark.read.parquet(s"$d/embeddings.parquet")
        .select(col("embedding")).head.getSeq[Float](0)
      Seq(9500001L -> base.map(_ + 0.01f)).toDF("vec_id", "embedding")
        .write.mode("append").parquet(dirA)
      e1.sql(s"START VECTOR INGEST FROM '$dirA' AS vgate")
      e1.ingestQuery("vgate").getOrElse(fail("no handle"))
        .processAllAvailable()
      e1.close() // session dies; registration + checkpoint survive
      // plant the REAL torn state exactly like the in-process fixture:
      // replay the next batch through the kernel with a crash armed
      // after the codes publish — codes commits, assign never runs
      val cmds = new commands.TableCommands(spark, wh)
      val model = streaming.VectorStreams.freeze(
        cmds.table(operators.VectorIndex.tableName("centroids")),
        cmds.table(operators.VectorIndex.tableName("codebook")))
      val batch1 = Seq(9500002L -> base.map(_ + 0.02f))
        .toDF("vec_id", "embedding")
      batch1.write.parquet(s"$scratch/torn_batch.parquet")
      Files.writeString(scratch.resolve("torn_batch_id"), "1")
      cmds.crashPoint = Some("published")
      intercept[IllegalStateException] {
        streaming.VectorStreams.ingestBatch(batch1, cmds, model, 1L)
      }
      cmds.crashPoint = None
      val codesT = operators.VectorIndex.tableName("codes")
      val assignT = operators.VectorIndex.tableName("assign")
      assert(cmds.lastCommittedBatch(codesT).contains(1L) &&
        cmds.lastCommittedBatch(assignT).contains(0L),
        "fixture failed to tear the pair")
      // the foreign process: refusal -> heal -> purge -> VERIFY
      val p = spawnProbe()
      assert(p.waitFor(240, java.util.concurrent.TimeUnit.SECONDS),
        "torn probe hung")
      val report = {
        val res = scratch.resolve("torn_results.tsv")
        val tsv = if (Files.exists(res)) Files.readString(res) else "<none>"
        val log = try Files.readString(scratch.resolve("out.torn"))
          .takeRight(1500) catch { case _: java.io.IOException => "<no log>" }
        s"results:\n$tsv\nchild log tail:\n$log"
      }
      assert(p.exitValue == 0, s"foreign torn-pair recovery failed; $report")
      // parent's own read of the final state: healed, purged, clean
      assert(cmds.lastCommittedBatch(codesT) ==
        cmds.lastCommittedBatch(assignT))
      val e2 = new Engine(spark, d, wh)
      try {
        assert(e2.sql("SHOW INGESTS").isEmpty,
          "registration survived the foreign purge")
        e2.sql("DROP VECTOR INDEX ON embeddings")
      } finally e2.close()
    } finally {
      try e1.close() catch { case _: Throwable => () }
    }
  }
}
