package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.SparkSession

/** Child-JVM half of the CROSS-PROCESS fence soak
  * (LifecycleGuardsSpec): a SECOND full Engine — its own SparkSession,
  * its own process — on a warehouse where the parent's ADMIT gate and
  * serve twin run.
  *
  * The in-process fence specs prove the refusals against the same
  * Engine instance that owns the claims; claim EXCLUSIVITY is proven
  * across processes by ClaimHammer — but fenced-VERB enforcement from a
  * genuinely foreign operator (every guard reading only the durable
  * warehouse state: registry files, sink-claim files, checkpoints) is
  * only exercised here. Two modes:
  *
  *  - `fence`: while the parent's twins are LIVE, attempt every fenced
  *    verb (OPTIMIZE / DML / BUILD / REFRESH / DROP / LOAD / DROP TABLE
  *    / STOP-without-FORCE, on gate sinks and the serve twin's sink) —
  *    each must refuse; a non-fenced verb must still work (the fence is
  *    a fence, not an outage).
  *  - `resume`: after the parent session DIED (close() — registration
  *    and claims left behind), release the dead gate deliberately
  *    (STOP INGEST ... FORCE, checkpoint retained), RESUME the ingest
  *    in THIS process against the same checkpoint, drain the backlog,
  *    then prove exactly-once (every expected doc_id verdicted exactly
  *    once, none lost, none doubled) and end with VERIFY green on both
  *    sink tables.
  *
  * Results are written to `<scratch>/<mode>_results.tsv` (one
  * `name<TAB>OK|FAIL reason` line per check) so the parent spec can
  * report precisely which guard failed; exit 0 iff all checks passed.
  *
  * args: mode, sfDir, warehouse, watchDir, scratchDir
  */
object FenceProbe {
  def main(args: Array[String]): Unit = {
    val Array(mode, sfDir, wh, watch, scratch) = args
    val out = new StringBuilder
    var failed = false
    def check(name: String)(body: => Unit): Unit = {
      try { body; out.append(s"$name\tOK\n") }
      catch { case e: Throwable =>
        failed = true
        out.append(s"$name\tFAIL ${e.getClass.getSimpleName}: " +
          s"${String.valueOf(e.getMessage).replaceAll("\\s+", " ").take(300)}\n")
      }
    }
    def refusal(name: String, frag: String)(body: => Unit): Unit =
      check(name) {
        try {
          body
          sys.error(s"was NOT refused (the foreign fence did not hold)")
        } catch {
          case e: IllegalStateException =>
            if (!String.valueOf(e.getMessage).contains(frag))
              sys.error(s"refused with unexpected message: ${e.getMessage}")
        }
      }

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"graft-fence-probe-$mode")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir",
        Files.createTempDirectory("graft_probe_cat").toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val engine = new Engine(spark, sfDir, wh)
    val bands = operators.DedupIndex.tableName("bands")

    try {
      if (mode == "fence") {
        refusal("optimize_verdict_log", "single-writer") {
          engine.sql("OPTIMIZE ingest_verdicts"); ()
        }
        refusal("optimize_bands", "single-writer") {
          engine.sql(s"OPTIMIZE $bands"); ()
        }
        refusal("dml_delete_verdicts", "single-writer") {
          engine.sql("DELETE FROM ingest_verdicts WHERE doc_id = 0"); ()
        }
        check("dml_delete_bands_refused") {
          // DML on index system tables hits the reserved-prefix guard
          // even before the sink fence — either refusal is the point
          try {
            engine.sql(s"DELETE FROM $bands WHERE doc_id = 0")
            sys.error("was NOT refused")
          } catch {
            case e: UnsupportedOperationException =>
              assert(e.getMessage.contains("reserved"), e.getMessage)
            case e: IllegalStateException =>
              assert(e.getMessage.contains("single-writer"), e.getMessage)
          }
        }
        refusal("build_dedup_index", "single-writer") {
          engine.sql("BUILD DEDUP INDEX ON documents"); ()
        }
        refusal("refresh_dedup_index", "single-writer") {
          engine.sql("REFRESH DEDUP INDEX ON documents"); ()
        }
        refusal("drop_dedup_index", "single-writer") {
          engine.sql("DROP DEDUP INDEX ON documents"); ()
        }
        refusal("drop_table_verdicts", "single-writer") {
          engine.sql("DROP TABLE ingest_verdicts"); ()
        }
        check("load_into_verdicts_refused") {
          val csv = Paths.get(scratch, "probe_load.csv")
          Files.writeString(csv, "doc_id\n1\n")
          try {
            engine.sql(s"LOAD '$csv' INTO ingest_verdicts")
            sys.error("LOAD into a claimed sink was NOT refused")
          } catch { case e: IllegalStateException =>
            if (!String.valueOf(e.getMessage).contains("single-writer"))
              sys.error(s"unexpected refusal: ${e.getMessage}")
          }
        }
        refusal("stop_foreign_gate_needs_force", "not running in this session") {
          engine.sql("STOP INGEST gate"); ()
        }
        // the serve twin's caller-named sink carries the same fence
        refusal("optimize_serve_sink", "single-writer") {
          engine.sql("OPTIMIZE svc_fence"); ()
        }
        refusal("dml_serve_sink", "single-writer") {
          engine.sql("DELETE FROM svc_fence WHERE q_id = 0"); ()
        }
        // a foreign START over the LIVE twin's marker-carrying sink is
        // refused BEFORE any claim is touched (no warehouse checkpoint
        // exists for the Scala-API twin, so the fresh-checkpoint-over-
        // markers guard fires first) — and the live twin stays fenced
        check("foreign_serve_start_over_live_sink_refused") {
          val qdir = Paths.get(scratch, "probe_queries")
          Files.createDirectories(qdir)
          try {
            engine.sql(s"START DECONTAM VECTORS FROM '$qdir' INTO svc_fence")
            sys.error("foreign START over a live twin's marker-carrying " +
              "sink was NOT refused")
          } catch { case e: IllegalArgumentException =>
            assert(e.getMessage.contains("markers"), e.getMessage)
          }
          assert(engine.storage.sinkOwner("svc_fence")
            .contains("serve:svc_fence"),
            "the live twin's claim did not survive the refused start")
        }
        // the fence is a fence, not an outage: reads and unclaimed
        // tables stay fully usable from the foreign process
        check("reads_still_work") {
          assert(engine.sql("SELECT count(*) AS n FROM documents")
            .head.getLong(0) > 0)
          // warehouse manifest reads are never fenced either
          assert(engine.storage.table("ingest_verdicts").count() > 0)
        }
        check("unclaimed_table_not_fenced") {
          engine.sql("CREATE TABLE probe_free (x INT)")
          engine.sql("INSERT INTO probe_free VALUES (1)")
          engine.sql("OPTIMIZE probe_free")
          engine.sql("DROP TABLE probe_free")
        }
      } else if (mode == "disjoint") {
        // POSITIVE cross-process soak (the fence soak's complement):
        // this foreign session works its OWN tables while the parent
        // session concurrently runs DML on ITS tables and keeps a live
        // ADMIT gate flowing. Nothing here may refuse (the fences must
        // not over-fire on disjoint state), and nothing here may perturb
        // the parent's side (the parent asserts its own invariants after
        // the join). The started-marker lets the parent synchronize its
        // concurrent DML window with this soak.
        Files.writeString(Paths.get(scratch, "disjoint_started"), "up\n")
        check("disjoint_dml_soak") {
          engine.sql("CREATE TABLE probe_soak (id INT, v DOUBLE)")
          (1 to 15).foreach { r =>
            engine.sql(s"INSERT INTO probe_soak VALUES ($r, ${r * 1.5})")
            engine.sql(s"UPDATE probe_soak SET v = v + 1 WHERE id = $r")
            if (r % 5 == 0) {
              engine.sql(s"DELETE FROM probe_soak WHERE id = ${r - 1}")
              engine.sql("OPTIMIZE probe_soak")
            }
          }
          val got = engine.storage.table("probe_soak").count()
          assert(got == 12L, s"probe_soak rows after soak: $got")
          engine.sql("VERIFY probe_soak")
          ()
        }
        check("txn_excluded_while_foreign_gate_lives") {
          // pointer-snapshot transactions are warehouse-global (ROLLBACK
          // restores sink pointers), so BEGIN must refuse while the
          // PARENT's gate commits into this warehouse — and the guard
          // must hold from a foreign process reading only durable state.
          // This is exclusion working as designed, not cross-talk: the
          // un-transacted DML soak above ran fine throughout.
          try {
            engine.sql("BEGIN")
            engine.sql("ROLLBACK") // unreachable; keep state clean if not
            sys.error("BEGIN was NOT refused under a live foreign gate")
          } catch { case e: IllegalArgumentException =>
            assert(e.getMessage.contains("live streams"), e.getMessage)
          }
        }
        check("parent_claims_intact_from_here") {
          // registry cross-talk check: the parent's gate claim must
          // still stand, untouched by this session's own writes
          assert(engine.storage.sinkOwner("ingest_verdicts").nonEmpty,
            "parent gate claim vanished during the disjoint soak")
          ()
        }
      } else if (mode == "torn") {
        // the parent planted a REAL torn pair (codes committed one batch
        // past assign — a kill between the paired appends) and wrote the
        // torn batch's rows + id to scratch. Every step below reads only
        // durable warehouse state: the refusal, the directed replay, the
        // completed purge, and the audit all run in THIS foreign process.
        val codesT = operators.VectorIndex.tableName("codes")
        val assignT = operators.VectorIndex.tableName("assign")
        val cmds = engine.storage
        check("torn_purge_refused_cross_process") {
          assert(cmds.lastCommittedBatch(codesT) !=
            cmds.lastCommittedBatch(assignT), "fixture is not torn")
          try {
            engine.sql("STOP INGEST vgate FORCE PURGE")
            sys.error("PURGE was NOT refused on a torn pair")
          } catch { case e: IllegalStateException =>
            assert(e.getMessage.contains("torn"), e.getMessage)
          }
        }
        check("foreign_replay_heals_then_purge_completes") {
          val model = streaming.VectorStreams.freeze(
            cmds.table(operators.VectorIndex.tableName("centroids")),
            cmds.table(operators.VectorIndex.tableName("codebook")))
          val batch = spark.read.parquet(s"$scratch/torn_batch.parquet")
          val bid = Files.readString(
            Paths.get(scratch, "torn_batch_id")).trim.toLong
          // the replay Spark would run on resume, driven directly: the
          // committed side skips its marker, the torn side catches up
          streaming.VectorStreams.ingestBatch(batch, cmds, model, bid)
          assert(cmds.lastCommittedBatch(codesT) ==
            cmds.lastCommittedBatch(assignT), "replay did not heal")
          val msg = engine.sql("STOP INGEST vgate FORCE PURGE")
            .head.getString(0)
          assert(msg.contains("purged"), msg)
        }
        check("verify_green_and_exactly_once_after_heal") {
          engine.sql(s"VERIFY $codesT")
          engine.sql(s"VERIFY $assignT")
          val counts = Seq(codesT, assignT).map(t => cmds.table(t)
            .filter(org.apache.spark.sql.functions.col("vec_id") >=
              9500000L).count())
          assert(counts == Seq(2L, 2L),
            s"heal lost or duplicated rows: $counts")
        }
      } else { // mode == "resume"
        val expected = Files.readAllLines(
          Paths.get(scratch, "expected_ids")).toArray.map(_.toString.toLong)
          .toSet
        check("force_release_then_resume_exactly_once") {
          // the dead session's gate: a plain STOP refuses, FORCE (no
          // PURGE — the checkpoint must survive for the resume) releases
          try { engine.sql("STOP INGEST gate"); sys.error("no FORCE needed?") }
          catch { case e: IllegalStateException =>
            assert(e.getMessage.contains("not running in this session"),
              e.getMessage)
          }
          val msg = engine.sql("STOP INGEST gate FORCE").head.getString(0)
          assert(msg.contains("retained"), s"checkpoint not retained: $msg")
          // RESUME in this process: same name, same source, same
          // checkpoint — the backlog file the parent dropped after its
          // session died drains here
          engine.sql(s"START ADMIT INGEST FROM '$watch' AS gate")
          val q = engine.ingestQuery("gate")
            .getOrElse(sys.error("no resumed query handle"))
          q.processAllAvailable()
          engine.sql("STOP INGEST gate")
          val verdicts = engine.storage.table("ingest_verdicts")
            .groupBy("doc_id").count().collect()
            .map(r => r.getLong(0) -> r.getLong(1)).toMap
          val doubled = verdicts.filter(_._2 > 1)
          assert(doubled.isEmpty,
            s"doc(s) verdicted twice across the takeover: $doubled")
          val missing = expected -- verdicts.keySet
          assert(missing.isEmpty, s"doc(s) lost across the takeover: $missing")
        }
        check("verify_green_after_takeover") {
          engine.sql(s"VERIFY $bands")
          engine.sql("VERIFY ingest_verdicts")
          ()
        }
      }
    } finally {
      Files.writeString(Paths.get(scratch, s"${mode}_results.tsv"),
        out.toString, StandardOpenOption.CREATE,
        StandardOpenOption.TRUNCATE_EXISTING)
      engine.close()
      spark.stop()
    }
    sys.exit(if (failed) 2 else 0)
  }
}
