package perfbench

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.sql.SparkSession

import graft.{Graft, SparkEntry}
import graft.commands.{SharedServer, TableCommands}
import graft.operators.{DedupIndex, VectorIndex}

/** The benchmark's engine-side process: runs one workload as described by
  * a JSON config (every input already generated from the seed by
  * `run.py`) and writes raw timings, trace records and result locations to
  * a JSON file. All statistics are computed by `run.py`.
  *
  * Usage: `perfbench.Main <config.json> <result.json>` */
object Main {

  private final class Cfg(m: java.util.Map[String, Any]) {
    def str(k: String): String = m.get(k).toString
    def int(k: String): Int = m.get(k).asInstanceOf[Number].intValue
    def bool(k: String): Boolean = m.get(k).asInstanceOf[Boolean]
    def strs(k: String): Seq[String] =
      m.get(k).asInstanceOf[java.util.List[Any]].asScala.map(_.toString).toSeq
    def lists(k: String): Seq[Seq[String]] =
      m.get(k).asInstanceOf[java.util.List[java.util.List[Any]]].asScala
        .map(_.asScala.map(_.toString).toSeq).toSeq
    def stmts(k: String): Seq[(String, String)] =
      m.get(k).asInstanceOf[java.util.List[java.util.Map[String, Any]]].asScala
        .map(s => (s.get("kind").toString, s.get("sql").toString)).toSeq
  }

  private val out = new java.util.LinkedHashMap[String, Any]()
  private def put(k: String, v: Any): Unit = out.put(k, v)

  def main(args: Array[String]): Unit = {
    val cfg = new Cfg(Json.read(args(0)))
    val spark = try {
      val t0 = Clock.ms
      val s = Graft.session(s"local[${cfg.int("cores")}]", "perfbench")
      put("session_s", (Clock.ms - t0) / 1e3)
      s
    } catch { case e: Throwable => fail(args(1), e) }
    try {
      val tracer = if (cfg.bool("trace")) {
        val t = new Tracer; t.attach(spark); Some(t)
      } else None
      cfg.str("workload") match {
        case "warehouse_rw" => warehouse(spark, cfg, tracer)
        case _ => queries(spark, cfg, tracer)
      }
      tracer.foreach(t => put("trace", t.dump(spark)))
      put("rss_peak_mb", rssPeakMb())
      spark.stop()
      Json.write(args(1), out)
    } catch { case e: Throwable => fail(args(1), e) }
    sys.exit(0)
  }

  private def fail(path: String, e: Throwable): Nothing = {
    e.printStackTrace()
    put("fatal", s"${e.getClass.getName}: ${e.getMessage}")
    Json.write(path, out)
    sys.exit(1)
  }

  /** Peak resident set of this process (the engine, its Spark executors
    * and, for warehouse_rw, the clients) in MB. */
  private def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)

  private def counters(): Map[String, Long] = Map(
    "codegen_compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    "files_discovered" -> HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount,
    "file_cache_hits" -> HiveCatalogMetrics.METRIC_FILE_CACHE_HITS.getCount)

  /** Counter deltas over the timed region; compile time is estimated from
    * the histogram's mean, the only summary the codegen source keeps. */
  private def counterDeltas(before: Map[String, Long]): java.util.Map[String, Any] = {
    val after = counters()
    val d = after.map { case (k, v) => k -> (v - before(k)) }
    Json.obj(d.toSeq :+ ("codegen_ms" ->
      d("codegen_compiles") * CodegenMetrics.METRIC_COMPILATION_TIME
        .getSnapshot.getMean): _*)
  }

  // ---------------------------------------------------------------- queries

  private def queries(spark: SparkSession, cfg: Cfg,
      tracer: Option[Tracer]): Unit = {
    val d = cfg.str("data_dir")
    val runDir = cfg.str("run_dir")
    val sc = spark.sparkContext
    val fns = SparkEntry.queries
    val t0 = Clock.ms
    val cmds = new TableCommands(spark, s"$runDir/wh")
    VectorIndex.build(spark, d, cmds)
    DedupIndex.build(spark, d, cmds)
    put("index_build_s", (Clock.ms - t0) / 1e3)
    put("index_served", Json.obj(
      "vector" -> VectorIndex.served(spark, d).isDefined,
      "dedup" -> DedupIndex.served(spark, d).isDefined))
    // the index artifacts stay cached for the whole run; each query's own
    // checkpoint blocks are released after it, as graft.Bench does
    val keep = sc.getPersistentRDDs.keySet
    def release(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!keep.contains(id)) rdd.unpersist(false)
      }
    }

    // warm-up: each query once, its result written for the fingerprint check
    val warm = cfg.strs("warmup_order").map { name =>
      val t0 = Clock.ms
      val err = try {
        fns(name)(spark, d).write.mode("overwrite").parquet(s"$runDir/out/$name")
        null
      } catch { case e: Throwable => String.valueOf(e.getMessage).take(300) }
      val t1 = Clock.ms
      release()
      Json.obj("name" -> name, "ok" -> (err == null), "error" -> err,
        "start" -> t0, "end" -> t1)
    }
    put("warmup", Json.list(warm))
    put("setup_end_ms", Clock.ms)

    val before = counters()
    val ops = ArrayBuffer.empty[java.util.Map[String, Any]]
    val start = Clock.ms
    put("timed_start_ms", start)
    val deadline = start + cfg.int("seconds") * 1000.0
    val passes = cfg.lists("passes").iterator
    while (Clock.ms < deadline && passes.hasNext) {
      passes.next().foreach { name =>
        val seq = ops.size
        if (tracer.isDefined) {
          sc.setLocalProperty(Tags.Op, s"q#$seq")
          sc.setLocalProperty(Tags.Phase, "construct")
        }
        val t0 = Clock.ms
        var t1 = t0
        val err = try {
          val df = fns(name)(spark, d)
          t1 = Clock.ms
          if (tracer.isDefined) sc.setLocalProperty(Tags.Phase, "execute")
          df.write.format("noop").mode("overwrite").save()
          null
        } catch { case e: Throwable => String.valueOf(e.getMessage).take(300) }
        val t2 = Clock.ms
        release()
        ops += Json.obj("name" -> name, "kind" -> name,
          "id" -> s"q#$seq", "ok" -> (err == null), "error" -> err,
          "start" -> t0, "constructed" -> t1, "end" -> t2)
      }
    }
    put("timed_end_ms", Clock.ms)
    put("counters", counterDeltas(before))
    put("ops", Json.list(ops.toSeq))
  }

  // ---------------------------------------------------------- warehouse_rw

  /** One client connection speaking SharedServer's line protocol. */
  private final class Client(port: Int, traceBytes: Option[String]) {
    private val sock = new Socket("127.0.0.1", port)
    sock.setTcpNoDelay(true)
    private val in = new BufferedReader(
      new InputStreamReader(sock.getInputStream, UTF_8))
    private val w = new PrintWriter(sock.getOutputStream, false, UTF_8)
    private val thread = s"graft-client-${sock.getLocalPort}"
    private var seq = 0
    private val seen = new java.util.HashSet[Any]()
    traceBytes.foreach(newBytes)

    /** Sends one statement and reads its reply to the terminator line. */
    def run(role: String, kind: String, sql: String): java.util.Map[String, Any] = {
      val t0 = Clock.ms
      w.print(sql.replaceAll("[\r\n]+", " ") + "\n")
      w.flush()
      var err: String = null
      var done = false
      var line = in.readLine()
      while (!done) {
        if (line == null) { err = "connection closed"; done = true }
        else if (line.startsWith("OK ")) done = true
        else if (line.startsWith("ERR ")) { err = line.drop(4); done = true }
        else line = in.readLine()
      }
      val t1 = Clock.ms
      val written = if (role == "writer") traceBytes.map(newBytes) else None
      val rec = Seq[(String, Any)]("role" -> role, "kind" -> kind,
        "id" -> s"$thread#$seq", "ok" -> (err == null), "error" -> err,
        "start" -> t0, "end" -> t1) ++ written.map("bytes_written" -> _)
      seq += 1
      Json.obj(rec: _*)
    }

    /** Bytes of warehouse files this client has not seen before (hard
      * links share an inode, so a linked-forward file counts once). */
    private def newBytes(dir: String): Long = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try s.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map { p =>
          val ino = java.nio.file.Files.getAttribute(p, "unix:ino")
          if (seen.add(ino)) java.nio.file.Files.size(p) else 0L
        }.sum
      finally s.close()
    }

    def close(): Unit = sock.close()
  }

  private def warehouse(spark: SparkSession, cfg: Cfg,
      tracer: Option[Tracer]): Unit = {
    val d = cfg.str("data_dir")
    val wh = s"${cfg.str("run_dir")}/wh"
    val traced = tracer.map(_ => new TracedEngine(spark, d, wh))
    val engine = traced.getOrElse(new graft.Engine(spark, d, wh))
    val t0 = Clock.ms
    engine.sql(cfg.str("create_sql"))
    put("table_create_s", (Clock.ms - t0) / 1e3)
    val server = new SharedServer(engine)
    val bytesDir = tracer.map(_ => wh)
    try {
      val warm = new Client(server.boundPort, None)
      val warmed = cfg.stmts("warmup").map { case (kind, sql) =>
        warm.run(if (kind.startsWith("read")) "reader" else "writer", kind, sql)
      }
      warm.close()
      put("warmup", Json.list(warmed))
      put("setup_end_ms", Clock.ms)

      val before = counters()
      val start = Clock.ms
      put("timed_start_ms", start)
      val deadline = start + cfg.int("seconds") * 1000.0
      // the writer stops at the first block boundary past the deadline and
      // the reader at the first one after the writer has stopped, so every
      // statement kind of a block is measured equally often and every read
      // runs against the writer's churn
      val writing = new java.util.concurrent.atomic.AtomicBoolean(true)
      def loop(role: String, block: Int, more: () => Boolean)
          : (Thread, ArrayBuffer[java.util.Map[String, Any]]) = {
        val recs = ArrayBuffer.empty[java.util.Map[String, Any]]
        val stmts = cfg.stmts(role)
        val client = new Client(server.boundPort,
          if (role == "writer") bytesDir else None)
        val t = new Thread(() => {
          try {
            val it = stmts.grouped(block)
            while (more() && it.hasNext)
              it.next().foreach { case (kind, sql) => recs += client.run(role, kind, sql) }
          } finally {
            if (role == "writer") writing.set(false)
            client.close()
          }
        }, s"perfbench-$role")
        t.start()
        (t, recs)
      }
      val clients = Seq(
        loop("writer", cfg.int("writer_block"), () => Clock.ms < deadline),
        loop("reader", cfg.int("reader_block"), () => writing.get))
      clients.foreach(_._1.join())
      put("timed_end_ms", Clock.ms)
      put("counters", counterDeltas(before))
      put("ops", Json.list(clients.flatMap(_._2.toSeq)))
    } finally server.close()
    traced.foreach(e => put("engine_sql", e.records))

    // durability: a fresh Engine over the same warehouse reads the table back
    engine.close()
    new graft.Engine(spark, d, wh).sql(s"SELECT * FROM ${cfg.str("table")}")
      .write.mode("overwrite").parquet(s"${cfg.str("run_dir")}/final")
  }
}
