package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Engine facade: session factory + table catalog over a test-data directory.
  *
  * The reference engine (williamxww/maple) couples its catalog to a storage
  * manager (`storage/StorageManager.java`, `lab/storage/ITableService.java`);
  * here the catalog is a thin registry of Parquet directories surfaced both as
  * `DataFrame`s and as temp views so the SQL surface (SURVEY.md §2) delegates
  * to Spark SQL / Catalyst end-to-end.
  */
object Graft {

  /** All driver-provided tables (TESTDATA.md). */
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The data-sized (shuffle partitions, AQE advisory bytes) pair of
    * [[sessionConfs]], so correctness dumps, plan dumps, stage profiles
    * and the bench all execute under the SAME AQE coalescing (round-13
    * advice: evidence tooling ran at the 64 MB default while the bench ran
    * data-sized, so dumped plans could diverge from bench execution). Both
    * values derive from input bytes and saturate at production defaults
    * on real inputs; `GRAFT_CONF` overrides them for experiments. */
  def dataSizedConfs(sfDir: String, cpus: Int): (String, String) = {
    val dataBytes = Option(new java.io.File(sfDir).listFiles())
      .getOrElse(Array.empty).filter(_.isFile).map(_.length).sum
    val parts = math.max(8L, math.min(cpus.toLong, dataBytes / (32L << 20)))
    val advisory = math.max(4L << 20,
      math.min(64L << 20, dataBytes / math.max(1, cpus)))
    (parts.toString, advisory.toString)
  }

  /** Cores of the local master and of the data sizing: SPARK_GRAFT_CPUS,
    * else every available processor. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The `key=value` entries of a `;`-separated override such as
    * GRAFT_CONF or GRAFT_AB: entries are trimmed and empty ones skipped (a
    * trailing `;` is harmless); an entry without a key before its `=`
    * fails with a message naming `name` instead of an opaque MatchError. */
  def confEntries(name: String, s: String): Seq[(String, String)] =
    s.split(';').toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      val eq = kv.indexOf('=')
      require(eq > 0, s"$name entries must be key=value, got: '$kv' in '$s'")
      (kv.substring(0, eq).trim, kv.substring(eq + 1).trim)
    }

  /** The only session builder of the engine's mains: [[sessionConfs]] for
    * [[cpus]] cores and `sfDir`'s data (default SPARK_GRAFT_SF_DIR), then
    * the GRAFT_CONF="k=v;…" overrides on top. */
  def session(
      master: String = s"local[$cpus]",
      appName: String = "graft",
      sfDir: String =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
  ): SparkSession = {
    val confs = sessionConfs(cpus, sfDir) ++
      sys.env.get("GRAFT_CONF").toSeq.flatMap(confEntries("GRAFT_CONF", _))
    val spark = confs.foldLeft(SparkSession.builder().master(master)
      .appName(appName)) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The size of Spark's generated-class cache (`CodeGenerator.cache`, one
    * LRU per JVM keyed by generated source text; Spark's default is 100
    * entries). At 100 entries a workload that interleaves queries evicts
    * each query's classes before the query runs again, so it recompiles
    * them on every statement. The 185-query inventory needs 2,349 distinct
    * classes (`graft.Verify` at sf0.01 with both indexes built and the
    * cache unbounded); 4,096 is the smallest power of two that holds them
    * with headroom, so a long-lived [[Engine]] or `SharedServer` serving
    * the inventory compiles each class once. */
  val codegenCache: (String, String) =
    "spark.sql.codegen.cache.maxEntries" -> "4096"

  /** Generated classes compiled in this JVM so far: every miss of the
    * [[codegenCache]] compiles one. */
  def compiledClasses: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount

  /** The one session rule, as data: AQE on (skew-join + coalesce),
    * data-sized shuffle partitions + advisory for `sfDir`, UTC for oracle
    * parity, checkpoint files deleted with their RDDs (a reliable [[cut]]
    * under GRAFT_CHECKPOINT_DIR otherwise leaks one file set per call for
    * the life of the session), and the [[codegenCache]] size.
    *
    * The codegen cache size is a STATIC conf that `CodeGenerator` reads
    * once, at the first code generation in the JVM: it takes effect only
    * if the session that carries it is built before any query runs, and
    * a later session (or a runtime `SET`) cannot change it. On a cluster,
    * pass it on the submitting session (`--conf
    * spark.sql.codegen.cache.maxEntries=…` beside `spark.sql.extensions=
    * graft.GraftExtensions`; OPERATIONS.md). */
  def sessionConfs(cpus: Int, sfDir: String): Seq[(String, String)] = {
    val (parts, advisory) = dataSizedConfs(sfDir, cpus)
    Seq(
      codegenCache,
      "spark.sql.shuffle.partitions" -> parts,
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> advisory,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      // size-based coalescing: at test scale most shuffles collapse to a
      // few partitions (task-scheduling overhead dominates otherwise); at
      // 100 TB the same setting right-sizes partitions to ~64 MB targets
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      // events.parquet is TIMESTAMP(NANOS); read as long + explicit downcast
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.cleaner.referenceTracking.cleanCheckpoints" -> "true")
  }

  /** What [[prepare]] leaves behind: the index-build failure, if any, and
    * the per-query cleanup. */
  final case class Prepared(failure: Option[String], release: () => Unit)

  /** The setup every measurement and dump main shares. Builds the vector
    * and dedup indexes for `sfDir` (the production train/serve split:
    * s100+ and d101 then run the SERVE path over stored artifacts, and the
    * build cost stays out of every query), then records the persistent
    * RDDs that exist at that point. `release()` clears the cache and
    * unpersists every OTHER persistent RDD — each query's localCheckpoint
    * blocks — so nothing a query leaves behind lands inside the next
    * one's measurement. A build that throws, or that leaves either index
    * unserved, is reported in `failure` and logged; queries then fall
    * back to inline training, which is correct but not what is timed. */
  def prepare(spark: SparkSession, sfDir: String): Prepared = {
    val t0 = System.nanoTime()
    val failure =
      try {
        val cmds = new commands.TableCommands(spark, java.nio.file.Files
          .createTempDirectory("graft_wh").toString)
        operators.VectorIndex.build(spark, sfDir, cmds)
        operators.DedupIndex.build(spark, sfDir, cmds)
        val unserved = Seq(
          "vector" -> operators.VectorIndex.served(spark, sfDir).isEmpty,
          "dedup" -> operators.DedupIndex.served(spark, sfDir).isEmpty)
          .collect { case (n, true) => n }
        if (unserved.isEmpty) None
        else Some(s"${unserved.mkString(" and ")} index not served after build")
      } catch { case scala.util.control.NonFatal(e) => Some(e.toString) }
    failure match {
      case Some(f) => System.err.println(s"[graft] index build failed: $f")
      case None => System.err.println(
        f"[graft] index builds: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    val keep = spark.sparkContext.getPersistentRDDs.keySet.toSet
    Prepared(failure, () => {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!keep(id)) rdd.unpersist(false)
      }
    })
  }

  /** Cut lineage on a shared multi-consumed frame. Against RELIABLE
    * storage when `GRAFT_CHECKPOINT_DIR` is set (cluster deployment: a
    * localCheckpoint lives in executor storage, so an executor loss —
    * preemption, dynamic deallocation — makes the blocks unrecoverable
    * and FAILS the job instead of recomputing lineage; reliable
    * checkpoints survive it), falling back to `localCheckpoint` for
    * single-JVM bench/tests where executors cannot be lost separately
    * from the job. Eager by default (the bench discipline: the
    * materialization cost stays inside the timed query); pass
    * eager=false to let the first action materialize. */
  def cut(df: DataFrame, eager: Boolean = true): DataFrame = {
    val sc = df.sparkSession.sparkContext
    sys.env.get("GRAFT_CHECKPOINT_DIR").foreach { dir =>
      if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
    }
    if (sc.getCheckpointDir.isDefined) df.checkpoint(eager)
    else df.localCheckpoint(eager)
  }

  /** Per-session memo of resolved table frames. `spark.read.parquet` does
    * footer/schema resolution and file listing EAGERLY on every call; at
    * 74 bench queries × several tables each, that re-resolution was a real
    * slice of the ~0.25 s/query fixed floor. The test data is immutable, so
    * one resolution per (session, dir, table) is exactly what a catalog
    * would provide ([[Engine]]'s catalog tables already behave this way).
    * Entries of stopped sessions are evicted lazily on the next lookup.
    */
  private val tableCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  private def cached(spark: SparkSession, sfDir: String, key: String)(
      load: => DataFrame): DataFrame = {
    val k = (spark, sfDir, key)
    val hit = tableCache.get(k)
    if (hit != null) hit
    else {
      // evict dead sessions' entries on the MISS path only — hits (the
      // per-query hot path) stay a single map probe
      val it = tableCache.keySet().iterator()
      while (it.hasNext) if (it.next()._1.sparkContext.isStopped) it.remove()
      // plain put-if-absent, NOT computeIfAbsent: tableParallel's loader
      // calls back into table() on the same map, and a recursive
      // computeIfAbsent on one ConcurrentHashMap is unspecified (can throw
      // or deadlock). A lost race just resolves the footer twice.
      val v = load
      val prev = tableCache.putIfAbsent(k, v)
      if (prev != null) prev else v
    }
  }

  /** Drop memoized frames under `sfDir` — the path-table analog of
    * Spark's `REFRESH TABLE`, for the one case the memo's "test data is
    * immutable" premise breaks: an EXTERNAL writer appended to a corpus
    * directory. A memoized DataFrame pins the file listing resolved at
    * read time (its `InMemoryFileIndex` snapshot), so without
    * invalidation every later query serves the pre-append corpus.
    * Also flushes Spark's own by-path caches (shared file-status cache,
    * cached relations) so the NEXT resolution re-lists from disk. Any
    * ingest that writes directly into a corpus dir — rather than through
    * an [[Engine]] catalog table, whose manifest pointer swap already
    * forces re-resolution — must call this before serving reads. */
  def invalidate(spark: SparkSession, sfDir: String): Unit = {
    val it = tableCache.keySet().iterator()
    while (it.hasNext) {
      val k = it.next()
      if (k._1 == spark && k._2 == sfDir) it.remove()
    }
    spark.catalog.refreshByPath(sfDir)
  }

  /** Read one table from a scale-factor directory.
    *
    * `events.ts` has shipped in two physical layouts across test-data
    * generations: Parquet TIMESTAMP(NANOS) — which Spark's vectorized
    * reader only accepts as a long via `spark.sql.legacy.parquet
    * .nanosAsLong` (set by [[sessionConfs]]), downcast here to
    * microseconds — and native TIMESTAMP(MICROS), which Spark reads as
    * TIMESTAMP_NTZ. Both normalize to the session-zone TimestampType
    * (sessions pin UTC, so the NTZ cast is value-preserving and DuckDB
    * reads the identical instants natively). Dispatch is on the RESOLVED
    * schema, not a config probe, so a mixed directory still loads.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    cached(spark, sfDir, s"t:$name") {
      if (name == "events") {
        import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
        import org.apache.spark.sql.types.{LongType, TimestampType}
        val raw = spark.read.parquet(s"$sfDir/events.parquet")
        raw.schema("ts").dataType match {
          case LongType => // legacy nanos-as-long
            raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
          case TimestampType => raw
          case _ => // TIMESTAMP_NTZ from native micros
            raw.withColumn("ts", col("ts").cast(TimestampType))
        }
      } else spark.read.parquet(s"$sfDir/$name.parquet")
    }

  /** A table guaranteed to scan with enough partitions to keep every core
    * busy in the narrow stages that follow (shingling, hashing, vector
    * math). The driver-provided parquet files have a single row group, so
    * the scan yields one partition and compute-heavy map work would run
    * single-threaded without a redistribution. (Planned partition COUNT
    * can't gate this: Spark pads small files into `defaultParallelism`
    * byte-range splits, but a row group is the smallest unit a split can
    * actually carry, so all but one come up empty. Byte SIZE can't either:
    * a mid-size single-row-group file is exactly the hazard.)
    *
    * The gate therefore counts the REAL parallelism units — parquet row
    * groups, from file footers (driver-side, no job) — and repartitions
    * only when they can't keep the cores busy. Footer reads short-circuit
    * as soon as enough units are found, so at production scale (many
    * files/row groups) the gate touches one footer and adds no shuffle;
    * on a row-group-starved input the shuffle it adds is the one that
    * makes the narrow stage parallel at all.
    */
  def tableParallel(spark: SparkSession, sfDir: String, name: String): DataFrame =
    cached(spark, sfDir, s"p:$name") {
      val df = table(spark, sfDir, name)
      val cores = spark.sparkContext.defaultParallelism
      val (units, bytes) = rowGroupUnits(spark, s"$sfDir/$name.parquet", cores)
      // both conditions: row-group-starved AND cheap to move. A big table
      // with few huge row groups gets its (adequate) natural parallelism
      // rather than a full-table shuffle for a marginal gain.
      if (units < cores && bytes < cores.toLong * 1024L * 1024 * 1024)
        df.repartition(cores)
      else df
    }

  /** [[tableParallel]] with a HASH key instead of round-robin: a keyless
    * `repartition(n)` first pays a full local sort of its input
    * (`spark.sql.execution.sortBeforeRepartition`, on so retried tasks
    * reproduce their row-to-partition assignment — guide §2.5); when a
    * downstream-meaningful high-cardinality key exists, hashing on it
    * skips that sort entirely and the assignment is deterministic by
    * construction. Same row-group gate, so production inputs no-op. */
  def tableParallelBy(spark: SparkSession, sfDir: String, name: String,
      key: String): DataFrame =
    cached(spark, sfDir, s"pb:$name:$key") {
      val df = table(spark, sfDir, name)
      val cores = spark.sparkContext.defaultParallelism
      val (units, bytes) = rowGroupUnits(spark, s"$sfDir/$name.parquet", cores)
      if (units < cores && bytes < cores.toLong * 1024L * 1024 * 1024)
        df.repartition(cores, org.apache.spark.sql.functions.col(key))
      else df
    }

  /** (row groups, total bytes) under `p` (file or directory, recursive),
    * with footer reads stopping as soon as `cap` units are found — each
    * file has ≥1 row group, so a layout with ≥ cap data files never opens
    * a footer. */
  private def rowGroupUnits(
      spark: SparkSession, p: String, cap: Int): (Int, Long) = {
    import org.apache.hadoop.fs.{Path, FileStatus}
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(p)
    val fs = root.getFileSystem(conf)
    def files(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(files)
      else if (st.getPath.getName.endsWith(".parquet")) Seq(st)
      else Seq.empty
    val data = files(fs.getFileStatus(root))
    val bytes = data.map(_.getLen).sum
    if (data.size >= cap) return (data.size, bytes)
    var units = 0
    val it = data.iterator
    while (units < cap && it.hasNext) {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile
          .fromStatus(it.next(), conf))
      try units += r.getRowGroups.size()
      finally r.close()
    }
    (units, bytes)
  }
}
