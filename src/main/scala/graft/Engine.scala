package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute,
  UnresolvedIdentifier, UnresolvedRelation, UnresolvedTable, UnresolvedTableOrView}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, Command,
  DeleteFromTable, DropTable, InsertIntoStatement, LogicalPlan, MergeIntoTable,
  OverwriteByExpression, ParsedStatement, ReplaceTable, ReplaceTableAsSelect,
  SubqueryAlias, UnresolvedWith, UpdateTable}
import org.apache.spark.sql.execution.SimpleMode
import org.apache.spark.sql.execution.command.ExplainCommand
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftbridge.Bridge

/** SQL-string entry point — the engine's primary declared interface.
  *
  * The reference is driven by SQL strings end-to-end: the REPL client
  * (`client/ExclusiveClient.java:72-106`) hands each statement to
  * `server/NanoDBServer.doCommand(String)` (`server/NanoDBServer.java:69-74`),
  * which parses and executes it; every reference test is a SQL string
  * (`sql/SqlTestCase.java:28-230`). [[Engine.sql]] is that surface on Spark.
  * `route` tries three things in order:
  *  - the engine verbs, one regex per statement family of the engine's
  *    own grammar: CREATE COLSTORE/TABLE, LOAD, OPTIMIZE, transactions,
  *    VERIFY, RETAIN, SNAPSHOT through [[commands.TableCommands]],
  *    CREATE/DROP INDEX, the corpus-index verbs (BUILD/DROP/REFRESH
  *    VECTOR|DEDUP INDEX), the inventory verbs ([EXPLAIN|ANALYZE] RUN
  *    QUERY), the vector verbs (SEARCH and DECONTAM VECTORS and their
  *    START ... streaming faces), the ingest gates, and the engine's own
  *    SHOW and ANALYZE forms;
  *  - the malformed-head guard: a statement that opens with an
  *    engine-only keyword but matched no engine form is an error, never a
  *    fallthrough;
  *  - [[dispatch]]: every other statement is parsed once by Spark's
  *    parser and dispatched on its plan. Queries run with index routing;
  *    INSERT, UPDATE, DELETE, MERGE and DROP TABLE of a warehouse table,
  *    and EXPLAIN of a query or of UPDATE/DELETE/MERGE, run in the engine;
  *    the rest — persistent `CREATE VIEW`/`DROP VIEW`, Spark's own DDL —
  *    runs as Spark SQL behind the write guard, so the whole relational
  *    surface (SURVEY.md §2) is reachable from a string exactly as from
  *    the DataFrame API.
  *
  * Tables are registered in the session CATALOG (external Parquet tables in
  * the current database), not as temp views: the reference's
  * `CreateViewCommand` (`commands/CreateViewCommand.java:28-30`) declares
  * persistent views, and Spark only allows a persistent view to reference
  * catalog objects. (`events` is the one exception — its TIMESTAMP(NANOS)
  * column needs a read-side downcast, so it stays a temp view.)
  */
class Engine(val spark: SparkSession, sfDir: String, warehouse: String) {

  private val cmds = new commands.TableCommands(spark, warehouse)
  /** The engine's storage layer — exposed so streaming maintenance twins
    * (admitAndIndex / VectorStreams.ingest) can commit into the SAME
    * warehouse the SQL surface serves from. */
  def storage: graft.commands.TableCommands = cmds

  // START/STOP INGEST registry (name -> running streaming query). The
  // in-memory maps track THIS session's running queries; the durable
  // half lives in the warehouse (`_ingest_registry/<name>`, one file per
  // gate holding "KIND\tsource-dir") so the registration survives engine
  // restarts — SHOW INGESTS lists checkpointed-but-not-running gates as
  // resumable, and the single-writer-per-kind guard holds ACROSS engine
  // instances sharing one warehouse, not just within a session (two ADMIT
  // gates from two engines would double-write the single-writer band
  // index). Reference analog: the catalog reopens persisted state on
  // restart (storage/StorageManager.java); the ingest registry does too.
  private val ingests = scala.collection.mutable.LinkedHashMap[
    String, org.apache.spark.sql.streaming.StreamingQuery]()
  private val ingestKinds =
    scala.collection.mutable.LinkedHashMap[String, String]()
  /** The running ingest query registered under `name` (tests await its
    * quiescence through this handle). */
  def ingestQuery(name: String)
      : Option[org.apache.spark.sql.streaming.StreamingQuery] =
    ingests.get(name)

  /** SQL-face SERVING twins started this session: name → (query, kind
    * tag, sink table, source dir). Unlike the ingest gates there is no
    * separate durable registry: the per-table SINK CLAIM is the serve
    * twin's cross-process registration (single-writer per sink table,
    * re-claimed transparently by the same owner's restart), the
    * checkpoint — keyed by SINK, where the exactly-once markers live —
    * is its resumable state, and `SHOW SINKS` is its durable
    * cross-session view (`claim_age_sec` is BEATEN for these twins, so
    * it reads as liveness). `SHOW SERVES` lists this session's handles. */
  private val serves = scala.collection.mutable.LinkedHashMap[
    String, (org.apache.spark.sql.streaming.StreamingQuery,
      String, String, String)]()

  /** The running serve/decontam twin registered under `name`. */
  def serveQuery(name: String)
      : Option[org.apache.spark.sql.streaming.StreamingQuery] =
    serves.get(name).map(_._1)

  private def serveCkptDir(sink: String) = java.nio.file.Paths.get(
    warehouse, "_serve_ckpt", sink.toLowerCase(java.util.Locale.ROOT))

  /** Shared START machinery of the SQL-face serving twins (SERVE /
    * SERVE_MMR / DECONTAM): fresh-checkpoint-over-markers refusal, source
    * pin, file stream construction, heartbeat plumbing, registration.
    * Returns the registered name. The sink claim itself is taken inside
    * the twin ([[streaming.VectorStreams.withSinkClaims]]) BEFORE its
    * stream starts — a second engine targeting the same sink is refused
    * there, cross-process. */
  private def startServeTwin(aliasOpt: Option[String], dir: String,
      sink: String, kind: String, idCol: String,
      mk: (org.apache.spark.sql.DataFrame, () => Unit, String) =>
        org.apache.spark.sql.streaming.StreamingQuery): String = {
    import org.apache.spark.sql.types._
    val name = aliasOpt.getOrElse(sink.toLowerCase(java.util.Locale.ROOT))
    require(!serves.contains(name),
      s"serve $name already running - STOP SERVE $name first")
    // one twin per sink in this session, refused BEFORE any claim is
    // touched (cross-engine, the sink claim + Spark's same-checkpoint
    // refusal close the window, with the claim restored on the failed
    // start — see withSinkClaims)
    serves.collectFirst { case (n, (_, _, s, _)) if s == sink => n }
      .foreach(n => throw new IllegalArgumentException(
        s"sink $sink is already served by '$n' in this session - " +
          s"STOP SERVE $n first"))
    val ckptPath = serveCkptDir(sink)
    val ckptFresh = !java.nio.file.Files.isDirectory(ckptPath)
    if (ckptFresh)
      require(cmds.lastCommittedBatch(sink).isEmpty &&
        cmds.lastCommittedBatch(s"${sink}_rejects").isEmpty,
        s"table $sink (or ${sink}_rejects) already carries stream " +
          "markers but there is no checkpoint for it - a fresh stream " +
          "restarts batch numbering at 0 and the exactly-once markers " +
          "would silently swallow every new answer; DROP the old sink " +
          "(and its _rejects) or serve INTO a new table")
    // source pin: a checkpoint resumes only against the directory it was
    // created for (the ingest gates' convention) — resuming against a
    // different one would silently abandon the pinned directory's
    // unprocessed files
    val srcFile =
      ckptPath.resolveSibling(ckptPath.getFileName.toString + ".src")
    val srcWasNew = !java.nio.file.Files.exists(srcFile)
    if (!srcWasNew) {
      val pinned = java.nio.file.Files.readString(srcFile).trim
      require(pinned == canonDir(dir),
        s"the $sink serve checkpoint was created for source '$pinned' - " +
          s"resuming it against '$dir' would silently abandon that " +
          s"directory's unprocessed files; STOP SERVE $name PURGE " +
          "retires the checkpoint (then DROP the sink or serve INTO a " +
          "new table)")
    } else {
      java.nio.file.Files.createDirectories(srcFile.getParent)
      java.nio.file.Files.writeString(srcFile, canonDir(dir)); ()
    }
    // KIND pin: the checkpoint is keyed by sink, so without it a later
    // START of a DIFFERENT twin kind INTO the same sink would resume
    // this checkpoint and pollute the table with a second result schema
    // (search answers + contamination verdicts interleaved — silent,
    // schema-compatible-enough corruption). A missing pin (checkpoint
    // from before kind pinning) self-heals to the current kind, like the
    // gates' legacy floor pin.
    val kindFile =
      ckptPath.resolveSibling(ckptPath.getFileName.toString + ".kind")
    if (java.nio.file.Files.exists(kindFile)) {
      val pinnedKind = java.nio.file.Files.readString(kindFile).trim
      require(pinnedKind == kind,
        s"the $sink serve checkpoint belongs to a $pinnedKind twin - " +
          s"starting a $kind twin INTO the same sink would mix result " +
          s"schemas in one table; STOP SERVE $name PURGE and DROP the " +
          "sink, or target a new table")
    } else {
      java.nio.file.Files.writeString(kindFile, kind); ()
    }
    // the beat keeps SHOW SINKS' claim_age_sec bounded while the twin
    // lives — fired per batch AND from the idle/progress listener
    val beat = () => cmds.touchSinkClaim(sink)
    val q =
      try {
        val qs = spark.readStream
          .schema(StructType(Seq(StructField(idCol, LongType),
            StructField("embedding", ArrayType(FloatType)))))
          .parquet(dir)
        mk(qs, beat, ckptPath.toString)
      } catch { case e: Throwable =>
        // a refused START must not pin a source/kind the checkpoint
        // never saw
        if (srcWasNew && !java.nio.file.Files.isDirectory(ckptPath)) {
          java.nio.file.Files.deleteIfExists(srcFile)
          java.nio.file.Files.deleteIfExists(kindFile); ()
        }
        throw e
      }
    serves(name) = (q, kind, sink, dir)
    heartbeatsByQuery.put(q.runId, beat)
    name
  }

  private def ingestRegistryDir =
    java.nio.file.Paths.get(warehouse, "_ingest_registry")
  private def ingestRegFile(name: String) = ingestRegistryDir.resolve(name)
  // the durable claim is keyed by KIND (file `kind.<kind>`, content
  // "name\tdir"): kind is the single-writer unit (both gates of a kind
  // write the same band/codes manifests), so the CREATE-only rename on
  // the kind file IS the mutual exclusion — two engines racing different
  // NAMES of the same kind cannot both win, which a name-keyed claim
  // allowed (TOCTOU between the kind scan and the name-keyed create).
  // Legacy name-keyed entries (pre-kind-keying warehouses: file `<name>`,
  // content "kind\tdir") stay readable and clearable; names are \w+ so
  // the `kind.` prefix can never collide with one.
  private def kindRegFile(kind: String) = ingestRegistryDir.resolve(
    "kind." + kind.toLowerCase(java.util.Locale.ROOT))

  /** Durably registered ingest gates: (name, kind, source dir, claim
    * file). A registry entry without a live in-memory query belongs to a
    * prior (restarted or dead) session — resumable via START under the
    * same name, or cleared via STOP INGEST. The claim file's mtime is the
    * gate's HEARTBEAT (touched per micro-batch), surfaced by SHOW INGESTS
    * so an operator can tell a dead session's claim from a live one. */
  private def registeredIngests
      : Seq[(String, String, String, java.nio.file.Path)] =
    if (!java.nio.file.Files.isDirectory(ingestRegistryDir)) Nil
    else Option(ingestRegistryDir.toFile.listFiles())
      .getOrElse(Array.empty).filter(f => f.isFile &&
        !f.getName.endsWith(".tmp")).toSeq.sortBy(_.getName)
      .flatMap { f =>
        // tolerate a malformed entry (a crash mid-write predating the
        // atomic rename, or manual tampering): surface it as a
        // registration of unknown kind rather than wedging every SHOW
        // INGESTS / START behind a parse error — STOP INGEST <name>
        // clears it like any dead registration
        val content = java.nio.file.Files.readString(f.toPath).trim
        if (f.getName.startsWith("kind."))
          content.split("\t", 2) match {
            case Array(n, d) =>
              Some((n, f.getName.stripPrefix("kind.")
                .toUpperCase(java.util.Locale.ROOT), d, f.toPath))
            case _ => Some((f.getName, "?", "", f.toPath))
          }
        else content.split("\t", 2) match {
          case Array(k, d) => Some((f.getName, k, d, f.toPath))
          case _ => Some((f.getName, "?", "", f.toPath))
        }
      }

  /** Acquire a NEW registry claim atomically-exclusively. The primitive
    * is `createLink` (link(2)), NOT a rename: on POSIX, rename(2) — what
    * Files.move(ATOMIC_MOVE) compiles to — silently REPLACES an existing
    * destination, so a "CREATE-only move" excludes nobody and two racing
    * engines both "win", the second clobbering the first (measured by
    * the claim-race spec before this fix). link(2) fails with EEXIST
    * when the target exists, which Java surfaces as
    * FileAlreadyExistsException — an atomic create-with-full-content
    * (the content rides in via the linked tmp inode, so no reader can
    * observe a half-written claim). Resume paths must NOT call this
    * (the existing entry IS the claim). */
  private def claimIngest(name: String, kind: String, dir: String): Unit = {
    java.nio.file.Files.createDirectories(ingestRegistryDir)
    // tmp name is per-attempt unique: two engines racing the SAME name
    // from different dirs would otherwise share a tmp path, and the
    // winner could link the loser's just-written content
    val tmp = ingestRegFile(
      s"kind.$name.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    java.nio.file.Files.writeString(tmp, s"$name\t$dir")
    try
      java.nio.file.Files.createLink(kindRegFile(kind), tmp)
    catch { case _: java.nio.file.FileAlreadyExistsException =>
      java.nio.file.Files.deleteIfExists(tmp)
      throw new IllegalArgumentException(
        s"a ${kind.toUpperCase(java.util.Locale.ROOT)} ingest was just " +
          s"registered by another engine - SHOW INGESTS lists it")
    } finally {
      java.nio.file.Files.deleteIfExists(tmp); ()
    }
    ()
  }

  /** Clear `name`'s durable registration and release the sink claims its
    * `kind` holds: the fence and the registration share a lifetime. (A
    * malformed registration's kind `?` owns no claim.) */
  private def deregisterIngest(name: String, kind: String): Unit = {
    registeredIngests.filter(_._1 == name).foreach { case (_, _, _, f) =>
      java.nio.file.Files.deleteIfExists(f)
    }
    ingestSinkTables(kind).foreach(t =>
      if (cmds.sinkOwner(t).contains(s"ingest:$kind")) cmds.releaseSink(t))
  }

  /** The durable claim file registered under `name`, if any — the gate's
    * heartbeat target. */
  private def claimFileOf(name: String): Option[java.nio.file.Path] =
    registeredIngests.collectFirst { case (n, _, _, f) if n == name => f }

  /** The warehouse tables a gate of `kind` commits into — the tables
    * whose `_STREAM_BATCH` markers define the kind's batch-numbering
    * highwater (rotation floors and fresh-checkpoint refusals read it). */
  private def ingestSinkTables(kind: String): Seq[String] =
    if (kind == "ADMIT")
      Seq("ingest_verdicts", operators.DedupIndex.tableName("bands"))
    else
      Seq(operators.VectorIndex.tableName("codes"),
        operators.VectorIndex.tableName("assign"),
        "vector_ingest_rejects") // an all-poison final batch advances
        //                          ONLY the quarantine log's marker

  /** The kind's PAIRED sinks — the tables one micro-batch appends to in
    * lock-step, whose markers must agree at every batch boundary (both
    * gates append to BOTH on every non-empty clean batch; the quarantine
    * log is deliberately NOT in the pair — it advances only on poisoned
    * batches). A marker disagreement is the signature of a crash between
    * the two appends of one batch: a torn state only the checkpoint's
    * replay heals. */
  private def ingestPairedSinks(kind: String): Seq[String] =
    if (kind == "ADMIT")
      Seq("ingest_verdicts", operators.DedupIndex.tableName("bands"))
    else
      Seq(operators.VectorIndex.tableName("codes"),
        operators.VectorIndex.tableName("assign"))

  /** The committed batch-id highwater across `kind`'s sink tables —
    * -1 when no table carries a marker (nothing ever streamed in). */
  private def ingestMarkerHigh(kind: String): Long =
    ingestSinkTables(kind).filter(cmds.tableExists)
      .flatMap(cmds.lastCommittedBatch).foldLeft(-1L)(_ max _)

  // source-rotation floor: STOP INGEST ... PURGE retires a kind's
  // checkpoint (so a NEW source directory can be watched) and records
  // max(sink markers)+1 here; the next START adds it to Spark's batch
  // ids, which restart at 0 in the fresh checkpoint — committed ids stay
  // monotone past the markers, so rotation loses and duplicates nothing
  private def ingestFloorFile(kind: String) = java.nio.file.Paths.get(
    s"$warehouse/_ingest_ckpt/" +
      kind.toLowerCase(java.util.Locale.ROOT) + ".floor")

  private def ingestFloor(kind: String): Long = {
    val f = ingestFloorFile(kind)
    if (java.nio.file.Files.exists(f))
      java.nio.file.Files.readString(f).trim.toLong
    else 0L
  }

  // directories retired by STOP INGEST ... PURGE, one per line: a fresh
  // checkpoint has no seen-files log, so re-watching a retired directory
  // would reprocess every old file under new (floor-lifted) batch ids —
  // the ADMIT gate's own index would merely re-verdict them non-admitted,
  // but the VECTOR gate would land DUPLICATE codes/assign rows (its
  // fresh-unique-id contract violated by the engine itself). Rotation
  // means a NEW directory; the retired list makes that the enforced
  // contract, not an operator convention.
  private def ingestRetiredFile(kind: String) = java.nio.file.Paths.get(
    s"$warehouse/_ingest_ckpt/" +
      kind.toLowerCase(java.util.Locale.ROOT) + ".retired")

  /** Canonical spelling for retired-dir bookkeeping — absolute +
    * normalized, so `/a/b/`, `./b` and `/a/b` cannot sidestep the
    * retired check by differing as strings. */
  private def canonDir(dir: String): String =
    java.nio.file.Paths.get(dir).toAbsolutePath.normalize.toString

  private def ingestRetiredDirs(kind: String): Set[String] = {
    val f = ingestRetiredFile(kind)
    if (!java.nio.file.Files.exists(f)) Set.empty
    else java.nio.file.Files.readString(f).linesIterator
      .map(_.trim).filter(_.nonEmpty).map(canonDir).toSet
  }

  /** Refuse maintenance on the index tables an ingest of `kind` is
    * actively writing: REFRESH and OPTIMIZE publish new versions of the
    * same manifests the gate's appendCommitted commits into, and the
    * manifest layout is single-writer per table (concurrent nextVersion
    * races, lost pointer swaps). The check covers BOTH this session's
    * running gates and the durable registry — a gate owned by another
    * engine instance over the same warehouse is just as much a writer. */
  private def requireNoIngest(kind: String, what: String): Unit = {
    val inMem = ingestKinds.collectFirst {
      case (n, k) if k == kind => n }
    val durable = registeredIngests.collectFirst {
      case (n, k, _, _) if k == kind => n }
    inMem.orElse(durable).foreach(n =>
      throw new IllegalStateException(
        s"$what: a $kind ingest ('$n') is registered on this warehouse " +
          s"and the index tables are single-writer - STOP INGEST $n first"))
  }

  /** base table (lowercase) -> column (lowercase) -> index table name.
    * CREATE INDEX records here; plain queries against the base table are
    * transparently routed to the bucketed clone when they join/filter/group
    * on the indexed column (see [[query]]). Mutating the base table drops
    * its indexes — a bucketed re-cluster is a snapshot, and serving a stale
    * one would be silently wrong. Pre-seeded from the session catalog so a
    * new Engine over an existing warehouse keeps its index routing. */
  private val indexes =
    scala.collection.mutable.Map.empty[String, scala.collection.mutable.Map[String, String]]
  private val indexName = """^(\w+)_by_(\w+)$""".r

  /** Session-scoped tables created with CREATE TEMPORARY ... — dropped on
    * [[close]]. Also durably marked in the warehouse (TEMP file), so the
    * sweep below reclaims them even when the owning session crashed. */
  private val tempTables = scala.collection.mutable.Set.empty[String]

  // cost-based optimization: ANALYZE computes catalog stats; CBO makes the
  // optimizer consume them (join reorder, broadcast decisions) AND
  // propagates rowCount through the plan, which is what EXPLAIN's
  // PlanCost section surfaces (reference `qeval/PlanCost.java`)
  spark.conf.set("spark.sql.cbo.enabled", "true")

  // a temp table surviving in the warehouse belongs to a DEAD session
  // (this engine hasn't created any yet) — reclaim before serving anything
  cmds.temporaryTables.foreach(dropWarehouseTable(_))

  // idempotent: external-table DDL is IF NOT EXISTS, functions re-register
  Graft.tableNames.filterNot(_ == "events").foreach { n =>
    spark.sql(s"CREATE TABLE IF NOT EXISTS `$n` USING parquet " +
      s"LOCATION '$sfDir/$n.parquet'")
  }
  Graft.table(spark, sfDir, "events").createOrReplaceTempView("events")
  functions.GraftFunctions.register(spark)

  spark.catalog.listTables().collect().foreach { t =>
    t.name match {
      case indexName(base, colsJoined) if spark.catalog.tableExists(base) =>
        bucketColsOf(t.name, base, colsJoined).foreach(cols =>
          recordIndex(base, cols.head, t.name))
      case _ => ()
    }
  }

  // a vector/dedup index persisted by a prior session re-registers like
  // the bucketed-index pre-seed above, so its serve path survives restarts
  operators.VectorIndex.reregister(spark, cmds)
  operators.DedupIndex.reregister(spark, cmds)

  // self-restoring snapshots: pins are durable (PINS file) but the views
  // they serve are session-scoped temp views — re-register one per pin so
  // a pinned training read works after a restart without re-issuing
  // SNAPSHOT. An already-bound name is left alone (this session may have
  // a view by that name), and a pin whose version dir was manually
  // removed is skipped, never fatal — a broken pin must not brick the
  // engine; SHOW SNAPSHOTS still lists it as not viewable.
  cmds.warehouseTables.foreach(t => cmds.pins(t).foreach {
    case (alias, ver) =>
      if (!spark.catalog.tableExists(alias))
        // NonFatal, not just IllegalArgumentException: snapshotPath's
        // require covers a fully REMOVED version dir, but an existing-yet-
        // empty or corrupt dir makes spark.read.parquet throw
        // AnalysisException — any unreadable pin is skipped, never fatal
        try spark.read.parquet(cmds.snapshotPath(t, ver))
          .createOrReplaceTempView(alias)
        catch { case scala.util.control.NonFatal(_) => () }
  })

  // sweep ORPHANED claim tmp files: a hard kill between writeString(tmp)
  // and createLink leaves `kind.<name>.<uuid>.tmp` (or a sink-claim tmp)
  // behind forever — harmless (listings skip .tmp) but never reclaimed.
  // Age-gated so a tmp belonging to a START racing this construction
  // survives: a live claim attempt holds its tmp for milliseconds.
  private val claimTmpSweepMs = 60L * 60L * 1000L // 1 h
  Seq(ingestRegistryDir,
    java.nio.file.Paths.get(warehouse, "_sink_claims")).foreach { d =>
    if (java.nio.file.Files.isDirectory(d))
      Option(d.toFile.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".tmp") &&
          System.currentTimeMillis() - f.lastModified() > claimTmpSweepMs)
        .foreach { f => f.delete(); () }
  }

  // re-establish the per-table SINK claims of every durably registered
  // gate (idempotent: the owner tag is deterministic per kind): a
  // registration written by a pre-claim engine version would otherwise
  // leave its sink tables unfenced against OPTIMIZE/DML until resumed.
  // A claim already held by a DIFFERENT owner is left alone — the fence
  // refuses maintenance either way.
  registeredIngests.foreach { case (_, k, _, _) =>
    if (k != "?")
      ingestSinkTables(k).foreach { t =>
        try cmds.claimSink(t, s"ingest:$k")
        catch { case _: IllegalStateException => () }
      }
  }

  // per-query HEARTBEAT fan-out: the gate's claim-mtime beat must fire on
  // IDLE triggers too — a foreachBatch-driven beat stops the moment the
  // watched directory goes quiet (Structured Streaming runs no batch on
  // no data), so a healthy-but-idle gate would read as DEAD in SHOW
  // INGESTS and invite a wrongful STOP ... FORCE release of a LIVE claim.
  // QueryIdleEvent fires on no-data triggers (cadence:
  // spark.sql.streaming.noDataProgressEventInterval), QueryProgressEvent
  // on data-carrying ones, so heartbeat_age_sec stays bounded while the
  // stream lives, whatever the source does.
  // keyed by RUN id, not query id: a serve-twin TAKEOVER's old and new
  // runs share the query id (persisted in the checkpoint), so an
  // id-keyed map let the OLD run's late termination event remove the
  // LIVE successor's beat — its claim age then grew while the twin
  // merely ran, the exact false-dead reading the idle beat exists to
  // prevent. runId is fresh per run.
  private val heartbeatsByQuery =
    new java.util.concurrent.ConcurrentHashMap[java.util.UUID, () => Unit]()
  private val heartbeatListener =
    new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        Option(heartbeatsByQuery.get(e.progress.runId)).foreach(_())
      override def onQueryIdle(e: QueryIdleEvent): Unit =
        Option(heartbeatsByQuery.get(e.runId)).foreach(_())
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
        heartbeatsByQuery.remove(e.runId); ()
      }
    }
  spark.streams.addListener(heartbeatListener)

  /** Pre-seed guard: a catalog table only counts as an index if it really
    * is CREATE INDEX's product — bucketed by exactly the column (list)
    * its name encodes, with the base table's column set. A user table
    * that merely NAMES like `<t>_by_<c>` (say, a rollup called
    * `sales_by_region`) must never be substituted into queries — or
    * dropped by invalidation. Returns the bucket columns so the caller
    * can route on the leading one. */
  private def bucketColsOf(idx: String, base: String,
      colsJoined: String): Option[Seq[String]] =
    try {
      val cat = Bridge.sessionState(spark).catalog
      val meta = cat.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(idx))
      meta.bucketSpec
        .filter(_.bucketColumnNames.map(_.toLowerCase).mkString("_") ==
          colsJoined.toLowerCase)
        .filter(_ => meta.schema.fieldNames.map(_.toLowerCase).sorted
          .sameElements(
            spark.table(base).schema.fieldNames.map(_.toLowerCase).sorted))
        .map(_.bucketColumnNames)
    } catch { case scala.util.control.NonFatal(_) => None }

  private def recordIndex(tbl: String, column: String, idx: String): Unit =
    indexes.getOrElseUpdate(tbl.toLowerCase,
      scala.collection.mutable.Map.empty)(column.toLowerCase) = idx

  /** Indexes snapshot the base table's data; any mutation invalidates them. */
  private def dropIndexesOf(tbl: String): Unit =
    indexes.remove(tbl.toLowerCase).foreach(_.values.foreach { idx =>
      spark.sql(s"DROP TABLE IF EXISTS `$idx`"); ()
    })

  // every CREATE route accepts the reference grammar's TEMPORARY flag
  // (`nanosql.g:246-258`): a temp table is the same manifest table on the
  // same INSERT/UPDATE/DELETE/txn path, but session-scoped — dropped on
  // [[close]], and swept by the next Engine over this warehouse if the
  // session died without closing
  private val createColstore =
    """(?is)\s*CREATE\s+(TEMP(?:ORARY)?\s+)?(?:COLSTORE|TABLE)\s+(\w+)\s+FROM\s+'([^']+)'\s*;?\s*""".r
  // same COLSTORE|TABLE synonymy as the FROM-file route, and the query may
  // open with SELECT, a CTE, or a parenthesized form — query()'s own heads
  private val createColstoreAs =
    """(?is)\s*CREATE\s+(TEMP(?:ORARY)?\s+)?(?:COLSTORE|TABLE)\s+(\w+)\s+AS\s+((?:SELECT\b|WITH\b|\().+?)\s*;?\s*""".r
  // column-DDL form: `CREATE TABLE t (a INT NOT NULL, b VARCHAR(20), …)`
  // (reference `nanosql.g:246-258` table_decl + `CreateTableCommand.java`).
  // Anchored through the closing paren + end-of-statement, AND guarded by
  // [[balancedParens]] at the match site: a Spark-SQL `CREATE TABLE t (…)
  // USING/OPTIONS/PARTITIONED BY (…)` makes the greedy capture span
  // between two DIFFERENT paren groups (unbalanced inside), so it falls
  // through to Spark SQL instead of being silently swallowed as a
  // warehouse DDL.
  private val createTableDdl =
    """(?is)\s*CREATE\s+(TEMP(?:ORARY)?\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?(\w+)\s*\((.+)\)\s*;?\s*""".r

  /** True iff every '(' in `s` closes inside `s` (quote-aware) — i.e. the
    * capture is ONE parenthesized group's content, not a greedy span across
    * several groups. */
  private def balancedParens(s: String): Boolean = {
    var depth = 0; var inStr = false; var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) { if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth < 0) return false
        case _ => ()
      }
      i += 1
    }
    depth == 0
  }
  private val loadFile =
    """(?is)\s*LOAD\s+'([^']+)'\s+INTO\s+(\w+)\s*;?\s*""".r
  // full reference grammar (`nanosql.g:426-448`): optional index name,
  // optional `USING <type>`, and a COLUMN LIST — `CREATE [UNIQUE] INDEX
  // [name] [USING type] ON t (c1, c2, ...)`
  private val createIndex =
    """(?is)\s*CREATE\s+(UNIQUE\s+)?INDEX\s+(?:(\w+)\s+)?(?:USING\s+(\w+)\s+)?ON\s+(\w+)\s*\(\s*(\w+(?:\s*,\s*\w+)*)\s*\)\s*;?\s*""".r
  // DDL symmetry for the bucketed-index lifecycle: CREATE INDEX names its
  // product (`<t>_by_<cols>`); DROP INDEX sheds one by that name and stops
  // the automatic routing; SHOW INDEXES lists what routing serves. (The
  // reference grammar has CREATE INDEX only — `nanosql.g:426-448`; these
  // complete the surface a real user needs to manage the lifecycle.)
  private val dropIndexStmt =
    """(?is)\s*DROP\s+INDEX\s+(IF\s+EXISTS\s+)?(\w+)\s*;?\s*""".r
  private val showIndexesStmt = """(?is)\s*SHOW\s+INDEXES\s*;?\s*""".r
  // doCommand parity for the d/s/t/m/p operator inventory (§2.9): every
  // SparkEntry query runs as a SQL statement — `RUN QUERY '<name>' [ON
  // '<dir>']` — so the full extension surface is reachable over
  // SharedServer/REPL exactly like the relational rows. The reference
  // analog is FunctionDirectory extensibility
  // (`functions/FunctionDirectory.java:80-96`): registered capability,
  // invocable from the string interface.
  // quotes must be balanced or absent: two alternatives, NOT '?(\w+)'?,
  // which would accept `RUN QUERY 'name` and `RUN QUERY name'`
  private val runQueryStmt =
    """(?is)\s*RUN\s+QUERY\s+(?:'(\w+)'|(\w+))(?:\s+ON\s+'([^']+)')?(?:\s+INTO\s+(\w+))?\s*;?\s*""".r
  // plan observability for the inventory: the formatted Spark plan of any
  // RUN QUERY, without executing it — the `EXPLAIN <select>` sibling for
  // operators whose body is DataFrame code, not a SQL string
  private val explainRunQueryStmt =
    """(?is)\s*EXPLAIN\s+RUN\s+QUERY\s+(?:'(\w+)'|(\w+))(?:\s+ON\s+'([^']+)')?\s*;?\s*""".r
  // runtime observability for the inventory: EXECUTE the query and
  // surface the final adaptive plan's per-operator metrics (output rows,
  // shuffle bytes, spill) — at 100 TB the question "which exchange
  // dominates?" is answered by these counters, not by the plan text
  private val analyzeRunQueryStmt =
    """(?is)\s*ANALYZE\s+RUN\s+QUERY\s+(?:'(\w+)'|(\w+))(?:\s+ON\s+'([^']+)')?\s*;?\s*""".r
  private val showQueriesStmt = """(?is)\s*SHOW\s+QUERIES\s*;?\s*""".r
  // the vector index's SERVE face: top-k neighbors for the query vectors
  // a warehouse table / view supplies — the probe-by-arbitrary-key analog
  // of IndexScanNode (plans/IndexScanNode.java:17-51), completing the
  // BUILD/REFRESH/DROP lifecycle with the read that justifies it
  // optional DIVERSIFY <λ> [OVER <n>]: MMR-rerank the indexed shortlist
  // so the answers trade relevance against redundancy — the production
  // composition of the serve kernel and the s109 greedy. OVER makes the
  // rerank-pool width explicit (default max(10, 3k)): a caller asking
  // TOP 10 DIVERSIFY 0.7 OVER 100 gets a 100-candidate pool instead of
  // the silent 30
  private val searchVectorsStmt =
    """(?is)\s*SEARCH\s+VECTORS\s+USING\s+(\w+)(?:\s+TOP\s+(\d+))?(?:\s+DIVERSIFY\s+(\d+(?:\.\d+)?)(?:\s+OVER\s+(\d+))?)?\s*;?\s*""".r
  // the semantic-decontamination gate's SQL face (d103's kernel,
  // Similarity.decontamVectors): audit caller-supplied candidate vectors
  // against the corpus's eval slice before they are admitted to training
  private val decontamVectorsStmt =
    """(?is)\s*DECONTAM\s+VECTORS\s+USING\s+(\w+)(?:\s+THRESHOLD\s+(\d+(?:\.\d+)?))?\s*;?\s*""".r
  // the corpus indexes' train/serve split: BUILD materializes the
  // trained artifacts (IVF-PQ for vectors, LSH bands for documents) as
  // warehouse tables (the analog of CREATE INDEX's build-then-scan split
  // — reference CreateIndexCommand.java feeding IndexScanNode.java);
  // searches and gates serve from them until DROP. REFRESH appends index
  // rows for corpus entries the stored index does not cover yet
  // (O(delta), models frozen — see VectorIndex.refresh /
  // DedupIndex.refresh). USING <mode> belongs to BUILD VECTOR only; the
  // route's guard sends any other USING to the malformed-head guard.
  private val corpusIndexStmt =
    """(?is)\s*(BUILD|DROP|REFRESH)\s+(VECTOR|DEDUP)\s+INDEX\s+ON\s+(\w+)(?:\s+USING\s+(\w+))?\s*;?\s*""".r
  // observability siblings of SHOW INDEXES for the trained index kinds:
  // provenance (corpus dir + training params) and coverage counts — the
  // numbers an operator checks before trusting a serve path
  private val showVectorIndexes =
    """(?is)\s*SHOW\s+VECTOR\s+INDEXES\s*;?\s*""".r
  private val showDedupIndexes =
    """(?is)\s*SHOW\s+DEDUP\s+INDEXES\s*;?\s*""".r
  // the path-table REFRESH TABLE analog over SQL: after an EXTERNAL
  // writer appends into the corpus dir (bypassing the engine's manifest
  // tables), cached file listings must drop or every later read serves
  // the pre-append snapshot ([[Graft.invalidate]]). Optional ON '<dir>'
  // targets another corpus; default is this engine's own.
  private val refreshCorpus =
    """(?is)\s*REFRESH\s+CORPUS(?:\s+ON\s+'([^']+)')?\s*;?\s*""".r
  private val txnStmt =
    """(?is)\s*(BEGIN|START\s+TRANSACTION|COMMIT|ROLLBACK)\s*;?\s*""".r
  private val verifyStmt = """(?is)\s*VERIFY\s+(\w+)\s*;?\s*""".r
  private val crashStmt =
    """(?is)\s*CRASH(?:\s+AFTER\s+(STAGED|PUBLISHED))?\s*;?\s*""".r
  private[graft] val exitStmt = """(?is)\s*(?:EXIT|QUIT)\s*;?\s*""".r
  private val optimizeStmt =
    """(?is)\s*OPTIMIZE\s+(\w+)(?:\s+ZORDER\s+BY\s*\(([^)]+)\))?\s*;?\s*""".r
  // version retention + time travel: training runs pin the exact corpus
  // snapshot they read ("which corpus version trained model X"); RETAIN
  // widens sweep's keep-window, SNAPSHOT registers a read-only temp view
  // over a retained version dir, SHOW VERSIONS lists what is travelable
  private val retainStmt =
    """(?is)\s*RETAIN\s+(\d+)\s+VERSIONS?\s+ON\s+(\w+)\s*;?\s*""".r
  private val showVersionsStmt =
    """(?is)\s*SHOW\s+VERSIONS\s+ON\s+(\w+)\s*;?\s*""".r
  // quotes around the version must be BALANCED or absent — two regex
  // alternatives, the same fix the round-7 advice asked of runQueryStmt
  private val snapshotStmt =
    """(?is)\s*SNAPSHOT\s+(\w+)\s+VERSION\s+AS\s+OF\s+(?:'(\w+)'|(\w+))\s+AS\s+(\w+)\s*;?\s*""".r
  // a snapshot PINS its version against sweeping (durably, in the table's
  // PINS file) so a training read survives RETAIN-lowering and heavy write
  // traffic; DROP SNAPSHOT releases the pin and the view
  private val dropSnapshotStmt =
    """(?is)\s*DROP\s+SNAPSHOT\s+(\w+)\s*;?\s*""".r
  // observability for the pins: what DROP SNAPSHOT can release, and what
  // sweep is keeping alive — readable after a restart (pins are durable,
  // the temp VIEWS are session-scoped; re-issue SNAPSHOT to re-view)
  private val showSnapshotsStmt =
    """(?is)\s*SHOW\s+SNAPSHOTS\s*;?\s*""".r
  // the streaming ingest loop over SQL: START watches a directory (the
  // shape a decode/crawl stage drops files into) and pipes every new file
  // through the self-maintaining gate (documents -> admitAndIndex;
  // vectors -> VectorStreams.ingest); SHOW/STOP manage the running
  // queries; each ingest checkpoints under the warehouse so a RESTARTED
  // engine resumes batch numbering instead of letting the exactly-once
  // markers swallow new data
  // optional COMPACT EVERY n BATCHES [THRESHOLD m MB]: the gate compacts
  // its own tables' small-file tail every n micro-batches (safe —
  // foreachBatch serializes the gate's writes), so appendCommitted's
  // small files never need a manual STOP → OPTIMIZE → START loop.
  // THRESHOLD sets the graduation size (files >= m MB ride forward as
  // hard links, smaller ones merge; default 64 MB — right for parquet
  // row-group economics, but a high-rate gate may want graduation
  // earlier/later).
  private val startIngestStmt =
    """(?is)\s*START\s+(ADMIT|VECTOR)\s+INGEST\s+FROM\s+'([^']+)'(?:\s+AS\s+(\w+))?(?:\s+COMPACT\s+EVERY\s+(\d+)\s+BATCHES(?:\s+THRESHOLD\s+(\d+)\s+MB)?)?\s*;?\s*""".r
  private val showIngestsStmt = """(?is)\s*SHOW\s+INGESTS\s*;?\s*""".r
  // STOP INGEST <name> [FORCE] [PURGE]: FORCE is required to release a
  // registration this session does not run (it may be a live gate in
  // another engine — SHOW INGESTS' heartbeat_age_sec is the evidence);
  // PURGE additionally retires the kind's checkpoint + source pin and
  // records the rotation floor, so the next START may watch a NEW
  // source directory with zero lost and zero duplicated batches
  private val stopIngestStmt =
    """(?is)\s*STOP\s+INGEST\s+(\w+)(\s+FORCE)?(\s+PURGE)?\s*;?\s*""".r
  // SQL-face SERVING twins — the streaming siblings of SEARCH VECTORS /
  // DECONTAM VECTORS: watch a directory of (q_id|vec_id, embedding)
  // parquet drops, answer/audit each micro-batch with the BATCH kernel
  // (bit-identical results — the parity specs' contract), and land the
  // results exactly-once in a caller-named warehouse table. TOP/DIVERSIFY/
  // OVER/THRESHOLD carry the same meaning and validation as the batch
  // statements.
  private val startServeStmt =
    """(?is)\s*START\s+SERVE\s+VECTORS\s+FROM\s+'([^']+)'\s+INTO\s+(\w+)(?:\s+TOP\s+(\d+))?(?:\s+DIVERSIFY\s+(\d+(?:\.\d+)?)(?:\s+OVER\s+(\d+))?)?(?:\s+AS\s+(\w+))?\s*;?\s*""".r
  private val startDecontamStmt =
    """(?is)\s*START\s+DECONTAM\s+VECTORS\s+FROM\s+'([^']+)'\s+INTO\s+(\w+)(?:\s+THRESHOLD\s+(\d+(?:\.\d+)?))?(?:\s+AS\s+(\w+))?\s*;?\s*""".r
  private val stopServeStmt =
    """(?is)\s*STOP\s+SERVE\s+(\w+)(\s+PURGE)?\s*;?\s*""".r
  private val showServesStmt = """(?is)\s*SHOW\s+SERVES\s*;?\s*""".r
  // RELEASE SINK <table> FORCE: deliberately release a sink claim whose
  // owning stream died without cleanup (the twins release on termination;
  // a hard-killed JVM cannot). FORCE is mandatory — releasing a LIVE
  // stream's claim reopens its table to a second writer, the corruption
  // the fence exists to prevent.
  private val releaseSinkStmt =
    """(?is)\s*RELEASE\s+SINK\s+(\w+)\s+FORCE\s*;?\s*""".r
  // observability for the fence: which tables are claimed, by whom, and
  // how fresh the owning stream's heartbeat is — what an operator reads
  // BEFORE deciding a RELEASE SINK ... FORCE (the SHOW INGESTS of the
  // per-table claims)
  private val showSinksStmt = """(?is)\s*SHOW\s+SINKS\s*;?\s*""".r
  // reference grammar: `ANALYZE [VERBOSE] <table>, <table>, ...`
  // (commands/AnalyzeCommand.java:93-115 iterates a table list;
  // nanosql.g:695-715). A statement with trailing words beyond the
  // comma-list (Spark's own ANALYZE TABLE ... COMPUTE STATISTICS)
  // deliberately fails this match and falls through to Spark SQL.
  private val analyzeStmt =
    """(?is)\s*ANALYZE\s+(VERBOSE\s+)?(\w+(?:\s*,\s*\w+)*)\s*;?\s*""".r
  // the ENGINE-ONLY statement heads: keywords Spark SQL does not own (or
  // owns with incompatible semantics we must not reach), matched LAST —
  // a statement that leads with one of these but matched no engine regex
  // is malformed and must error crisply, never fall through to spark.sql
  // (a near-miss like `STOP INGEST 'gate'` or `OPTIMIZE t ZORDER BY(a b)`
  // silently reinterpreted by Spark is the hazard). Heads Spark's grammar
  // owns (CREATE, DROP TABLE/VIEW, INSERT, UPDATE, DELETE, MERGE, SELECT,
  // EXPLAIN, ANALYZE, SHOW) are NOT listed: [[dispatch]] parses them with
  // Spark's parser and refuses, by plan node, what the engine cannot run.
  private val engineOnlyHead =
    ("""(?is)\s*(START\s+(?:ADMIT|VECTOR|SERVE|DECONTAM)\b|""" +
      """STOP\s+(?:INGEST|SERVE)\b|SNAPSHOT\b|""" +
      """RETAIN\b|VERIFY\b|CRASH\b|BUILD\s+(?:VECTOR|DEDUP)\b|""" +
      """REFRESH\s+(?:CORPUS|VECTOR|DEDUP)\b|RUN\s+QUERY\b|""" +
      """RELEASE\s+SINK\b|""" +
      """SEARCH\s+VECTORS\b|DECONTAM\s+VECTORS\b|OPTIMIZE\b|LOAD\b|""" +
      """DROP\s+(?:SNAPSHOT|INDEX|VECTOR\s+INDEX|DEDUP\s+INDEX)\b|""" +
      """SHOW\s+(?:INGESTS|SNAPSHOTS|VERSIONS|INDEXES|QUERIES|SINKS|""" +
      """SERVES|VECTOR\s+INDEXES|DEDUP\s+INDEXES)\b).*""").r

  /** True iff a table name's qualifier parts name this engine's (single)
    * database: none, `default`, `spark_catalog`, or
    * `spark_catalog.default`. */
  private def isLocalDb(qualifier: Seq[String]): Boolean =
    Set(Nil, Seq("default"), Seq("spark_catalog"), Seq("spark_catalog", "default"))
      .contains(qualifier.map(_.toLowerCase(java.util.Locale.ROOT)))

  /** Refuse statements against index-internal tables (and reserve their
    * name prefixes): the two-table coverage invariant (assign/codes
    * nested at every commit boundary — the premise of the serving fast
    * path and of REFRESH's straggler heal) only holds because
    * BUILD/REFRESH are their sole writers. Direct DML could delete
    * offsetting row sets from the two sides (equal counts, different
    * ids) and silently lose vectors between serving tiers; a direct
    * DROP would mutate one side of the pair; a user table CREATEd under
    * the prefix would be born permanently un-writable. The supported
    * lifecycle is BUILD / REFRESH / DROP ... INDEX. */
  private def guardSystemTable(name: String, verb: String): String = {
    val low = name.toLowerCase
    if (low.startsWith("vector_index_") || low.startsWith("dedup_index_"))
      throw new UnsupportedOperationException(
        s"graft engine: $verb on '$name' is not supported — the " +
          "vector_index_/dedup_index_ prefixes are reserved for index " +
          "system tables; use BUILD/REFRESH/DROP VECTOR|DEDUP INDEX")
    name
  }

  /** Refuse maintenance/DML on a table a LIVE stream commits into: every
    * appendCommitted-driven stream (ingest gates AND the caller-named
    * Scala-API serve/decontam twins) holds a durable per-table sink claim
    * for its lifetime, and a concurrent COW/append/OPTIMIZE would race
    * its per-batch commit on the same single-writer manifest. Generic —
    * keyed off the claim, not a table-name list. */
  private def requireNoSinkClaim(table: String, what: String): Unit =
    cmds.sinkOwner(table).foreach(o => throw new IllegalStateException(
      s"$what: a live stream ($o) commits into $table and the manifest " +
        "is single-writer - stop that stream first (STOP INGEST for " +
        "gates; a dead claim is released deliberately with " +
        s"RELEASE SINK $table FORCE)"))

  /** The warehouse table a statement writes, by its name parts: a foreign
    * database is refused with an engine error naming the problem rather
    * than left to Spark SQL's non-catalog path. */
  private def localName(parts: Seq[String], verb: String): String =
    if (isLocalDb(parts.init)) {
      val tbl = parts.last
      val n = guardSystemTable(cmds.resolveTable(tbl).getOrElse(tbl), verb)
      // a table some live stream appendCommits into is single-writer
      // while that stream is registered — a concurrent COW/append from
      // SQL DML would race its per-batch commit on the same manifest.
      // EXPLAIN variants only BUILD the frame and pass freely.
      if (!verb.toUpperCase(java.util.Locale.ROOT).startsWith("EXPLAIN"))
        requireNoSinkClaim(n, s"$verb on $n")
      n
    } else throw new UnsupportedOperationException(
      s"graft engine: $verb on qualified table '${parts.mkString(".")}' is " +
        "not supported — the warehouse is single-database; use the bare " +
        s"name '${parts.last}'")

  /** Ingest-file reader: format by extension. The reference's ingest is
    * CSV-only (`storage/FileAnalyzer.java` profiles CSV columns); JSONL is
    * the de-facto interchange format of training-data pipelines, so both
    * routes accept it. A declared schema (append path) pins types; the
    * create path infers. */
  private def readIngest(path: String,
      schema: Option[org.apache.spark.sql.types.StructType]): DataFrame = {
    // case-insensitive, compression-transparent extension check (Spark
    // decompresses .gz for both readers; a .JSONL parsed as CSV would
    // silently produce a garbage one-column table)
    val base = path.toLowerCase.stripSuffix(".gz").stripSuffix(".bz2")
    val json = base.endsWith(".json") || base.endsWith(".jsonl")
    (json, schema) match {
      case (true, Some(sc)) => spark.read.schema(sc).json(path)
      case (true, None) => spark.read.json(path)
      case (false, Some(sc)) =>
        spark.read.option("header", "true").schema(sc).csv(path)
      case (false, None) =>
        spark.read.option("header", "true").option("inferSchema", "true")
          .csv(path)
    }
  }

  /** SQL-face shim for the reference grammar's `SIMILAR TO` predicate
    * (nanosql.g declares the token pair; the reference's
    * expressions/StringMatchOperator.java:30-33 stubs its evaluation to
    * constant false): rewrite `[NOT] SIMILAR TO` → `[NOT] RLIKE`
    * OUTSIDE protected regions, then let the regular pipeline — engine
    * routes or the Spark fallthrough — evaluate it with real regex
    * semantics, matching the engine's RLIKE face (oracle q05).
    * Protected regions are copied verbatim so data and names are never
    * mangled: single-quoted literals ('' escapes), DOUBLE-quoted
    * literals (Spark's default lexer treats "…" as a string, not an
    * identifier), backtick identifiers, `--` line comments, and
    * bracketed comments. */
  private[graft] def rewriteSimilarTo(stmt: String): String = {
    if ("(?is)similar\\s+to".r.findFirstIn(stmt).isEmpty) return stmt
    val simPat = "(?is)\\b(not\\s+)?similar\\s+to\\b".r
    // standard SQL allows `SIMILAR TO pattern ESCAPE 'c'`; the engine's
    // RLIKE semantics take no ESCAPE clause, and letting it through
    // produces `RLIKE ... ESCAPE ...` — unparseable by Spark, a confusing
    // downstream error. Detect the two common shapes (literal pattern:
    // ESCAPE opens the NEXT unprotected segment after exactly one
    // protected region; bare column/number pattern: ESCAPE in the same
    // segment) and refuse with the real reason. Exotic forms (pattern
    // expressions spanning several literals) still die loudly in Spark's
    // parser — never silently mis-evaluate.
    val escHead = "(?is)^\\s*escape\\b".r
    val escInline = "(?is)^\\s+[A-Za-z_][\\w.]*\\s+escape\\b|^\\s+[0-9]+\\s+escape\\b".r
    def escReject(): Nothing = throw new IllegalArgumentException(
      "SIMILAR TO ... ESCAPE is not supported: the engine evaluates " +
        "SIMILAR TO with Java-regex (RLIKE) semantics, which take no " +
        "ESCAPE clause - fold the escape into the regex pattern instead")
    // armed = the previous non-whitespace unprotected text ended at a
    // rewritten SIMILAR TO (its pattern literal follows as a protected
    // region); whitespace-only segments (e.g. around a comment between
    // the pattern and ESCAPE) keep it armed
    var armed = false
    val sb = new StringBuilder(stmt.length)
    val seg = new StringBuilder
    def flush(): Unit = {
      val text = seg.toString
      if (armed && escHead.findFirstIn(text).isDefined) escReject()
      val ms = simPat.findAllMatchIn(text).toList
      ms.foreach { m =>
        if (escInline.findFirstIn(text.substring(m.end)).isDefined)
          escReject()
      }
      if (ms.nonEmpty)
        armed = text.substring(ms.last.end).forall(_.isWhitespace)
      else if (text.exists(!_.isWhitespace)) armed = false
      sb.append(simPat.replaceAllIn(text,
        m => if (m.group(1) != null) "NOT RLIKE" else "RLIKE"))
      seg.clear()
    }
    val n = stmt.length
    var i = 0
    while (i < n) {
      val c = stmt.charAt(i)
      // quoted regions: copy through the matching closer, honoring the
      // doubled-quote escape for ' and " AND the backslash escape
      // (Spark's default lexer consumes \' without ending the literal;
      // a scanner that closes there desynchronizes from the real lexer
      // and mangles literal contents). Backticks take neither escape.
      // Raw (r'...'/R"...") and hex (X'...') literals take NO escapes at
      // all in Spark's lexer — not backslash, not the doubled closer —
      // so a raw literal ending in a backslash must still close at its
      // first quote, or the scanner desynchronizes and protects (or
      // rewrites) the wrong half of the statement. The prefix char is
      // raw only when it is not the tail of a longer identifier
      // (maximal munch: `bar'x'` lexes as identifier `bar` + STRING).
      if (c == '\'' || c == '"' || c == '`') {
        // hex literals exist only in the X'...' single-quote form
        // (X"..." lexes as identifier X + a normal string); raw strings
        // take both quote kinds. Backtick identifiers escape the
        // backtick by DOUBLING (`a``b`), like the string forms.
        val raw = c != '`' && seg.nonEmpty && {
          val p = seg.charAt(seg.length - 1)
          (p == 'r' || p == 'R' ||
            ((p == 'x' || p == 'X') && c == '\'')) &&
            (seg.length < 2 || {
              val b = seg.charAt(seg.length - 2)
              !b.isLetterOrDigit && b != '_'
            })
        }
        flush(); sb.append(c); i += 1
        var open = true
        while (open && i < n) {
          val d = stmt.charAt(i); sb.append(d)
          if (!raw && c != '`' && d == '\\' && i + 1 < n) {
            sb.append(stmt.charAt(i + 1)); i += 1
          } else if (d == c) {
            if (!raw && i + 1 < n && stmt.charAt(i + 1) == c) {
              sb.append(c); i += 1
            } else open = false
          }
          i += 1
        }
      } else if (c == '-' && i + 1 < n && stmt.charAt(i + 1) == '-') {
        flush()
        while (i < n && stmt.charAt(i) != '\n') { sb.append(stmt.charAt(i)); i += 1 }
      } else if (c == '/' && i + 1 < n && stmt.charAt(i + 1) == '*') {
        // bracketed comments NEST in Spark's lexer — track depth or a
        // nested close would end the region early and a later
        // apostrophe opens a phantom string over the real predicate
        flush()
        sb.append("/*"); i += 2
        var depth = 1
        while (depth > 0 && i < n) {
          if (stmt.charAt(i) == '/' && i + 1 < n && stmt.charAt(i + 1) == '*') {
            sb.append("/*"); depth += 1; i += 2
          } else if (stmt.charAt(i) == '*' && i + 1 < n &&
              stmt.charAt(i + 1) == '/') {
            sb.append("*/"); depth -= 1; i += 2
          } else { sb.append(stmt.charAt(i)); i += 1 }
        }
      } else { seg.append(c); i += 1 }
    }
    flush()
    sb.toString
  }

  // ── statement concurrency. Clients of one Engine (SharedServer runs one
  // handler thread per connection, like the reference's
  // `server/SharedServer.java:40-56`) share two locks, always taken in
  // this order:
  //  - the WRITER lock serializes every statement but a plain query;
  //  - the COMMIT lock is the short section in which a table's version
  //    changes under readers. A plain SELECT/WITH plans (and leases what
  //    it scans) inside it; UPDATE, DELETE, MERGE and OPTIMIZE stage their
  //    new version under the writer lock alone and take it only for the
  //    pointer swap, catalog repoint, index-route drop and sweep
  //    ([[commitSection]]). Every other statement holds both locks for
  //    its whole run. ─────────────────────────────────────────────────
  private val writerLock = new java.util.concurrent.locks.ReentrantLock()
  private val commitLock = new java.util.concurrent.locks.ReentrantLock()
  private def holding[A](l: java.util.concurrent.locks.ReentrantLock)(
      body: => A): A = {
    l.lock()
    try body finally l.unlock()
  }

  /** A plain query: planned in the commit section, never mutating. A WITH
    * that mentions INSERT may be a CTE-fed insert and takes both locks. */
  private val plainQuery =
    """(?is)\s*(?:SELECT\b.*|WITH\b(?!.*\bINSERT\b).*)""".r

  /** The copy-on-write rewrites, by verb head: they stage under the
    * writer lock alone and take the commit lock only in [[commitSection]].
    * A malformed one fails before it publishes anything. */
  private val rewriteHead =
    """(?is)\s*(?:UPDATE|DELETE|MERGE|OPTIMIZE)\b.*""".r

  /** The commit section of every warehouse write routed here (INSERT,
    * LOAD, UPDATE, DELETE, MERGE, OPTIMIZE): the pointer swap, the catalog
    * repoint, the index-route drop (not for OPTIMIZE, whose rows are
    * unchanged) and the sweep, under the commit lock — no read plans
    * between the swap and the repoint. INSERT and LOAD already hold the
    * lock for their whole run (an INSERT that falls through to Spark SQL
    * is not a warehouse write); the lock is reentrant. */
  private def commitSection(dropRoutes: Boolean): commands.TableCommands.Commit =
    (tbl, swap, sweep) => holding(commitLock) {
      swap()
      registerTable(tbl)
      if (dropRoutes) dropIndexesOf(tbl)
      sweep()
    }

  /** Run `command` through [[sql]] (on the calling thread) and hand the
    * result to `consume`. A plain query is planned and the warehouse
    * versions its plan scans are leased in one commit section, and the
    * leases hold until `consume` returns — a sweep skips leased versions —
    * so rows streamed inside `consume` come from the version the query was
    * planned against, however many rewrites commit meanwhile. */
  def withResult[A](command: String)(consume: DataFrame => A): A =
    if (!plainQuery.matches(command)) consume(sql(command))
    else {
      val (df, leased) = holding(commitLock) {
        val df = sql(command)
        val dirs = cmds.scannedVersions(df.queryExecution.analyzed)
        commands.TableCommands.lease(dirs)
        (df, dirs)
      }
      try consume(df) finally commands.TableCommands.release(leased)
    }

  /** One statement in, a DataFrame out (commands return a 1-row status
    * frame, like the reference's command acknowledgements). Safe to call
    * from several threads; see the statement-concurrency note above. */
  def sql(command: String): DataFrame = {
    val stmt = rewriteSimilarTo(command)
    if (plainQuery.matches(stmt)) holding(commitLock)(dispatch(parse(stmt)))
    else holding(writerLock) {
      if (rewriteHead.matches(stmt)) route(stmt)
      else holding(commitLock)(route(stmt))
    }
  }

  /** One corpus index kind of the BUILD/DROP/REFRESH verbs: the corpus
    * table it indexes and what that corpus carries, the ingest kind that
    * appends into its tables, what REFRESH counts, the tables a streaming
    * twin serves from, and the build (mode in, status suffix out), drop
    * and refresh (rows appended) steps. */
  private case class CorpusIndex(corpus: String, carries: String,
      ingestKind: String, unit: String, served: Seq[String],
      build: String => String, drop: () => Unit, refresh: () => Long)

  private val corpusIndexes = Map(
    "VECTOR" -> CorpusIndex("embeddings", "vectors", "VECTOR", "vectors",
      Seq("assign", "codes", "centroids", "codebook")
        .map(operators.VectorIndex.tableName),
      mode => { operators.VectorIndex.build(spark, sfDir, cmds, mode)
        s" ($mode)" },
      () => operators.VectorIndex.drop(spark, cmds),
      () => operators.VectorIndex.refresh(spark, sfDir, cmds)),
    "DEDUP" -> CorpusIndex("documents", "text", "ADMIT", "documents",
      Seq(operators.DedupIndex.tableName("bands")),
      _ => { operators.DedupIndex.build(spark, sfDir, cmds); "" },
      () => operators.DedupIndex.drop(spark, cmds),
      () => operators.DedupIndex.refresh(spark, sfDir, cmds)))

  /** A streaming `verb` over the stored `noun` (VECTOR|DEDUP) index needs
    * its built tables. */
  private def requireStoredIndex(verb: String, noun: String): Unit =
    require(corpusIndexes(noun).served.forall(cmds.tableExists),
      s"$verb needs the stored ${noun.toLowerCase(java.util.Locale.ROOT)} " +
        s"index - run BUILD $noun INDEX first")

  /** The inventory query a RUN QUERY verb names — exact name first, then
    * case-insensitive — built over `dirOpt` (default: this engine's
    * corpus). Returns the name and the frame. */
  private def inventoryQuery(verb: String, quoted: String, bare: String,
      dirOpt: String): (String, DataFrame) = {
    val name = Option(quoted).getOrElse(bare)
    val queries = SparkEntry.queries
    val fn = queries.get(name)
      .orElse(queries.collectFirst {
        case (k, f) if k.equalsIgnoreCase(name) => f
      })
      .getOrElse(throw new IllegalArgumentException(
        s"$verb: unknown query '$name' - SHOW QUERIES lists the inventory"))
    (name, fn(spark, Option(dirOpt).getOrElse(sfDir)))
  }

  /** TOP k [DIVERSIFY λ [OVER n]] of SEARCH VECTORS and its streaming
    * face: k, and for DIVERSIFY (λ in tenths, rerank-pool width). λ in
    * tenths keeps the MMR greedy exact-integer (the s109/s110
    * convention); a finer λ would need a wider integer unit, so the
    * surface refuses it rather than silently rounding. The pool defaults
    * to max(10, 3k). */
  private def topDiversify(verb: String, kOpt: String, lamOpt: String,
      overOpt: String): (Int, Option[(Int, Int)]) = {
    val k = Option(kOpt).map(_.toInt).getOrElse(3)
    if (k < 1) throw new IllegalArgumentException(
      s"$verb: TOP must be >= 1; got $k")
    (k, Option(lamOpt).map { l =>
      val lam = l.toDouble
      if (lam < 0 || lam > 1 ||
          math.abs(lam * 10 - math.round(lam * 10)) > 1e-9)
        throw new IllegalArgumentException(
          s"$verb: DIVERSIFY lambda must be one of 0.0, 0.1, ..., 1.0; " +
            s"got $l")
      val shortK = Option(overOpt).map(_.toInt)
        .getOrElse(math.max(10, 3 * k))
      if (shortK < k) throw new IllegalArgumentException(
        s"$verb: DIVERSIFY OVER $shortK cannot be narrower than TOP $k - " +
          "the rerank pool must contain the answers")
      (math.round(lam * 10).toInt, shortK)
    })
  }

  /** THRESHOLD of DECONTAM VECTORS and its streaming face: a cosine. */
  private def decontamThreshold(verb: String, thrOpt: String): Double = {
    val thr = Option(thrOpt).map(_.toDouble).getOrElse(0.3)
    if (thr > 1) throw new IllegalArgumentException(
      s"$verb: THRESHOLD is a cosine, must be <= 1; got $thr")
    thr
  }

  /** The USING input of SEARCH/DECONTAM VECTORS: a warehouse table
    * (resolved case-insensitively like every DML route) or a session
    * catalog table or view (incl. the corpus externals) carrying
    * (`idCol`, embedding). */
  private def vectorSource(verb: String, tbl: String,
      idCol: String): DataFrame = {
    val df = cmds.resolveTable(tbl) match {
      case Some(t) => cmds.table(t)
      case None =>
        if (!spark.catalog.tableExists(tbl))
          throw new IllegalArgumentException(
            s"$verb: unknown table or view '$tbl'")
        spark.table(tbl)
    }
    val low = df.columns.map(_.toLowerCase)
    if (!low.contains(idCol) || !low.contains("embedding"))
      throw new IllegalArgumentException(
        s"$verb: '$tbl' must carry ($idCol, embedding) columns; " +
          s"got (${df.columns.mkString(", ")})")
    df
  }

  private def route(stmt: String): DataFrame = stmt match {
    case createColstore(temp, name, path) =>
      // reference: CREATE COLSTORE/TABLE ... FROM <file> profiles the file
      // and builds the columnar store (commands/CreateColStoreCommand.java,
      // storage/FileAnalyzer.java); Parquet picks encodings natively
      create("CREATE", name, temp != null, s"created colstore table $name")(
        cmds.createTable(name, readIngest(path, None)))
    case createColstoreAs(temp, name, select) =>
      // engine-native CTAS: the result of any query becomes a MANIFEST
      // table (versioned dirs + pointer), so it gets UPDATE/DELETE/txn/
      // VERIFY/OPTIMIZE — a plain Spark CTAS (the fallthrough) would make
      // a catalog-managed table outside the storage engine
      create("CREATE", name, temp != null,
        s"created colstore table $name from query")(
        cmds.createTable(name, query(parse(select))))
    case createTableDdl(temp, ifNotExists, name, colsDdl)
        if balancedParens(colsDdl) =>
      // reference: the canonical CREATE TABLE declares columns+constraints
      // (CreateTableCommand.java:1-332); here it publishes an EMPTY manifest
      // version carrying the declared schema, so the create→INSERT→UPDATE
      // lifecycle runs inside the storage engine from plain SQL
      if (ifNotExists != null && cmds.tableExists(name))
        status(s"table $name already exists")
      else create("CREATE", name, temp != null, s"created table $name") {
        val (schema, notNull, pk) = parseColumnDdl(colsDdl)
        cmds.createEmpty(name, schema, notNull, pk)
      }
    case loadFile(path, nameRaw) =>
      // reference: LOAD <file> INTO <table> appends (LoadFileCommand.java)
      // through the same manifest as INSERT, with the same guards: a
      // system table is refused, and loading into a live twin's sink
      // would race its per-batch commit
      val name = localName(Seq(nameRaw), "LOAD INTO")
      cmds.insertInto(name, readIngest(path, Some(cmds.table(name).schema)),
        commitSection(dropRoutes = true))
      status(s"loaded $path into $name")
    case createIndex(unique, _, idxType, tbl, colList) =>
      // reference: CREATE [UNIQUE] INDEX builds a B+-tree
      // (CreateIndexCommand.java); here it re-clusters into a bucketed
      // catalog table (see TableCommands.createIndexMulti for the 100 TB
      // rationale); UNIQUE additionally audits existing data (the column
      // TUPLE for composite keys) and records the constraint for
      // insert-time + VERIFY enforcement. Routing keys on the LEADING
      // column — the only prefix a clustered composite index serves.
      val cols = colList.split(",").map(_.trim).toSeq
      cmds.createIndexMulti(tbl, cols, unique = unique != null,
        idxType = if (idxType == null) "" else idxType)
      val idx = cmds.indexTableName(tbl, cols)
      recordIndex(tbl, cols.head, idx)
      status(s"indexed $tbl by ${cols.mkString(", ")} as $idx")
    case dropIndexStmt(ifExists, idxRaw) =>
      indexes.values.flatMap(_.values).find(_.equalsIgnoreCase(idxRaw)) match {
        case Some(idx) =>
          dropRoutesOf(idx)
          spark.sql(s"DROP TABLE IF EXISTS `$idx`")
          status(s"dropped index $idx")
        case None if ifExists != null =>
          status(s"index $idxRaw does not exist")
        case None => throw new IllegalArgumentException(
          s"DROP INDEX: no index named '$idxRaw' - SHOW INDEXES lists them")
      }
    case showIndexesStmt() =>
      import spark.implicits._
      indexes.toSeq.flatMap { case (base, m) =>
        m.values.toSeq.distinct.map { idx =>
          val cols = idx match {
            case indexName(_, cj) =>
              bucketColsOf(idx, base, cj).map(_.mkString(", "))
                .getOrElse(cj)
            case _ => ""
          }
          (base, cols, idx)
        }
      }.distinct.sortBy(_._3).toDF("table", "columns", "index")
    case explainRunQueryStmt(quoted, bare, dirOpt) =>
      // plan only — the query is PLANNED, never executed (EXPLAIN must
      // not pay a corpus scan). One row, one `plan` column, matching
      // EXPLAIN UPDATE's convention.
      val (_, df) = inventoryQuery("EXPLAIN RUN QUERY", quoted, bare, dirOpt)
      status(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")),
        "plan")
    case analyzeRunQueryStmt(quoted, bare, dirOpt) =>
      // EXECUTE the inventory query, then read the final adaptive plan's
      // operator metrics. Driving THIS DataFrame's QueryExecution (not a
      // fresh action) is what finalizes AQE and populates the counters;
      // the walk must descend through AdaptiveSparkPlanExec and the
      // materialized QueryStageExec wrappers — `children` alone stops at
      // stage boundaries and would report an empty tree under AQE.
      val (_, df) = inventoryQuery("ANALYZE RUN QUERY", quoted, bare, dirOpt)
      import spark.implicits._
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{
        AdaptiveSparkPlanExec, QueryStageExec}
      val qe = df.queryExecution
      qe.toRdd.foreach(_ => ())
      def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case other => other.children.flatMap(walk)
      })
      walk(qe.executedPlan).zipWithIndex.flatMap { case (node, i) =>
        node.metrics.toSeq.map { case (_, m) =>
          (i.toLong, node.nodeName, m.name.getOrElse("metric"), m.value)
        }
      }.toDF("node_id", "operator", "metric", "value")
    case runQueryStmt(quoted, bare, dirOpt, intoOpt) =>
      val (name, df) = inventoryQuery("RUN QUERY", quoted, bare, dirOpt)
      Option(intoOpt) match {
        // INTO = the inventory's CTAS: land the verdict frame (dedup
        // decisions, quality gates, …) as a managed warehouse table so
        // downstream DML/MERGE/SEARCH reads a pinned snapshot instead of
        // re-running the operator. Same createTable path as CREATE TABLE
        // AS — reserved-name guard, versioned publish, atomic pointer
        // swap — so a served index can never be clobbered.
        case Some(tbl) =>
          create("RUN QUERY INTO", tbl, temporary = false,
            s"created table $tbl from query $name")(cmds.createTable(tbl, df))
        case None => df
      }
    case showQueriesStmt() =>
      import spark.implicits._
      SparkEntry.queries.keys.toSeq.sorted.toDF("query")
    case searchVectorsStmt(tbl, kOpt, lamOpt, overOpt) =>
      val (k, mmr) = topDiversify("SEARCH VECTORS", kOpt, lamOpt, overOpt)
      val q = vectorSource("SEARCH VECTORS", tbl, "q_id")
      mmr match {
        case None => operators.Similarity.searchVectors(spark, sfDir, q, k)
        case Some((lambdaTenths, shortK)) =>
          operators.Similarity.searchVectorsDiversified(spark, sfDir, q,
            k = k, shortK = shortK, lambdaTenths = lambdaTenths)
      }
    case decontamVectorsStmt(tbl, thrOpt) =>
      val thr = decontamThreshold("DECONTAM VECTORS", thrOpt)
      operators.Similarity.decontamVectors(spark, sfDir,
        vectorSource("DECONTAM VECTORS", tbl, "vec_id"), thr)
    case corpusIndexStmt(verbRaw, nounRaw, tbl, modeRaw) if modeRaw == null ||
        s"$verbRaw $nounRaw".equalsIgnoreCase("BUILD VECTOR") =>
      val verb = s"$verbRaw $nounRaw INDEX".toUpperCase(java.util.Locale.ROOT)
      val ix = corpusIndexes(nounRaw.toUpperCase(java.util.Locale.ROOT))
      if (!tbl.equalsIgnoreCase(ix.corpus))
        throw new IllegalArgumentException(
          s"$verb: only the ${ix.corpus} corpus carries ${ix.carries}; " +
            s"got '$tbl'")
      // USING EXACT (default) | USING COARSE — the opt-in two-level √k
      // assignment for corpora where k tracks n (recall-audited, not
      // bit-parity; see VectorIndex.build)
      val mode = Option(modeRaw).map(_.toLowerCase).getOrElse("exact")
      if (mode != "exact" && mode != "coarse")
        throw new IllegalArgumentException(
          s"$verb: unknown mode '$modeRaw' (USING EXACT|COARSE)")
      // single-writer fence: BUILD and REFRESH republish, and DROP
      // deletes, the very tables a running ingest appends into
      requireNoIngest(ix.ingestKind, verb)
      val noun = nounRaw.toLowerCase(java.util.Locale.ROOT)
      verbRaw.toUpperCase(java.util.Locale.ROOT) match {
        case "BUILD" => status(s"built $noun index on $tbl${ix.build(mode)}")
        case "DROP" => ix.drop(); status(s"dropped $noun index on $tbl")
        case _ => status(s"refreshed $noun index on $tbl " +
          s"(${ix.refresh()} ${ix.unit} appended)")
      }
    case showVectorIndexes() =>
      import spark.implicits._
      val metaT = operators.VectorIndex.tableName("meta")
      if (cmds.tableExists(metaT)) {
        val m = cmds.table(metaT).head()
        // coverage counts read the stored tables, not a corpus scan —
        // unequal n_assign/n_codes is the straggler signature REFRESH
        // heals (see Similarity.coveredIds)
        val nA = cmds.table(
          operators.VectorIndex.tableName("assign")).count()
        val nC = cmds.table(
          operators.VectorIndex.tableName("codes")).count()
        Seq(("embeddings", m.getString(0), m.getInt(1), m.getInt(2),
          m.getInt(3), operators.VectorIndex.buildMode(m), nA, nC))
          .toDF("corpus", "src", "m", "k", "iters", "mode",
            "n_assign", "n_codes")
      } else Seq.empty[(String, String, Int, Int, Int, String, Long, Long)]
        .toDF("corpus", "src", "m", "k", "iters", "mode",
          "n_assign", "n_codes")
    case showDedupIndexes() =>
      import spark.implicits._
      val metaT = operators.DedupIndex.tableName("meta")
      if (cmds.tableExists(metaT)) {
        val src = cmds.table(metaT).head().getString(0)
        val nB = cmds.table(
          operators.DedupIndex.tableName("bands")).count()
        Seq(("documents", src, nB)).toDF("corpus", "src", "n_bands")
      } else Seq.empty[(String, String, Long)]
        .toDF("corpus", "src", "n_bands")
    case refreshCorpus(dirOpt) =>
      val dir = Option(dirOpt).getOrElse(sfDir)
      Graft.invalidate(spark, dir)
      status(s"refreshed corpus $dir")
    case analyzeStmt(verbose, tblList) =>
      // warehouse tables re-register at the live version + compute column
      // stats; plain catalog tables get the stats pass directly. Either
      // way EXPLAIN's PlanCost lines carry real rowCounts afterwards.
      // The reference form takes a table LIST, analyzed in order
      // (commands/AnalyzeCommand.java:93-121 — one "Analyzing table X"
      // line per table); VERBOSE returns the freshly computed stats as
      // one row per table instead of the single status line.
      val tbls = tblList.split(",").map(_.trim).toSeq
      val resolved = tbls.map { tblRaw =>
        cmds.resolveTable(tblRaw) match {
          case Some(t) => cmds.analyze(t); t
          case None =>
            spark.sql(
              s"ANALYZE TABLE `$tblRaw` COMPUTE STATISTICS FOR ALL COLUMNS")
            tblRaw
        }
      }
      if (verbose != null) {
        import spark.implicits._
        // read the stats back from the catalog the pass just populated
        // (optimizedPlan.stats with CBO on) — no second scan
        resolved.map { t =>
          val df = spark.table(s"`$t`")
          val st = df.queryExecution.optimizedPlan.stats
          (t, st.rowCount.map(_.toLong).getOrElse(-1L),
            st.sizeInBytes.toLong, df.columns.length)
        }.toDF("table", "row_count", "size_bytes", "n_columns")
      } else status(s"analyzed ${resolved.mkString(", ")}")
    case txnStmt(kw) => // reference: BeginCommand/CommitCommand/RollbackCommand
      val before = cmds.warehouseTables
      val r = kw.toUpperCase.replaceAll("\\s+", " ") match {
        case "BEGIN" | "START TRANSACTION" => cmds.begin(); "begin"
        case "COMMIT" => cmds.commit(); "commit"
        case "ROLLBACK" => cmds.rollback(); "rollback"
      }
      if (r != "begin") {
        // pointers may have moved under registered catalog entries, and a
        // rollback deletes tables created inside the txn — drop their now-
        // dangling catalog entries too
        val after = cmds.warehouseTables
        after.filter(spark.catalog.tableExists).foreach(registerTable)
        (before.toSet -- after).foreach(t =>
          spark.sql(s"DROP TABLE IF EXISTS `$t`"))
      }
      if (r == "rollback")
        // restored pointers mean pre-txn data: an index built INSIDE the
        // txn snapshots mid-txn state and would silently serve it — drop
        // every recorded index (conservative; pre-txn indexes of mutated
        // tables were already dropped at mutation time)
        indexes.keys.toSeq.foreach(dropIndexesOf)
      status(r)
    case exitStmt() =>
      // reference: ExitCommand.java — a session-control acknowledgement;
      // the owning edge decides what "ending the session" means
      // (SharedServer closes the client connection; a REPL would stop)
      status("bye")
    case crashStmt(point) =>
      // reference: CrashCommand.java — a test-harness command that kills
      // the server to exercise crash recovery. Bare CRASH dies immediately;
      // CRASH AFTER STAGED|PUBLISHED arms the corresponding failpoint in
      // the next publish (see TableCommands.crashPoint), which is where the
      // manifest layout's crash-safety claim actually gets exercised.
      if (point == null) throw new IllegalStateException("simulated crash: CRASH")
      cmds.crashPoint = Some(point.toLowerCase)
      status(s"armed crash point ${point.toLowerCase}")
    case verifyStmt(tblRaw) => // reference: VerifyCommand (integrity check)
      val tbl = cmds.resolveTable(tblRaw).getOrElse(tblRaw)
      val n = cmds.verifyTable(tbl)
      // index-integrity audits (reference analog: VerifyCommand feeding
      // BTreeIndexVerifier, commands/VerifyCommand.java:68): VERIFY on an
      // index system table additionally audits the CROSS-TABLE invariants
      // the serve paths assume — the backstop for the one rotation hazard
      // the retired-dir list cannot catch (old files copied into a NEW
      // directory re-ingest as duplicate ids)
      val low = tbl.toLowerCase
      val extra =
        if (low.startsWith("vector_index_")) {
          auditVectorIndex(); "; vector index invariants hold"
        } else if (low.startsWith("dedup_index_")) {
          auditDedupIndex(); "; dedup index invariants hold"
        } else ""
      status(s"verified $tbl: $n rows$extra")
    case retainStmt(k, tblRaw) =>
      val tbl = cmds.resolveTable(tblRaw).getOrElse(tblRaw)
      cmds.setRetain(tbl, k.toInt)
      status(s"retaining last $k versions of $tbl")
    case showVersionsStmt(tblRaw) =>
      val tbl = cmds.resolveTable(tblRaw).getOrElse(
        throw new IllegalArgumentException(s"table $tblRaw does not exist"))
      import spark.implicits._
      val live = java.nio.file.Paths.get(cmds.dataPath(tbl))
        .getFileName.toString
      cmds.versionHistory(tbl)
        .map(v => (v, v == live)).toDF("version", "is_current")
    case startIngestStmt(kind, dir, aliasOpt, compactOpt, thresholdOpt) =>
      import org.apache.spark.sql.types._
      val k = kind.toUpperCase(java.util.Locale.ROOT)
      val name = Option(aliasOpt).getOrElse(
        if (k == "ADMIT") "admit_ingest" else "vector_ingest")
      val compactEvery = Option(compactOpt).map(_.toInt).getOrElse(0)
      if (Option(compactOpt).isDefined) require(compactEvery >= 1,
        s"COMPACT EVERY needs n >= 1 batches; got $compactEvery")
      val compactThresholdBytes = Option(thresholdOpt).map(_.toLong)
        .map { mb =>
          require(mb >= 1, s"COMPACT ... THRESHOLD needs m >= 1 MB; got $mb")
          mb << 20
        }.getOrElse(64L << 20)
      require(!ingests.contains(name),
        s"ingest $name already running - STOP INGEST $name first")
      // refused before anything is claimed, pinned or created
      if (k == "VECTOR")
        operators.VectorIndex.requireExactRouting(cmds, "START VECTOR INGEST")
      // one gate per kind: both gates of a kind would write the SAME
      // warehouse tables (verdicts + band index / assign + codes), and
      // the manifest layout is single-writer per table. The claim is the
      // DURABLE registry entry, so it holds across engine instances
      // sharing this warehouse — a second engine's same-kind START is
      // refused even though its in-memory maps are empty. A same-NAME
      // START is a RESUME of a prior session's gate and must match the
      // claim EXACTLY (same kind — a different-kind reuse would clobber
      // a live claim of the other kind — and same source). Liveness of
      // the prior session is the operator's call: within one JVM Spark
      // TAKES OVER the checkpoint (stopActiveRunOnRestart stops the
      // previous run before the new one processes — the ServeSqlSpec
      // takeover case pins the semantics); across JVMs nothing stops
      // the old run, so STOP INGEST the dead name first.
      val existing = registeredIngests.find(_._1 == name)
      existing.foreach { case (_, k0, d0, _) =>
        require(k0 == k,
          s"ingest '$name' is registered as a $k0 gate - pick another " +
            s"name or STOP INGEST $name first")
        require(d0 == dir,
          s"ingest '$name' was registered from '$d0' - resume from " +
            s"'$d0' or STOP INGEST $name first")
      }
      registeredIngests.find(_._2 == k).foreach { case (n, _, _, _) =>
        require(n == name,
          s"an $k ingest ('$n') is already registered on this warehouse " +
            s"- the index tables are single-writer; STOP INGEST $n first")
      }
      require(!ingestKinds.values.exists(_ == k),
        s"an $k ingest is already running - the index tables are " +
          "single-writer; STOP it first")
      // a directory retired by STOP ... PURGE cannot be re-watched: the
      // purge deleted the seen-files log, so a fresh checkpoint would
      // reprocess every old file under floor-lifted ids — duplicate
      // codes/assign rows on the VECTOR side. Rotation means a NEW dir.
      // Checked under BOTH the canonical spelling and the resolved real
      // path: a symlink to a retired directory points at the same files
      // and must not sidestep the refusal.
      val dirSpellings = Set(canonDir(dir)) ++
        (try Some(java.nio.file.Paths.get(dir).toRealPath().toString)
         catch { case _: java.io.IOException => None })
      require(ingestRetiredDirs(k).intersect(dirSpellings).isEmpty,
        s"'$dir' was retired by STOP INGEST ... PURGE and its processed-" +
          "files log is gone - re-watching it would reprocess every old " +
          "file; rotate to a new directory (or, to deliberately " +
          s"reprocess, remove the entry from ${ingestRetiredFile(k)})")
      // checkpoint keyed by KIND, not alias: the single-writer-per-kind
      // guard makes the kind unique, and the sink tables' _STREAM_BATCH
      // markers are monotonic PER TABLE — an alias-keyed checkpoint
      // (STOP INGEST foo; START ... AS bar) would restart Spark's batch
      // numbering at 0 against markers already at N, and every new
      // micro-batch id <= N would be silently skipped as a replay: total
      // silent data loss on a supported SQL surface. A warehouse that
      // predates kind-keying may hold a LEGACY alias-keyed checkpoint —
      // honored when the kind-keyed one does not exist yet, because ITS
      // numbering is the one the sink markers advanced past.
      val kindCkpt = s"$warehouse/_ingest_ckpt/" +
        k.toLowerCase(java.util.Locale.ROOT)
      val legacyCkpt = s"$warehouse/_ingest_ckpt/$name"
      val ckpt =
        if (!java.nio.file.Files.isDirectory(
              java.nio.file.Paths.get(kindCkpt)) &&
            java.nio.file.Files.isDirectory(
              java.nio.file.Paths.get(legacyCkpt))) legacyCkpt
        else kindCkpt
      // a file-stream checkpoint also pins its SOURCE: resuming it
      // against a different directory is undefined in the engine (seen-
      // files log and offsets refer to the old source), so the first
      // START records the source beside the checkpoint and later STARTs
      // must match it
      val srcFile = java.nio.file.Paths.get(s"$ckpt.src")
      val srcWasNew = !java.nio.file.Files.exists(srcFile)
      if (!srcWasNew) {
        val d0 = java.nio.file.Files.readString(srcFile).trim
        require(d0 == dir,
          s"the $k ingest checkpoint was created for source '$d0' and a " +
            s"file-stream checkpoint pins its source - resume from '$d0' " +
            s"or rotate sources with STOP INGEST <name> PURGE")
      }
      // migration/rotation guard: starting from a FRESH checkpoint while
      // the kind's sink tables already carry committed batch markers is
      // the silent-loss mode (Spark restarts ids at 0, every id <= the
      // marker is skipped as a replay) — legal ONLY when a rotation
      // floor lifts the ids past the markers. A pre-registry warehouse
      // whose legacy alias-keyed checkpoint lives under a DIFFERENT name
      // lands here too: refuse and direct, never lose.
      val floor = ingestFloor(k)
      val ckptPath = java.nio.file.Paths.get(ckpt)
      val floorPin = ckptPath.resolve("_graft_floor")
      val ckptFresh = !java.nio.file.Files.isDirectory(ckptPath)
      if (ckptFresh && floor == 0L) {
        val high = ingestMarkerHigh(k)
        require(high < 0L,
          s"the $k sink tables already carry committed stream batches " +
            s"(marker $high) but no $k checkpoint exists - a fresh " +
            "checkpoint would restart batch numbering at 0 and the " +
            "markers would silently swallow every new batch. Resume " +
            "under the original ingest name (its checkpoint carries the " +
            "numbering), or retire it with STOP INGEST <name> PURGE to " +
            "rotate sources safely")
      }
      // floor PIN: every checkpoint records (inside its own directory,
      // so the two live and die together) the rotation floor its batch
      // ids are lifted by. A purge that died between the kind's floor
      // write and the checkpoint deletion leaves the OLD checkpoint
      // alive under a LIFTED floor — resuming it would run earlier-
      // numbered ids under the new offset, so a batch whose offsets were
      // logged but whose commit-log entry was unwritten (while the sink
      // marker had already advanced) replays as id B+floor > marker and
      // RE-COMMITS its rows: duplicate codes/assign. A resume therefore
      // requires pin == floor; a mismatch means a rotation is half-done
      // and must be completed, never resumed across.
      if (!ckptFresh) {
        if (java.nio.file.Files.exists(floorPin)) {
          val pinned = java.nio.file.Files.readString(floorPin).trim.toLong
          require(pinned == floor,
            s"the $k checkpoint was created under rotation floor $pinned " +
              s"but the kind's floor now reads $floor - a STOP ... PURGE " +
              "died between the floor write and the checkpoint deletion, " +
              "and resuming across the half-done rotation could replay an " +
              "uncommitted batch under shifted ids (duplicate rows past " +
              "the sink markers). Complete the rotation with STOP INGEST " +
              s"$name FORCE PURGE, then START from a new directory")
        } else if (floor != 0L) {
          // a pre-pin checkpoint under a lifted floor is the SAME
          // ambiguity (created before or after the lift? unprovable) —
          // refuse toward the lossless path
          throw new IllegalStateException(
            s"the $k checkpoint predates floor pinning and the kind's " +
              s"floor reads $floor - cannot prove the checkpoint's ids " +
              "already include this floor. Complete the rotation with " +
              s"STOP INGEST $name FORCE PURGE, then START from a new " +
              "directory")
        } else {
          // legacy checkpoint, floor still 0: numbering provably
          // unshifted — self-heal by pinning now
          java.nio.file.Files.writeString(floorPin, "0"); ()
        }
      } else {
        java.nio.file.Files.createDirectories(ckptPath)
        java.nio.file.Files.writeString(floorPin, floor.toString); ()
      }
      // claim the single-writer registration BEFORE the stream starts
      // (the reverse order has a window where the gate is already
      // committing but invisible to other engines); the claim is
      // CREATE-only, so two racing engines cannot both win, and a resume
      // keeps the existing entry untouched. A failed start rolls back
      // only a claim WE created — never a prior session's.
      if (existing.isEmpty) claimIngest(name, k, dir)
      // per-TABLE sink claims (the generic fence OPTIMIZE/DML check):
      // idempotent for the deterministic per-kind owner, so resumes and
      // restarts re-claim transparently.
      def unclaim(): Unit = if (existing.isEmpty) deregisterIngest(name, k)
      try ingestSinkTables(k).foreach(t => cmds.claimSink(t, s"ingest:$k"))
      catch { case e: Throwable => unclaim(); throw e }
      // each sink also gets the default 5-version retain window unless
      // the operator chose one — the reader-vs-sweep grace the chaos
      // soak showed every continuously-appended table needs (BUILD
      // already covers the index tables; this covers the verdict/
      // quarantine logs, created lazily by their first batch). Defaulted
      // AFTER the claims succeed: setRetainAhead mkdirs the table dir,
      // and a claim refusal must not strand RETAIN-only dirs that a
      // later unrelated CREATE TABLE would silently inherit. The list of
      // tables WE defaulted feeds the stream-start rollback below.
      val retainDefaulted = ingestSinkTables(k).filterNot(cmds.hasRetain)
      retainDefaulted.foreach(t => cmds.setRetainAhead(t, 5))
      // the source pin also lands BEFORE the stream starts: a crash
      // between start and pin would leave a live checkpoint resumable
      // against any directory unchecked
      if (srcWasNew) {
        java.nio.file.Files.createDirectories(srcFile.getParent)
        java.nio.file.Files.writeString(srcFile, dir)
      }
      // per-batch heartbeat: touch the durable claim's mtime so SHOW
      // INGESTS can surface claim AGE — the evidence an operator needs
      // to tell a dead session's claim from a live gate before STOP
      // INGEST ... FORCE releases it
      val claimPath = claimFileOf(name)
      val beat: () => Unit = () => claimPath.foreach { p =>
        try java.nio.file.Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis()))
        catch { case _: java.io.IOException => () } // claim being STOPped
      }
      val q = try {
        if (k == "ADMIT") {
          requireStoredIndex("START ADMIT INGEST", "DEDUP")
          val docs = spark.readStream
            .schema(StructType(Seq(StructField("doc_id", LongType),
              StructField("text", StringType))))
            .parquet(dir)
          streaming.DocStreams.admitAndIndex(docs, cmds,
            checkpoint = Some(ckpt), compactEvery = compactEvery,
            compactThresholdBytes = compactThresholdBytes,
            batchOffset = floor, heartbeat = beat)
        } else {
          requireStoredIndex("START VECTOR INGEST", "VECTOR")
          val vecs = spark.readStream
            .schema(StructType(Seq(StructField("vec_id", LongType),
              StructField("embedding", ArrayType(FloatType)))))
            .parquet(dir)
          streaming.VectorStreams.ingest(vecs, cmds,
            checkpoint = Some(ckpt), compactEvery = compactEvery,
            compactThresholdBytes = compactThresholdBytes,
            batchOffset = floor, heartbeat = beat)
        }
      } catch { case e: Throwable =>
        unclaim()
        // retain windows THIS start defaulted roll back too — a refused
        // START must leave no RETAIN-only table dirs behind
        retainDefaulted.foreach(cmds.clearRetain)
        // a checkpoint dir this START created only to hold the floor pin
        // is removed (Spark never populated it — its numbering is not
        // real); a Spark-populated one stays, and so does its pin
        if (ckptFresh &&
            Option(ckptPath.toFile.listFiles()).getOrElse(Array.empty)
              .forall(_.getName == "_graft_floor")) {
          java.nio.file.Files.deleteIfExists(floorPin)
          java.nio.file.Files.deleteIfExists(ckptPath); ()
        }
        // a refused START must not pin a source the checkpoint never
        // saw — but if the engine DID create the checkpoint before
        // failing, the pin is true and stays
        if (srcWasNew && !java.nio.file.Files.isDirectory(ckptPath))
          java.nio.file.Files.deleteIfExists(srcFile)
        throw e
      }
      ingests(name) = q
      ingestKinds(name) = k
      // route the claim-mtime heartbeat through the listener too: the
      // foreachBatch beat stops on a quiet source, the listener's
      // onQueryIdle does not — heartbeat_age_sec stays bounded while the
      // gate lives (see the listener's construction comment)
      heartbeatsByQuery.put(q.runId, beat)
      status(s"started ${k.toLowerCase} ingest $name from $dir")
    case showIngestsStmt() =>
      import spark.implicits._
      // durable registry entries first (is_active reflects whether THIS
      // session runs the query — false means a prior session's gate,
      // resumable by START under the same name or cleared by STOP);
      // in-memory-only entries shouldn't exist but are listed defensively.
      // heartbeat_age_sec = seconds since the claim file's mtime, which
      // every gate touches per micro-batch: a small age on an inactive
      // row means ANOTHER live engine owns the gate; a large age is the
      // evidence that justifies STOP INGEST <name> FORCE.
      val now = System.currentTimeMillis()
      val durable = registeredIngests
      val durableNames = durable.map(_._1).toSet
      (durable.map { case (n, k, d, f) =>
        val age = try (now - java.nio.file.Files
          .getLastModifiedTime(f).toMillis) / 1000L
        catch { case _: java.io.IOException => -1L }
        (n, ingests.get(n).exists(_.isActive),
          k.toLowerCase(java.util.Locale.ROOT), d, age)
      } ++ ingests.keys.filterNot(durableNames).toSeq.sorted.map(n =>
        (n, ingests(n).isActive,
          ingestKinds.getOrElse(n, "").toLowerCase(java.util.Locale.ROOT),
          "", -1L)))
        .toDF("name", "is_active", "kind", "source", "heartbeat_age_sec")
    case stopIngestStmt(name, forceOpt, purgeOpt) =>
      val force = Option(forceOpt).isDefined
      val purge = Option(purgeOpt).isDefined
      // PURGE retires the kind's checkpoint (and its source pin) so the
      // NEXT START may watch a different directory — the one supported
      // source-rotation path. Loss-safety: before deleting, the current
      // marker highwater + 1 is recorded as the kind's rotation FLOOR;
      // the fresh checkpoint's batch ids (restarting at 0) are lifted by
      // it, so every new commit lands above the old markers. Crash
      // analysis: floor lands first (atomic move), so a crash mid-purge
      // leaves either (floor + old checkpoint) — a resume just runs with
      // offset ids, still monotone — or (floor + no checkpoint) — the
      // rotation completes on the next START. No ordering loses a batch.
      // idempotent and re-runnable: a crash at ANY point mid-purge is
      // recovered by repeating STOP <name> [FORCE] PURGE — the floor
      // write is max-monotone, the retired append tolerates duplicates
      // (read as a set), the deletes tolerate absence, and the
      // registration (removed LAST) keeps the name addressable until
      // the purge has fully completed
      def retireCheckpoint(kind: String, gateName: String,
          srcDir: String): Unit = {
        // TORN-PAIR refusal, BEFORE the floor write: a session that died
        // between the two appends of one micro-batch (codes committed,
        // assign not — or verdicts committed, bands not) left a torn
        // batch that ONLY Spark's replay of that batch heals. PURGE
        // deletes the checkpoint and with it the replay, permanently
        // breaking the pair invariant (assign∩codes nesting; admitted ⊆
        // band index) — so a purge is refused while the kind's paired
        // sink markers disagree, and because the refusal precedes the
        // floor write, the directed recovery (resume once) is still
        // permitted by the floor pin.
        val torn = ingestPairedSinks(kind)
          .filter(cmds.tableExists)
          .map(t => t -> cmds.lastCommittedBatch(t).getOrElse(-1L))
        if (torn.map(_._2).distinct.size > 1)
          throw new IllegalStateException(
            s"refusing PURGE: the $kind sink pair is torn (" +
              torn.map { case (t, m) => s"$t marker $m" }
                .mkString(", ") +
              ") - a session died between the paired appends of one " +
              "micro-batch and only a checkpoint replay heals it. " +
              "Resume the gate once under the same name and source and " +
              "let it process at least one batch, then re-run " +
              s"STOP INGEST $gateName PURGE")
        val f = ingestFloorFile(kind)
        val floor = math.max(ingestMarkerHigh(kind) + 1L,
          ingestFloor(kind))
        java.nio.file.Files.createDirectories(f.getParent)
        val tmp = f.resolveSibling(f.getFileName.toString + ".tmp")
        java.nio.file.Files.writeString(tmp, floor.toString)
        java.nio.file.Files.move(tmp, f,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        // retire the source BEFORE deleting the checkpoint: once the
        // seen-files log is gone, a same-dir START would reprocess
        // every old file — the retired list closes that window first
        if (srcDir.nonEmpty &&
            !ingestRetiredDirs(kind).contains(canonDir(srcDir))) {
          java.nio.file.Files.writeString(ingestRetiredFile(kind),
            canonDir(srcDir) + "\n",
            java.nio.file.StandardOpenOption.CREATE,
            java.nio.file.StandardOpenOption.APPEND); ()
        }
        val base = java.nio.file.Paths.get(s"$warehouse/_ingest_ckpt")
        Seq(base.resolve(kind.toLowerCase(java.util.Locale.ROOT)),
          base.resolve(gateName)).foreach { d =>
          if (java.nio.file.Files.isDirectory(d))
            commands.TableCommands.rm(d.toFile)
          java.nio.file.Files.deleteIfExists(
            d.resolveSibling(d.getFileName.toString + ".src")); ()
        }
      }
      ingests.get(name) match {
        case Some(q) =>
          val srcDir = registeredIngests.collectFirst {
            case (n, _, dd, _) if n == name => dd }.getOrElse("")
          q.stop()
          heartbeatsByQuery.remove(q.runId)
          ingests.remove(name)
          val kind = ingestKinds.remove(name)
          if (purge) kind.foreach(retireCheckpoint(_, name, srcDir))
          deregisterIngest(name, kind.getOrElse("?"))
          status(s"stopped ingest $name" + (if (purge)
            " (checkpoint purged; source retired; rotation floor " +
              "recorded - the next START must watch a new source)" else ""))
        case None =>
          registeredIngests.find(_._1 == name) match {
            case Some((_, kind, srcDir, _)) =>
              // a registration this session does NOT run may still be a
              // LIVE gate in another engine over the same warehouse —
              // releasing its single-writer claim reopens the kind to a
              // second writer. Deliberate operator action only: FORCE.
              if (!force) throw new IllegalStateException(
                s"ingest $name is not running in this session - its " +
                  "registration may belong to a live engine elsewhere " +
                  "(SHOW INGESTS surfaces heartbeat_age_sec); release a " +
                  s"dead claim deliberately with STOP INGEST $name FORCE")
              if (purge && kind != "?")
                retireCheckpoint(kind, name, srcDir)
              deregisterIngest(name, kind)
              // an unparseable registration has NO recoverable kind: the
              // checkpoint and source pin cannot be located, so a PURGE
              // did NOT happen — say so instead of reporting a rotation
              // that never ran
              status(s"stopped ingest $name (cleared prior-session " +
                "registration; checkpoint " +
                (if (purge && kind == "?")
                  "NOT purged - registration was malformed (unknown " +
                    "kind), so no rotation floor was recorded)"
                 else if (purge) "purged)" else "retained)"))
            case None => throw new IllegalArgumentException(
              s"no ingest named $name - SHOW INGESTS lists them")
          }
      }
    case showSinksStmt() =>
      import spark.implicits._
      // claim_age_sec = seconds since the claim file's mtime. For
      // `ingest:*` owners the LIVENESS evidence is SHOW INGESTS'
      // heartbeat_age_sec (the registry claim is the beaten one); for
      // SQL-face serve/decontam twins the SINK claim itself is beaten
      // (per batch + from the idle listener), so the age reads as
      // liveness; for Scala-API twins a restart re-claims (fresh age).
      // A very old claim whose owner is known-gone is the
      // RELEASE SINK ... FORCE case either way.
      val now = System.currentTimeMillis()
      cmds.sinkClaims
        .map { case (t, o, mt) => (t, o, (now - mt) / 1000L) }
        .toDF("table", "owner", "claim_age_sec")
    case releaseSinkStmt(tblRaw) =>
      val tbl = cmds.resolveTable(tblRaw).getOrElse(tblRaw)
      cmds.sinkOwner(tbl) match {
        case Some(o) =>
          cmds.releaseSink(tbl)
          status(s"released sink claim on $tbl (was held by $o) - if " +
            "that stream is still alive, its table now has two writers")
        case None => throw new IllegalArgumentException(
          s"RELEASE SINK: no sink claim on '$tbl'")
      }
    case startServeStmt(dir, tblRaw, kOpt, lamOpt, overOpt, aliasOpt) =>
      val sink = guardSystemTable(
        cmds.resolveTable(tblRaw).getOrElse(tblRaw), "START SERVE ... INTO")
      val (k, mmr) =
        topDiversify("START SERVE VECTORS", kOpt, lamOpt, overOpt)
      requireStoredIndex("START SERVE VECTORS", "VECTOR")
      val sName = startServeTwin(Option(aliasOpt), dir, sink,
        kind = if (mmr.isDefined) "SERVE_MMR" else "SERVE", idCol = "q_id",
        mk = (qs, beat, ckpt) => mmr match {
          case None => streaming.VectorStreams.serve(qs, sfDir, cmds,
            sink, k, checkpoint = Some(ckpt), heartbeat = beat)
          case Some((lt, sk)) => streaming.VectorStreams.serveDiversified(
            qs, sfDir, cmds, sink, k, sk, lt,
            checkpoint = Some(ckpt), heartbeat = beat)
        })
      status(s"started serve $sName from $dir into $sink")
    case startDecontamStmt(dir, tblRaw, thrOpt, aliasOpt) =>
      val sink = guardSystemTable(
        cmds.resolveTable(tblRaw).getOrElse(tblRaw),
        "START DECONTAM ... INTO")
      val thr = decontamThreshold("START DECONTAM VECTORS", thrOpt)
      val sName = startServeTwin(Option(aliasOpt), dir, sink,
        kind = "DECONTAM", idCol = "vec_id",
        mk = (vs, beat, ckpt) => streaming.VectorStreams.decontamGate(vs,
          sfDir, cmds, sink, thr, checkpoint = Some(ckpt),
          heartbeat = beat))
      status(s"started decontam $sName from $dir into $sink")
    case stopServeStmt(name, purgeOpt) =>
      val purge = purgeOpt != null
      def purgeCkpt(sink: String): Unit = {
        val d = serveCkptDir(sink)
        if (java.nio.file.Files.isDirectory(d))
          commands.TableCommands.rm(d.toFile)
        java.nio.file.Files.deleteIfExists(
          d.resolveSibling(d.getFileName.toString + ".src"))
        java.nio.file.Files.deleteIfExists(
          d.resolveSibling(d.getFileName.toString + ".kind")); ()
      }
      serves.remove(name) match {
        case Some((q, _, sink, _)) =>
          q.stop()
          heartbeatsByQuery.remove(q.runId)
          if (purge) purgeCkpt(sink)
          // the sink claim releases via the twin's own termination
          // listener (nonce-guarded) — nothing to force here
          status(s"stopped serve $name" + (if (purge)
            " (checkpoint purged - a fresh START over the marker-" +
              "carrying sink is refused until the sink is dropped or " +
              "renamed)" else ""))
        case None =>
          // cross-session: no in-memory handle, but the checkpoint —
          // keyed by SINK table — may belong to a dead session's twin.
          // STOP SERVE <sink> PURGE retires it; claims, if the session
          // died without releasing, are released deliberately with
          // RELEASE SINK ... FORCE (SHOW SINKS shows the evidence).
          val sink = cmds.resolveTable(name).getOrElse(name)
          // ... unless a twin in THIS session serves that sink under an
          // alias: purging a LIVE stream's checkpoint out from under it
          // corrupts its resumable state — direct to the handle
          serves.collectFirst {
            case (n, (_, _, s, _)) if s.equalsIgnoreCase(sink) => n
          }.foreach(n => throw new IllegalArgumentException(
            s"sink $sink is served by '$n' in this session - " +
              s"STOP SERVE $n" + (if (purge) " PURGE" else "")))
          if (java.nio.file.Files.isDirectory(serveCkptDir(sink))) {
            if (purge) {
              purgeCkpt(sink)
              status(s"no running serve named $name in this session; " +
                "purged the checkpoint for sink " + sink +
                " - a fresh START over the marker-carrying sink is " +
                "refused until the sink is dropped or renamed")
            } else status(s"no running serve named $name in this " +
              s"session; checkpoint for sink $sink retained (resumable " +
              "with START ... INTO " + sink + ")")
          } else throw new IllegalArgumentException(
            s"no serve named $name - SHOW SERVES lists this session's " +
              "serves; SHOW SINKS lists durable sink claims")
      }
    case showServesStmt() =>
      import spark.implicits._
      serves.toSeq.map { case (n, (q, kind, sink, src)) =>
        (n, kind.toLowerCase(java.util.Locale.ROOT), sink, src,
          q.isActive)
      }.toDF("name", "kind", "sink", "source", "is_active")
    case snapshotStmt(tblRaw, verQ, verBare, alias) =>
      val tbl = cmds.resolveTable(tblRaw).getOrElse(
        throw new IllegalArgumentException(s"table $tblRaw does not exist"))
      val path = cmds.snapshotPath(tbl, Option(verQ).getOrElse(verBare))
      val ver = java.nio.file.Paths.get(path).getFileName.toString
      // an alias is ONE snapshot: re-registering it MOVES the pin (the
      // temp view is replaced below, so the old pin would otherwise leak
      // — an orphaned pin blocks sweeping its version forever); the move
      // scans every table because the alias may previously have pinned a
      // DIFFERENT table
      cmds.warehouseTables.filter(_ != tbl).foreach(t =>
        cmds.unpinAlias(t, alias))
      // pin BEFORE registering the view: the version must be sweep-proof
      // from the instant a reader can resolve the alias. The pin is
      // durable (PINS file) — a swept-under-the-reader snapshot is the
      // failure mode this exists to prevent — and released only by an
      // explicit DROP SNAPSHOT.
      cmds.pinVersion(tbl, alias, ver)
      spark.read.parquet(path).createOrReplaceTempView(alias)
      status(s"snapshot $alias -> $tbl @ $ver (pinned until DROP SNAPSHOT)")
    case dropSnapshotStmt(alias) =>
      // unpin from EVERY table carrying the alias (defense in depth
      // against pins leaked by older engines), not just the first hit
      val hit = cmds.warehouseTables.filter(t =>
        cmds.pins(t).exists(_._1.equalsIgnoreCase(alias)))
      if (hit.isEmpty) throw new IllegalArgumentException(
        s"DROP SNAPSHOT: no snapshot named '$alias' is pinned")
      hit.foreach(t => cmds.unpinAlias(t, alias))
      spark.catalog.dropTempView(alias)
      status(s"dropped snapshot $alias " +
        s"(version of ${hit.mkString(", ")} unpinned)")
    case showSnapshotsStmt() =>
      import spark.implicits._
      // is_viewable: the session-scoped temp view may be gone after a
      // restart while the durable pin remains — re-issue SNAPSHOT (same
      // version, still retained BECAUSE pinned) to re-create the view
      cmds.warehouseTables.flatMap(t => cmds.pins(t).map {
        case (alias, ver) =>
          (alias, t, ver, spark.catalog.tableExists(alias))
      }).sortBy(_._1)
        .toDF("snapshot", "table", "version", "is_viewable")
    case optimizeStmt(tblRaw, zcolsRaw) =>
      // reference: OptimizeCommand (compaction); ZORDER BY adds the
      // multi-dimensional clustering rewrite (see TableCommands Scaladoc)
      val tbl = cmds.resolveTable(tblRaw).getOrElse(tblRaw)
      // OPTIMIZE is a legal maintenance verb on index tables (compacting
      // the small files appendCommitted accumulates is exactly its job) —
      // but not while a live stream is committing into the same manifest:
      // single-writer per table. The sink claim is the generic fence —
      // it covers the gate-written index/log tables AND any caller-named
      // Scala-API twin sink, with no table-name list to fall out of date.
      requireNoSinkClaim(tbl, s"OPTIMIZE $tbl")
      val zcols = Option(zcolsRaw).toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      cmds.optimizeTable(tbl, zorderBy = zcols,
        commit = commitSection(dropRoutes = false))
      status(s"optimized $tbl")
    case engineOnlyHead(head) =>
      // a statement whose leading keyword(s) belong to the ENGINE-ONLY
      // surface but that matched no engine form is MALFORMED — erroring
      // here (with the head named) beats falling through to spark.sql,
      // whose parse error would point at grammar Spark doesn't have, or
      // worse: silently executing a near-miss through a different code
      // path (reference analog: nanosql.g rejects at the statement rule,
      // never reinterprets). Shared keywords (CREATE/DROP TABLE, SELECT,
      // INSERT, UPDATE, DELETE, MERGE, EXPLAIN, ANALYZE, SHOW) go on to
      // [[dispatch]] by design — Spark's parser owns their grammar.
      throw new IllegalArgumentException(
        s"malformed ${head.trim.toUpperCase(java.util.Locale.ROOT)
          .replaceAll("\\s+", " ")} statement - check quoting and " +
          "argument forms (engine statements take unquoted \\w+ names, " +
          "single-quoted paths, and balanced quotes)")
    case other => dispatch(parse(other))
  }

  /** Every statement no engine verb took, as Spark's parser reads it:
    *  - a query runs with index routing; EXPLAIN of one (simple mode)
    *    prints the engine's cost EXPLAIN: Spark's own has no cost numbers,
    *    the reference prints PlanCost per node (TableCommands.explain);
    *  - UPDATE, DELETE and MERGE, and EXPLAIN of each, run in [[dml]];
    *  - an INSERT into a warehouse table appends a new version
    *    ([[insert]]); a CTE ahead of it (`WITH s AS (...) INSERT ...`)
    *    moves onto its source query;
    *  - DROP TABLE [PURGE] of a warehouse table drops its manifest dirs,
    *    catalog entry and indexes — a catalog-only drop would wedge the
    *    name (unreadable, yet refused by CREATE);
    *  - anything else runs as Spark SQL behind the write guard
    *    ([[writes]]). */
  private def dispatch(plan: LogicalPlan): DataFrame = plan match {
    case ExplainCommand(q, SimpleMode) if isQuery(q) =>
      status(cmds.explain(query(q)), "plan")
    case ExplainCommand(d, _) if isDml(d) => dml(d, explain = true)
    case d if isDml(d) => dml(d, explain = false)
    case w @ UnresolvedWith(i: InsertIntoStatement, _, _) =>
      dispatch(i.copy(query = w.copy(child = i.query)))
    case i @ InsertIntoStatement(Warehouse(_), part, _, _, false, _, _)
        if part.isEmpty => insert(i)
    case DropTable(ref @ Warehouse(_), _, _) =>
      val tbl = localName(nameParts(ref), "DROP TABLE")
      dropWarehouseTable(tbl)
      status(s"dropped $tbl")
    case q if isQuery(q) => query(q)
    case other =>
      // a warehouse table written by Spark SQL would bypass versioning:
      // the files land in the LIVE version directory — no version bump,
      // no sink-claim fence, snapshot pins aimed at it silently change,
      // the stream marker dies with an overwrite — and ALTER ... RENAME/
      // SET LOCATION desyncs the catalog entry from the manifest. Refuse
      // with the engine verbs named; a written catalog table keeps the
      // fallthrough and leaves index routing.
      val ws = writes(other)
      ws.collectFirst { case (verb, Warehouse(t)) =>
        throw new UnsupportedOperationException(s"graft engine: $verb on colstore " +
          s"table '$t' would mutate the manifest-backed store outside its versioning " +
          "- use the engine's INSERT INTO / UPDATE / DELETE FROM / MERGE INTO / LOAD " +
          "/ DROP TABLE forms")
      }
      ws.flatMap(w => nameParts(w._2).lastOption).foreach(dropRoutesOf)
      Bridge.ofRows(spark, other)
  }

  /** A plan with no command or write statement in it. */
  private def isQuery(plan: LogicalPlan): Boolean =
    !plan.exists(p => p.isInstanceOf[Command] || p.isInstanceOf[ParsedStatement])

  private def isDml(plan: LogicalPlan): Boolean = plan.isInstanceOf[UpdateTable] ||
    plan.isInstanceOf[DeleteFromTable] || plan.isInstanceOf[MergeIntoTable]

  /** A query, served from a bucketed index where one applies. */
  private def query(plan: LogicalPlan): DataFrame =
    Bridge.ofRows(spark, routeIndexes(plan).getOrElse(plan))

  /** A table reference naming a warehouse table: no qualifier or this
    * engine's database, and a name that resolves case-insensitively. */
  private object Warehouse {
    def unapply(ref: LogicalPlan): Option[String] = nameParts(ref) match {
      case q :+ name if isLocalDb(q) => cmds.resolveTable(name)
      case _ => None
    }
  }

  /** The name parts of a parsed table reference. */
  private def nameParts(ref: LogicalPlan): Seq[String] = ref match {
    case r: UnresolvedRelation => r.multipartIdentifier
    case UnresolvedIdentifier(parts, _) => parts
    case UnresolvedTable(parts, _, _) => parts
    case UnresolvedTableOrView(parts, _, _) => parts
    case _ => Nil
  }

  /** The writes Spark SQL would make in `plan`, as (form, table
    * reference): INSERT OVERWRITE, INSERT ... PARTITION, a multi-table
    * INSERT (a plain INSERT into a warehouse table never gets here),
    * INSERT ... REPLACE WHERE, TRUNCATE TABLE, ALTER TABLE and [CREATE OR]
    * REPLACE TABLE. */
  private def writes(plan: LogicalPlan): Seq[(String, LogicalPlan)] = {
    def replace(orCreate: Boolean) =
      (if (orCreate) "CREATE OR " else "") + "REPLACE TABLE"
    plan.collect {
      case i: InsertIntoStatement =>
        (if (i.overwrite) "INSERT OVERWRITE"
         else if (i.partitionSpec.nonEmpty) "INSERT ... PARTITION"
         else "multi-table INSERT", i.table)
      case o: OverwriteByExpression => ("INSERT ... REPLACE WHERE", o.table)
      case t @ UnresolvedTable(_, cmd, _)
          if cmd.startsWith("ALTER TABLE") || cmd == "TRUNCATE TABLE" => (cmd, t)
      case t @ UnresolvedTableOrView(_, cmd, _)
          if cmd.startsWith("ALTER TABLE") => (cmd, t)
      case r: ReplaceTable => (replace(r.orCreate), r.name)
      case r: ReplaceTableAsSelect => (replace(r.orCreate), r.name)
    }
  }

  /** A table written outside the engine leaves index routing: as a base,
    * its indexes drop; as an index, it leaves the routing registry (the
    * catalog table itself stays — the user chose to write it), so SELECTs
    * on its base are no longer answered from a divergent copy. */
  private def dropRoutesOf(tbl: String): Unit = {
    indexes.values.foreach(_.filterInPlace((_, idx) => !idx.equalsIgnoreCase(tbl)))
    indexes.filterInPlace((_, m) => m.nonEmpty)
    dropIndexesOf(tbl)
  }

  /** Spark's own parser: the one grammar of every statement the engine
    * verbs do not own. */
  private def parse(stmt: String): LogicalPlan = Bridge.parsePlan(spark, stmt)

  /** Automatic index usage (the reference's intent for
    * `commands/CreateIndexCommand.java` feeding `plans/IndexScanNode.java`,
    * itself a stub): a PLAIN query against `t` that joins, filters, or
    * groups on an indexed column is transparently re-pointed at the
    * bucketed clone `<t>_by_<c>` — same rows, pre-clustered, so the join/
    * agg runs exchange-free. Implemented as a rewrite of the PARSED (still
    * unresolved) plan: each single-part relation with a usable index is
    * replaced by `SubqueryAlias(t, <t>_by_<c>)`, so column references keep
    * resolving under the original name. The substitution is always
    * row-equivalent; the key-column check just keeps it to queries that can
    * benefit. The rewritten plan, or None when no relation was re-pointed;
    * [[query]] runs it for a SELECT and an INSERT source, [[dml]] for a
    * MERGE source. */
  private def routeIndexes(parsed: LogicalPlan): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression => CExpr}
    import org.apache.spark.sql.catalyst.plans.UsingJoin
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join}
    if (indexes.isEmpty) return None
    def attrs(e: CExpr): Seq[String] =
      e.collect { case a: UnresolvedAttribute => a.nameParts.last.toLowerCase }
    // columns the query joins on, compares in a filter, or groups by —
    // the access paths a clustered index accelerates
    val keyCols: Set[String] = parsed.collect {
      case j: Join =>
        j.condition.toSeq.flatMap(attrs) ++ (j.joinType match {
          case UsingJoin(_, cols) => cols.map(_.toLowerCase)
          case _ => Nil
        })
      case f: Filter =>
        f.condition.collect { case c: BinaryComparison =>
          attrs(c.left) ++ attrs(c.right)
        }.flatten
      case a: Aggregate => a.groupingExpressions.flatMap(attrs)
    }.flatten.toSet
    // CTE names shadow tables — never substitute them
    val cteNames: Set[String] = parsed.collect {
      case w: UnresolvedWith => w.cteRelations.map(_._1.toLowerCase)
    }.flatten.toSet
    var used = false
    val rewritten = parsed.transform {
      case r: UnresolvedRelation if r.multipartIdentifier.size == 1 &&
          !cteNames.contains(r.multipartIdentifier.head.toLowerCase) =>
        val name = r.multipartIdentifier.head
        indexes.get(name.toLowerCase)
          .flatMap(_.collectFirst {
            case (c, idx) if keyCols(c) && spark.catalog.tableExists(idx) => idx
          }) match {
          case Some(idx) =>
            used = true
            SubqueryAlias(name, UnresolvedRelation(Seq(idx)))
          case None => r
        }
    }
    if (used) Some(rewritten) else None
  }

  /** Parse a reference-grammar column-declaration list (`nanosql.g:293-341`
    * table_col_decl/column_type/column_constraint + table_constraint) into a
    * Spark schema, the declared NOT NULL column set, and the PRIMARY KEY
    * column set. Constraints honored: NOT NULL and PRIMARY KEY (column- and
    * table-level) imply NOT NULL; the PK additionally gets batch-scoped
    * duplicate rejection on insert and a table-wide uniqueness audit under
    * VERIFY (see TableCommands.checkBatchPk for the scale pricing);
    * UNIQUE/FOREIGN KEY parse and are recorded as metadata no-ops. */
  private def parseColumnDdl(colsDdl: String)
      : (org.apache.spark.sql.types.StructType, Seq[String], Seq[String]) = {
    import org.apache.spark.sql.types._
    val tablePk = """(?is)\s*(?:CONSTRAINT\s+\w+\s+)?PRIMARY\s+KEY\s*\(([^)]+)\)\s*""".r
    val tableOther = """(?is)\s*(?:CONSTRAINT\s+\w+\s+)?(?:UNIQUE|FOREIGN\s+KEY)\b.*""".r
    val colDecl = """(?is)\s*(\w+)\s+(.+?)\s*""".r
    val fields = scala.collection.mutable.ArrayBuffer.empty[StructField]
    val notNull = scala.collection.mutable.ArrayBuffer.empty[String]
    val pk = scala.collection.mutable.ArrayBuffer.empty[String]
    def sqlType(t: String): DataType = {
      val up = t.trim.toUpperCase.replaceAll("\\s+", " ")
      up.takeWhile(c => c.isLetter || c == ' ') match {
        case "INT" | "INTEGER" => IntegerType
        case "FLOAT" => FloatType // reference FLOAT is a 4-byte float
        case "DOUBLE" => DoubleType
        case "CHAR" | "VARCHAR" | "CHARACTER" | "CHARACTER VARYING" =>
          StringType // length limits are metadata-only, as in Spark tables
        case "DATE" => DateType
        case "DATETIME" | "TIMESTAMP" | "TIME" => TimestampType
        case _ => // superset: any Spark DDL type (BIGINT, DECIMAL(p,s), …)
          DataType.fromDDL(t.trim)
      }
    }
    // type, then any number of trailing column-constraints (each optionally
    // `CONSTRAINT <name>`-prefixed, per the reference grammar)
    val typeAndCons =
      """(?is)\s*(.+?)((?:\s+(?:CONSTRAINT\s+\w+\s+)?(?:NOT\s+NULL|PRIMARY\s+KEY|UNIQUE|REFERENCES\s+\w+(?:\s*\([^)]*\))?))*)\s*""".r
    splitTopLevel(colsDdl).foreach {
      case tablePk(cols) =>
        val cs = cols.split(",").map(_.trim.toLowerCase)
        notNull ++= cs
        pk ++= cs
      case tableOther() => () // parsed, not enforced
      case colDecl(name, rest) =>
        val typeAndCons(tpe, cons) = (rest: String)
        val c = cons.toUpperCase
        if (c.matches("(?s).*(NOT\\s+NULL|PRIMARY\\s+KEY).*"))
          notNull += name.toLowerCase
        if (c.matches("(?s).*PRIMARY\\s+KEY.*"))
          pk += name.toLowerCase
        fields += StructField(name, sqlType(tpe), nullable = true)
      case other =>
        throw new IllegalArgumentException(s"cannot parse column declaration: $other")
    }
    (StructType(fields.toSeq), notNull.toSeq.distinct, pk.toSeq.distinct)
  }

  /** INSERT into a warehouse table (reference InsertCommand.java:34-281).
    * The source query gets a SELECT's index routing. Its columns map to
    * the table by position, or by name through a column list or BY NAME
    * (unlisted columns insert NULL), each cast to its column's type; the
    * rows append as a new version. */
  private def insert(i: InsertIntoStatement): DataFrame = {
    val tbl = localName(nameParts(i.table), "INSERT")
    val target = cmds.table(tbl).schema
    val src = query(i.query)
    val listed =
      if (i.byName) src.columns.toSeq
      else if (i.userSpecifiedCols.nonEmpty) i.userSpecifiedCols
      else target.fieldNames.toSeq
    require(listed.length == src.columns.length,
      s"INSERT into $tbl names ${listed.length} columns for " +
        s"${src.columns.length} values")
    // every listed name must be a real column, once — a misspelling
    // must error, not silently land its value as NULL
    val byLower = target.fieldNames.map(f => f.toLowerCase -> f).toMap
    val names = listed.map(c => byLower.getOrElse(c.toLowerCase,
      throw new IllegalArgumentException(s"INSERT column $c does not exist in $tbl")))
    require(names.distinct == names, "INSERT column(s) listed more than " +
      s"once: ${names.diff(names.distinct).distinct.mkString(", ")}")
    val named = src.toDF(names: _*)
    cmds.insertInto(tbl, named.select(target.fields.toIndexedSeq.map { f =>
      val v = if (names.contains(f.name)) col(s"`${f.name}`") else lit(null)
      v.cast(f.dataType).as(f.name)
    }: _*), commitSection(dropRoutes = true))
    status(s"inserted into $tbl")
  }

  /** UPDATE, DELETE and MERGE, and EXPLAIN of each, as Spark's parser
    * reads them: the target is resolved and guarded ([[localName]]), each
    * catalyst expression becomes a Column, and the COW rewrite is
    * published. Under EXPLAIN the rewrite frame is only built and printed
    * — EXPLAIN must not mutate, and for MERGE it skips the ambiguity
    * guard — as one row in one `plan` column, like Spark's own EXPLAIN. */
  private def dml(plan: LogicalPlan, explain: Boolean): DataFrame = {
    def verb(v: String) = if (explain) s"EXPLAIN $v" else v
    val commit = commitSection(dropRoutes = true)
    // the rewrite's kind, table, frame, publish step and status line
    val (kind, tbl, frame, publish, done) = plan match {
      case UpdateTable(target, assignments, condition) =>
        // reference: UpdateCommand.java
        val (tbl, alias) = dmlTarget(target, verb("UPDATE"))
        val sets = assigned(assignments, tbl, alias).toMap
        val cond = condition.fold(lit(true))(Bridge.column)
        ("UPDATE", tbl, () => cmds.updatePlan(tbl, cond, sets, alias),
          () => cmds.update(tbl, cond, sets, commit, alias), s"updated $tbl")
      case DeleteFromTable(target, condition) =>
        // reference: DeleteCommand.java
        val (tbl, alias) = dmlTarget(target, verb("DELETE"))
        val cond = Bridge.column(condition)
        ("DELETE", tbl, () => cmds.deletePlan(tbl, cond, alias),
          () => cmds.delete(tbl, cond, commit, alias), s"deleted from $tbl")
      case m: MergeIntoTable =>
        // warehouse-native upsert (no reference analog — its grammar stops
        // at INSERT/UPDATE/DELETE): one COW publish for all three effects
        val spec = mergeOf(m, verb("MERGE INTO"))
        ("MERGE", spec.name, () => cmds.mergePlan(spec),
          () => cmds.merge(spec, commit), s"merged into ${spec.name}")
    }
    if (explain)
      status(s"COW rewrite of $tbl ($kind)\n" + cmds.explain(frame()), "plan")
    else { publish(); status(done) }
  }

  /** The warehouse table a DML statement writes, and the alias its
    * expressions qualify target columns with (the table name when the
    * statement gives none). */
  private def dmlTarget(target: LogicalPlan, verb: String): (String, String) = {
    val (parts, alias) = target match {
      case SubqueryAlias(a, r: UnresolvedRelation) => (r.multipartIdentifier, Some(a.name))
      case r: UnresolvedRelation => (r.multipartIdentifier, None)
      case other => throw new IllegalArgumentException(
        s"$verb: the target must be a table name, got ${other.nodeName}")
    }
    val tbl = localName(parts, verb)
    (tbl, alias.getOrElse(tbl))
  }

  /** SET / INSERT assignments as target column -> value. A key may be
    * qualified only by the target's alias or name: a source column cannot
    * be assigned. A column assigned twice is refused by name, as Spark's
    * analyzer refuses it. */
  private def assigned(assignments: Seq[Assignment], tbl: String,
      alias: String): Seq[(String, Column)] = {
    val cols = assignments.map { a =>
      val c = a.key match {
        case UnresolvedAttribute(Seq(c)) => c
        case UnresolvedAttribute(Seq(q, c))
            if q.equalsIgnoreCase(alias) || q.equalsIgnoreCase(tbl) => c
        case k => throw new IllegalArgumentException(
          s"target column '$k' must be unqualified or '$alias.'-qualified")
      }
      c -> Bridge.column(a.value)
    }
    val lower = cols.map(_._1.toLowerCase)
    lower.diff(lower.distinct).headOption.foreach(c => throw new IllegalArgumentException(
      s"column '$c' of $tbl is assigned more than once; the table is unchanged"))
    cols
  }

  /** A parsed MERGE as the merge kernel's input. The kernel runs one WHEN
    * MATCHED action (UPDATE SET, UPDATE SET * or DELETE) and one WHEN NOT
    * MATCHED insert (INSERT (...) VALUES or INSERT *), each with an
    * optional `AND <cond>`. Any other clause Spark's grammar accepts is
    * refused by name before anything runs. `*` maps target columns from
    * the source by name. The source plan gets the index routing a SELECT
    * gets ([[routeIndexes]]). */
  private def mergeOf(m: MergeIntoTable, verb: String): commands.TableCommands.Merge = {
    import org.apache.spark.sql.catalyst.plans.logical.{
      DeleteAction, InsertAction, InsertStarAction, MergeAction,
      UpdateAction, UpdateStarAction}
    val (tbl, tAlias) = dmlTarget(m.targetTable, verb)
    if (!cmds.tableExists(tbl)) throw new IllegalArgumentException(
      s"MERGE INTO $tbl: not a warehouse table")
    def refuse(clause: String) = throw new UnsupportedOperationException(
      s"MERGE INTO $tbl: $clause is not supported - the merge runs one " +
        "WHEN MATCHED and one WHEN NOT MATCHED clause; the table is unchanged")
    Seq("WHEN NOT MATCHED BY SOURCE" -> m.notMatchedBySourceActions.nonEmpty,
      "a second WHEN MATCHED clause" -> (m.matchedActions.sizeIs > 1),
      "a second WHEN NOT MATCHED clause" -> (m.notMatchedActions.sizeIs > 1),
      "WITH SCHEMA EVOLUTION" -> m.withSchemaEvolution)
      .collectFirst { case (clause, true) => refuse(clause) }
    val (srcPlan, sAlias) = m.sourceTable match {
      case SubqueryAlias(a, p) => (p, a.name)
      case r: UnresolvedRelation => (r, r.multipartIdentifier.last)
      case p => (p, "__graft_merge_source")
    }
    val src = query(srcPlan)
    val star = src.columns.toSeq.map(c => c -> col(s"`$sAlias`.`$c`"))
    def cond(a: MergeAction) = a.condition.map(Bridge.column)
    val matched = m.matchedActions.headOption
    val sets = matched match {
      case Some(u: UpdateAction) => assigned(u.assignments, tbl, tAlias).toMap
      case Some(_: UpdateStarAction) => star.toMap
      case Some(_: DeleteAction) | None => Map.empty[String, Column]
      case Some(a) => refuse(s"WHEN MATCHED ${a.nodeName}")
    }
    val notMatched = m.notMatchedActions.headOption
    val insert = notMatched.map {
      case i: InsertAction => assigned(i.assignments, tbl, tAlias)
      case _: InsertStarAction => star
      case a => refuse(s"WHEN NOT MATCHED ${a.nodeName}")
    }
    commands.TableCommands.Merge(tbl, src, tAlias, sAlias,
      Bridge.column(m.mergeCondition), sets,
      matched.exists(_.isInstanceOf[DeleteAction]), insert,
      matched.flatMap(cond), notMatched.flatMap(cond))
  }

  /** Split a column-declaration list on top-level commas — commas inside
    * parens (`DECIMAL(p,s)`) or single-quoted literals ('' escapes toggle
    * twice) don't split. */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0; var inStr = false; var start = 0
    s.indices.foreach { i =>
      s.charAt(i) match {
        case '\'' => inStr = !inStr
        case '(' if !inStr => depth += 1
        case ')' if !inStr => depth -= 1
        case ',' if !inStr && depth == 0 =>
          out += s.substring(start, i); start = i + 1
        case _ => ()
      }
    }
    out += s.substring(start)
    out.toSeq
  }

  /** VERIFY's cross-table audit of the vector index (reference analog:
    * `commands/VerifyCommand.java:68` feeding BTreeIndexVerifier): the
    * invariants the serve tiers assume of the assign/codes pair —
    * per-table vec_id uniqueness (a duplicate is the re-ingest signature:
    * old files copied into a NEW watched directory land the same ids
    * again), assign⊆codes∧codes⊆assign nesting (coveredIds' equal-count
    * fast path), and marker agreement (a torn micro-batch only a
    * checkpoint replay heals). Explicit distributed passes, run only when
    * the user asks to VERIFY — the same pricing as the PK audit. */
  private def auditVectorIndex(): Unit = {
    val codesT = operators.VectorIndex.tableName("codes")
    val assignT = operators.VectorIndex.tableName("assign")
    if (!cmds.tableExists(codesT) || !cmds.tableExists(assignT)) return
    val codes = cmds.table(codesT)
    val assign = cmds.table(assignT)
    val findings = scala.collection.mutable.ArrayBuffer.empty[String]
    val dupC = codes.groupBy(col("vec_id")).count()
      .filter(col("count") > 1).count()
    if (dupC > 0) findings += s"$dupC duplicated vec_id(s) in $codesT " +
      "(re-ingested files? a rotation must watch a NEW directory with " +
      "NEW ids)"
    val dupA = assign.groupBy(col("vec_id")).count()
      .filter(col("count") > 1).count()
    if (dupA > 0) findings += s"$dupA duplicated vec_id(s) in $assignT"
    val orphanA = assign.select("vec_id")
      .join(codes.select("vec_id"), Seq("vec_id"), "left_anti").count()
    if (orphanA > 0) findings += s"$orphanA $assignT row(s) with no " +
      s"$codesT row - nesting violated (appends commit codes FIRST, so " +
      "assign must never lead)"
    val straggler = codes.select("vec_id")
      .join(assign.select("vec_id"), Seq("vec_id"), "left_anti").count()
    if (straggler > 0) findings += s"$straggler $codesT row(s) with no " +
      s"$assignT row - codes-first straggler; REFRESH VECTOR INDEX " +
      "heals it"
    val (mc, ma) =
      (cmds.lastCommittedBatch(codesT), cmds.lastCommittedBatch(assignT))
    if (mc != ma) findings += "stream markers disagree (codes " +
      s"${mc.getOrElse(-1L)}, assign ${ma.getOrElse(-1L)}) - torn " +
      "micro-batch; resume the gate once to replay-heal before any PURGE"
    if (findings.nonEmpty) throw new IllegalStateException(
      s"VERIFY: vector index integrity violated - ${findings.mkString("; ")}")
  }

  /** VERIFY's audit of the dedup band index: set-ness (an exact duplicate
    * (doc_id, band, band_key) row is double-ingest bloat — min-over-
    * matches verdicts tolerate it, storage should not) and provenance
    * closure (every indexed doc_id must come from the built corpus or a
    * gate admission — an orphan is the re-ingest/foreign-write
    * signature). */
  private def auditDedupIndex(): Unit = {
    val bandsT = operators.DedupIndex.tableName("bands")
    val metaT = operators.DedupIndex.tableName("meta")
    if (!cmds.tableExists(bandsT)) return
    val bands = cmds.table(bandsT)
    val findings = scala.collection.mutable.ArrayBuffer.empty[String]
    val dup = bands
      .groupBy(col("doc_id"), col("band"), col("band_key")).count()
      .filter(col("count") > 1).count()
    if (dup > 0) findings += s"$dup duplicated (doc_id, band, band_key) " +
      s"row(s) in $bandsT - the band index is a set; double ingest?"
    if (cmds.tableExists(metaT)) {
      try {
        val src = cmds.table(metaT).head().getString(0)
        val known0 = operators.Dedup.corpusNear(spark, src).select("doc_id")
        val known =
          if (cmds.tableExists("ingest_verdicts"))
            known0.unionByName(cmds.table("ingest_verdicts")
              .filter(col("admitted")).select("doc_id"))
          else known0
        val orphans = bands.select("doc_id").distinct()
          .join(known, Seq("doc_id"), "left_anti").count()
        if (orphans > 0) findings += s"$orphans $bandsT doc_id(s) " +
          "neither in the built corpus nor admitted by a gate - " +
          "orphaned bands (re-ingested or foreign-written rows)"
      } catch { case scala.util.control.NonFatal(e) =>
        findings += "provenance audit impossible - the built corpus is " +
          s"unreadable (${e.getMessage})"
      }
    }
    if (findings.nonEmpty) throw new IllegalStateException(
      s"VERIFY: dedup index integrity violated - ${findings.mkString("; ")}")
  }

  /** End this engine session: drop every TEMPORARY table (manifest dirs,
    * catalog entry, recorded indexes). The reference scopes temp tables to
    * the server session (`nanosql.g:246-258`); here the Engine instance IS
    * the session — the REPL calls this on EXIT/EOF, and any other owning
    * edge should call it when its session ends. Idempotent. */
  def close(): Unit = {
    ingests.values.foreach(q => try q.stop() catch {
      case _: Throwable => ()
    })
    ingests.clear()
    ingestKinds.clear()
    // serve twins stop too; their sink claims release via each twin's
    // own termination listener (nonce-guarded), and the checkpoint stays
    // resumable by a later START ... INTO the same sink
    serves.values.foreach { case (q, _, _, _) =>
      try q.stop() catch { case _: Throwable => () }
    }
    serves.clear()
    // the registration (and its sink claims) persist — the gate is
    // resumable; only this session's listener plumbing is torn down
    heartbeatsByQuery.clear()
    try spark.streams.removeListener(heartbeatListener)
    catch { case _: Throwable => () }
    tempTables.foreach(t =>
      cmds.resolveTable(t).foreach(dropWarehouseTable(_)))
    tempTables.clear()
  }

  /** Every CREATE route: the reserved-name guard, the sink fence (a sink
    * claim on a NOT-yet-created table means a live stream is about to
    * create it from its first batch — creating it out from under the
    * twin would turn its appends into a two-writer race), `make`, then
    * catalog registration plus, for TEMPORARY, the durable marker and
    * the session registry. */
  private def create(verb: String, name: String, temporary: Boolean,
      done: String)(make: => Unit): DataFrame = {
    guardSystemTable(name, verb)
    requireNoSinkClaim(name, verb)
    make
    registerTable(name)
    if (temporary) {
      cmds.markTemporary(name)
      tempTables += name.toLowerCase
    }
    status(done)
  }

  /** Drop a warehouse table: its manifest dirs, catalog entry and
    * indexes. */
  private def dropWarehouseTable(tbl: String, ifExists: Boolean = true)
      : Unit = {
    cmds.dropTable(tbl, ifExists)
    spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
    dropIndexesOf(tbl)
  }

  private def registerTable(name: String): Unit =
    commands.TableCommands.registerCatalog(spark, name, cmds.dataPath(name))

  /** A one-row frame: a command's acknowledgement, or an EXPLAIN's plan. */
  private def status(msg: String, column: String = "status"): DataFrame = {
    import spark.implicits._
    Seq(msg).toDF(column)
  }
}
