package graft.commands

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The reference's DDL / DML / utility command surface (SURVEY.md §2.8),
  * re-expressed over Parquet tables:
  *
  *  - CREATE TABLE / CREATE COLSTORE / LOAD  (reference
  *    `commands/CreateTableCommand.java`, `CreateColStoreCommand.java`,
  *    `LoadFileCommand.java` + the CSV profiler `storage/FileAnalyzer.java`)
  *    → CSV ingest to Parquet. The reference profiles each CSV column to
  *    pick RLE/dictionary/plain encodings; Parquet chooses per-chunk
  *    encodings natively, so the profiling step disappears by design.
  *  - INSERT / LOAD (`commands/InsertCommand.java:34-281`) → append:
  *    the new rows plus hard links to the live version's files, published
  *    as a new table version.
  *  - UPDATE / DELETE (`commands/UpdateCommand.java:36-128`,
  *    `DeleteCommand.java:41-77`) → copy-on-write rewrite: Parquet is
  *    immutable, so mutation = filtered/projected rewrite published as a
  *    new table version. The reference mutates slotted heap pages in
  *    place; at 100 TB the COW rewrite is the only strategy that scales.
  *  - ANALYZE (`commands/AnalyzeCommand.java:93-115`) → catalog stats for
  *    Catalyst's CBO.
  *  - EXPLAIN (`commands/ExplainCommand.java`) → formatted plan string.
  *
  * == Manifest-pointer layout (crash-safe publishes) ==
  *
  * A table lives at `<warehouse>/<name>/` containing immutable version
  * directories (`v00001/`, `v00002/`, …) and a one-line `CURRENT` pointer
  * file naming the active version — the same pointer-swap idea Delta/
  * Iceberg use, plus a minimal append-only VERSIONS log (one line per
  * pointer swap — what RETAIN-window sweeping and SNAPSHOT time travel
  * read; never consulted on the hot read path, which stays one pointer
  * file). Every write — rewrite, append, stream batch or tail
  * compaction — goes through [[publish]]: it stages a complete new version
  * directory (append-shaped writes hard-link the files they keep), then
  * publishes it by an ATOMIC rename of `CURRENT.tmp` over `CURRENT`. No
  * write touches a published directory, so readers resolve the pointer
  * first and see the old version or the new one, never a half-state, a
  * pinned SNAPSHOT keeps its rows, and a crash at ANY point leaves the
  * table readable (an unpublished version directory is inert garbage,
  * swept by the next write).
  *
  * A sweep never deletes a LEASED version directory: a read served through
  * [[graft.Engine.withResult]] leases every version its plan scans until
  * its rows have streamed (the analog of the reference's buffer pins,
  * `storage/BufferManager.java:85-190`), so a rewrite committing mid-stream
  * cannot pull files out from under it. A leased directory outside the
  * retention window stays on disk but leaves the VERSIONS log; the first
  * sweep after its release removes it.
  */
class TableCommands(spark: SparkSession, warehouse: String) {

  private def dir(table: String) = s"$warehouse/$table"
  private def currentFile(table: String) = Paths.get(dir(table), "CURRENT")

  /** The active version's data directory (what readers scan). */
  def dataPath(table: String): String = {
    val cf = currentFile(table)
    if (!Files.exists(cf))
      throw new IllegalArgumentException(s"table $table does not exist")
    s"${dir(table)}/${Files.readString(cf).trim}"
  }

  def tableExists(name: String): Boolean = Files.exists(currentFile(name))

  /** Case-insensitive warehouse lookup: SQL identifiers are
    * case-insensitive, directory names are not — `INSERT INTO ACCOUNTS`
    * must reach the same manifest table as `accounts` (and its NOT NULL /
    * txn semantics), not slip through to a catalog fallthrough. */
  def resolveTable(name: String): Option[String] =
    if (tableExists(name)) Some(name)
    else warehouseTables.find(_.equalsIgnoreCase(name))

  /** Every table in this warehouse (dirs with a CURRENT pointer). */
  def warehouseTables: Seq[String] =
    Option(new java.io.File(warehouse).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && tableExists(f.getName))
      .map(_.getName).toSeq.sorted

  /** Last-line defense for the staging invariant: a freshly-allocated
    * version name must never be the LIVE version (a nextVersion bug, e.g.
    * the old exactly-5-digit regex going blind past v99999, would make the
    * stage's SaveMode.Overwrite delete live data). Fail loudly instead. */
  private def assertStageFresh(table: String, version: String): Unit =
    if (Files.exists(currentFile(table)) &&
        Files.readString(currentFile(table)).trim == version)
      throw new IllegalStateException(
        s"internal error: staging version $version of $table equals the " +
          "live version - refusing to overwrite live data")

  /** Numeric value of a version name — the ONE comparison key for version
    * ordering. `%05d` is a minimum width: version 100000 renames to
    * `v100000` (6 digits), and from there lexicographic order lies
    * (`v100000` < `v99999`), so every ordering decision (history bound,
    * retention window, max-for-next) parses the number. appendCommitted
    * makes 100k+ commits reachable on a long-running stream. */
  private def vnum(v: String): Long = v.drop(1).toLong

  private def nextVersion(table: String): String = {
    val d = new java.io.File(dir(table))
    val existing = Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.matches("v\\d{5,}"))
      .map(f => vnum(f.getName))
    f"v${(if (existing.isEmpty) 0L else existing.max) + 1}%05d"
  }

  /** Fault injection for the publish path — the reference's CRASH command
    * (`commands/CrashCommand.java` kills the server mid-work to exercise
    * recovery). Arm with `"staged"` (die after the version directory is
    * written, before the pointer moves) or `"published"` (die after the
    * pointer moves, before the sweep); the next publish attempt consumes
    * the armed point. The crash-safety CLAIM of the manifest layout is
    * exactly that both windows leave the table readable — specs assert it. */
  private[graft] var crashPoint: Option[String] = None
  private def maybeCrash(point: String): Unit =
    if (crashPoint.contains(point)) {
      crashPoint = None
      throw new IllegalStateException(s"simulated crash: $point")
    }

  /** Pause injection for the same path: arm with a two-party barrier and
    * the next publish meets it twice once its version directory is staged
    * — first to signal "staged", then to wait for "resume" — before it
    * commits. A spec runs other statements in between, while the rewrite
    * holds the engine's writer lock but not its commit section. Consumed
    * by that publish; volatile because specs arm it from another thread. */
  @volatile private[graft] var stagingPause
      : Option[java.util.concurrent.CyclicBarrier] = None
  private def maybePause(): Unit =
    stagingPause.foreach { b =>
      stagingPause = None
      b.await(120, java.util.concurrent.TimeUnit.SECONDS)
      b.await(120, java.util.concurrent.TimeUnit.SECONDS); ()
    }

  /** The one write path: run `stage` on a fresh version directory,
    * atomically publish the pointer, then sweep superseded/orphaned
    * versions (sweep deferred while a transaction holds pre-images).
    *
    * `streamBatch` (exactly-once streaming appends) is written as a
    * `_STREAM_BATCH` file (underscore-prefixed: parquet readers skip it)
    * INSIDE the staged version directory BEFORE the pointer swap — the
    * data and the batch id become visible in the same atomic rename, so no
    * crash window can separate them. Writes without an explicit id carry
    * the live version's marker forward, so compacting or inserting into a
    * streamed table cannot reset its replay cursor.
    *
    * Staging runs bare; only the swap and the sweep run inside `commit`
    * (see [[TableCommands.Commit]]). */
  private def publish(table: String, streamBatch: Option[Long] = None,
      commit: TableCommands.Commit = TableCommands.bareCommit)(
      stage: Path => Unit): Unit = {
    val version = nextVersion(table)
    assertStageFresh(table, version)
    val path = Paths.get(dir(table), version)
    stage(path)
    streamBatch.orElse(lastCommittedBatch(table)).foreach(b =>
      Files.writeString(path.resolve("_STREAM_BATCH"), b.toString))
    maybePause()
    maybeCrash("staged")
    commit(table,
      () => { swapPointer(table, version); maybeCrash("published") },
      () => if (txnSnapshot.isEmpty) sweep(table))
  }

  /** The staging step that writes `df` as the version's files. */
  private def write(df: DataFrame)(stage: Path): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(stage.toString)

  /** The reader-visible data files of version directory `v`: markers,
    * `_SUCCESS` and checksums (underscore/dot-prefixed) are skipped. */
  private def dataFiles(v: Path): Array[java.io.File] =
    Option(v.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))

  /** Carry `files` into `stage` by hard link — metadata-only: parquet part
    * files are immutable once written and UUID-named, so a link never
    * mutates the version it came from and names never collide. */
  private def link(files: Array[java.io.File], stage: Path): Unit =
    files.foreach(f => Files.createLink(stage.resolve(f.getName), f.toPath))

  /** Atomic pointer publish + version-log append, called only by
    * [[publish]]. The log append comes AFTER the swap: a crash between
    * them leaves CURRENT unlogged, which the next sweep heals (CURRENT
    * is always in the kept set and the log is rewritten to it). */
  private def swapPointer(table: String, version: String): Unit = {
    atomicWrite(currentFile(table), version)
    Files.writeString(versionsLog(table), version + "\n",
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND); ()
  }

  // ── version history + retention (time travel for training snapshots:
  // "which corpus version did this model train on" needs the version to
  // still EXIST — RETAIN k keeps the last k published versions readable,
  // and the appends' hard links make the extra versions cheap) ──────────
  private def versionsLog(table: String) = Paths.get(dir(table), "VERSIONS")
  private def retainFile(table: String) = Paths.get(dir(table), "RETAIN")

  /** RETAIN k VERSIONS ON t — how many published versions sweep keeps
    * (k ≥ 1; the live version always counts as one of the k). */
  def setRetain(name: String, k: Int): Unit = {
    require(k >= 1, s"RETAIN needs k >= 1, got $k")
    require(tableExists(name), s"table $name does not exist")
    Files.writeString(retainFile(name), k.toString); ()
  }

  /** As [[setRetain]], but usable BEFORE the table's first publish: a
    * streaming sink is created by its first micro-batch, and the retain
    * window must already be in place when later appends start sweeping
    * versions under concurrent ad-hoc readers (the reader-vs-sweep race
    * the chaos soak measured on the index tables — same shape for any
    * continuously-appended sink). The RETAIN file rides alone in the
    * table dir until the first publish arrives. */
  def setRetainAhead(name: String, k: Int): Unit = {
    require(k >= 1, s"RETAIN needs k >= 1, got $k")
    Files.createDirectories(Paths.get(dir(name)))
    Files.writeString(retainFile(name), k.toString); ()
  }

  /** True iff an explicit retain window is recorded for `name` — streams
    * default their sinks' windows only when the operator has not chosen
    * one. */
  def hasRetain(name: String): Boolean = Files.exists(retainFile(name))

  /** Undo a retain window the CALLER defaulted (stream-start rollback):
    * remove the RETAIN file and, when that leaves the table dir holding
    * nothing else, remove the dir too. Without this a failed START
    * strands RETAIN-only table dirs ([[setRetainAhead]] mkdirs), and a
    * later unrelated CREATE TABLE of the same name silently inherits a
    * retain window its operator never chose. */
  def clearRetain(name: String): Unit = {
    Files.deleteIfExists(retainFile(name))
    val d = Paths.get(dir(name))
    // best-effort dir removal: runs inside start-FAILURE rollbacks, so a
    // TOCTOU loser (another process dropped a file between the emptiness
    // probe and the delete) must not replace the real refusal error or
    // abort the caller's remaining cleanup — the dir now has an owner
    // and should stay anyway
    try {
      if (Files.isDirectory(d)) {
        val s = Files.list(d)
        val empty = try !s.iterator().hasNext finally s.close()
        if (empty) Files.deleteIfExists(d)
      }
    } catch {
      // Files.list's stream surfaces iteration-time errors as
      // UncheckedIOException (a RuntimeException) — catch both or the
      // TOCTOU race escapes through the unchecked wrapper
      case _: java.io.IOException => ()
      case _: java.io.UncheckedIOException => ()
    }
    ()
  }

  private def retainCount(table: String): Int =
    if (Files.exists(retainFile(table)))
      Files.readString(retainFile(table)).trim.toInt
    else 1

  /** The PUBLISHED, still-on-disk version history (ascending). The log
    * filters out crashed never-published stages; the ≤-CURRENT bound
    * filters out rolled-back post-images (their numbers are higher than
    * the restored pointer); the live version is always included even if
    * a crash separated its swap from its log append. */
  def versionHistory(name: String): Seq[String] = {
    val live = Files.readString(currentFile(name)).trim
    val logged =
      if (Files.exists(versionsLog(name)))
        Files.readString(versionsLog(name)).linesIterator
          .map(_.trim).filter(_.nonEmpty).toSeq
      else Nil
    (logged :+ live).distinct
      .filter(v => vnum(v) <= vnum(live) &&
        Files.isDirectory(Paths.get(dir(name), v)))
      .sortBy(vnum)
  }

  /** The data path of a retained historical version — `VERSION AS OF`'s
    * resolver. Accepts the `vNNNNN` name or the bare number. */
  def snapshotPath(name: String, version: String): String = {
    require(tableExists(name), s"table $name does not exist")
    val v = if (version.matches("\\d+")) f"v${version.toLong}%05d"
      else version
    require(versionHistory(name).contains(v),
      s"version $v of $name is not retained - RETAIN more versions or " +
        s"use SHOW VERSIONS ON $name")
    s"${dir(name)}/$v"
  }

  // ── snapshot pins: a SNAPSHOT view serves training reads directly from
  // a version directory, so that directory must outlive RETAIN changes and
  // heavy write traffic for as long as the snapshot is registered. Pins
  // live in a `PINS` file beside the version dirs (one `alias<TAB>version`
  // line per registered snapshot — DURABLE, so a training job's pinned
  // corpus survives engine restarts until an explicit DROP SNAPSHOT);
  // sweep's keep-set is retention-window ∪ pinned versions ∪ live. ───────
  private def pinsFile(table: String) = Paths.get(dir(table), "PINS")

  /** Registered snapshot pins of `table`: alias -> version. Malformed
    * lines (no tab — manual edit, partial copy) are SKIPPED, never
    * thrown: pins() sits on every sweep, hence every commit path, and a
    * parse error here would make the whole table unwritable. */
  def pins(table: String): Seq[(String, String)] =
    if (Files.exists(pinsFile(table)))
      Files.readString(pinsFile(table)).linesIterator
        .map(_.trim).filter(_.nonEmpty).toSeq
        .flatMap(_.split("\t", 2) match {
          case Array(a, v) => Some((a, v))
          case _ => None
        })
    else Nil

  private def pinnedVersions(table: String): Seq[String] =
    pins(table).map(_._2).distinct

  /** Pin `version` of `table` against sweeping, under snapshot `alias`
    * (re-registering an alias moves its pin). */
  def pinVersion(table: String, alias: String, version: String): Unit = {
    require(versionHistory(table).contains(version),
      s"cannot pin $version of $table - not a retained version")
    val kept = pins(table).filterNot(_._1.equalsIgnoreCase(alias)) :+
      (alias -> version)
    atomicWrite(pinsFile(table),
      kept.map { case (a, v) => s"$a\t$v" }.mkString("", "\n", "\n"))
  }

  /** Release snapshot `alias`'s pin (DROP SNAPSHOT). Returns true if a pin
    * existed. The version directory becomes sweepable again on the next
    * rewrite (unless the retention window or another alias still holds it). */
  def unpinAlias(table: String, alias: String): Boolean = {
    val (gone, kept) = pins(table).partition(_._1.equalsIgnoreCase(alias))
    if (kept.isEmpty) { Files.deleteIfExists(pinsFile(table)); () }
    else atomicWrite(pinsFile(table),
      kept.map { case (a, v) => s"$a\t$v" }.mkString("", "\n", "\n"))
    gone.nonEmpty
  }

  /** tmp-write + ATOMIC_MOVE, for every metadata file a crash mid-write
    * could truncate or a reader could see half-written (CURRENT, VERSIONS,
    * PINS). */
  private def atomicWrite(path: java.nio.file.Path, content: String): Unit = {
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, path,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING); ()
  }

  /** Delete superseded version directories beyond the retention window,
    * and crashed never-published stages; rewrite the log to the kept
    * history. PINNED versions (registered SNAPSHOT views) are always kept,
    * whatever RETAIN says — a training read through a snapshot must
    * survive retention-lowering and heavy write traffic. LEASED versions
    * (a read still streaming them) stay on disk but out of the log, so
    * the first sweep after their release deletes them. The log rewrite
    * is tmp+ATOMIC_MOVE: a crash mid-rewrite must not truncate history
    * (a truncated log would hide retained versions from the NEXT sweep,
    * which would then delete directories inside the window). */
  private def sweep(table: String): Unit = {
    val live = Files.readString(currentFile(table)).trim
    val keep = (versionHistory(table).takeRight(retainCount(table))
      ++ pinnedVersions(table) :+ live).distinct
    Option(new java.io.File(dir(table)).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && !keep.contains(f.getName) &&
        !TableCommands.leased(f.toPath))
      .foreach(TableCommands.rm)
    atomicWrite(versionsLog(table),
      keep.sortBy(vnum).mkString("", "\n", "\n"))
  }

  // ── transactions over the manifest (single-writer, like the reference's
  // simple txn model — `commands/BeginCommand.java` etc. — but without a
  // WAL: the immutable version dirs ARE the undo log) ─────────────────────
  // @volatile: DML paths read it from SharedServer handler threads; the
  // txn boundary methods below mutate it under the claim lock
  @volatile private var txnSnapshot: Option[Map[String, String]] = None

  /** BEGIN: snapshot every table's live version. While open, rewrites keep
    * their pre-images on disk (sweep deferred), so ROLLBACK is a pointer
    * restore. Nested BEGIN is an error (reference semantics).
    *
    * Runs under the CLAIM LOCK (as do [[commit]] and [[rollback]]): the
    * txn/stream exclusion below is check-then-act against state that
    * [[claimSinkKeepingPrior]] mutates — without the shared lock, a
    * stream's claim landing between BEGIN's claims-empty check and its
    * snapshot assignment starts a stream inside the open transaction
    * (both guards pass), recreating the lost-write hazard the exclusion
    * exists to prevent. claimSink takes the same lock, so the two
    * check-then-acts serialize. */
  def begin(): Unit = withClaimLock {
    require(txnSnapshot.isEmpty, "transaction already open")
    // a live stream's sink inside the snapshot would be a LOST-WRITE
    // hazard: the stream keeps appendCommitting (checkpoint advancing)
    // while ROLLBACK restores the sink's pointer to the pre-txn version
    // — the rolled-back batches are never replayed (no crash happened)
    // and, for the ADMIT gate, the band index silently loses entries.
    // The claim registry is the cross-process view of "live stream
    // writes here", so BEGIN refuses while any claim exists. (In-memory
    // txn state is per-session, so the reverse direction — a claim
    // arriving from ANOTHER process mid-txn — is the operator's call,
    // like all cross-process liveness; in-process it is refused by
    // claimSink's txn check, which covers the SharedServer reality of
    // every client sharing one engine.)
    val claims = sinkClaims
    require(claims.isEmpty,
      "BEGIN: live streams commit into this warehouse (" +
        claims.map(c => s"${c._1} by ${c._2}").mkString(", ") +
        ") and ROLLBACK would restore their sinks' pointers under them, " +
        "silently losing committed batches - stop the streams first " +
        "(SHOW INGESTS / SHOW SERVES / SHOW SINKS)")
    txnSnapshot = Some(warehouseTables.map(t =>
      t -> Files.readString(currentFile(t)).trim).toMap)
  }

  /** COMMIT: drop the snapshot and sweep superseded versions — of every
    * table in the warehouse, not just the snapshotted ones, so a table
    * created AND rewritten inside the txn sheds its intermediate versions
    * too. Under the claim lock (see [[begin]]): the snapshot clears
    * BEFORE the sweeps, so without the lock a stream claimed in that
    * window could publish a fresh version the concurrent sweep deletes. */
  def commit(): Unit = withClaimLock {
    require(txnSnapshot.nonEmpty, "no open transaction")
    txnSnapshot = None
    warehouseTables.foreach(sweep)
  }

  /** ROLLBACK: atomically restore every snapshotted pointer, then sweep the
    * now-orphaned post-images. Tables created inside the txn are dropped.
    * Under the claim lock (see [[begin]]): the snapshot clears BEFORE the
    * pointer restores, so without the lock a stream claimed in that window
    * could appendCommit into a table whose pointer this restore is about
    * to yank back — the lost-write the txn/stream exclusion prevents. */
  def rollback(): Unit = withClaimLock {
    require(txnSnapshot.nonEmpty, "no open transaction")
    val snap = txnSnapshot.get
    txnSnapshot = None
    // a table DROPPED inside the txn lost its version dirs with the drop —
    // that one command is not undoable (documented; reference txns predate
    // its DDL too); skip it rather than fail the rest of the rollback
    snap.foreach { case (t, version) =>
      if (Files.isDirectory(Paths.get(dir(t), version))) {
        atomicWrite(currentFile(t), version)
        sweep(t)
      }
    }
    Option(new java.io.File(warehouse).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && !snap.contains(f.getName))
      .foreach(TableCommands.rm) // created inside the rolled-back txn
  }

  /** VERIFY t — the reference's integrity check (`commands/VerifyCommand`,
    * B⁺-tree/page validation) re-expressed for the manifest layout: the
    * pointer must name an existing version directory and every row must be
    * readable (a full distributed scan — corrupt parquet fails it). Returns
    * the row count. */
  def verifyTable(name: String): Long = {
    val dp = dataPath(name)
    require(Files.isDirectory(Paths.get(dp)),
      s"CURRENT of $name names a missing version")
    val n = spark.read.parquet(dp).count()
    // table-wide NOT NULL, PRIMARY KEY and UNIQUE audits — the table-wide
    // half of the write-time checks, one explicit distributed pass each,
    // run only when the user asks to VERIFY
    val nn = notNullCols(name)
    val pk = pkCols(name)
    val uq = uniqueKeys(name)
    if (nn.nonEmpty || pk.nonEmpty || uq.nonEmpty) {
      val t = spark.read.parquet(dp)
      val byLower = t.columns.map(c => c.toLowerCase -> c).toMap
      // a CONSTRAINTS entry naming a column the data doesn't have is itself
      // an integrity failure — report it, never NoSuchElementException
      val missing = (nn ++ pk ++ uq.flatten).filterNot(byLower.contains)
      if (missing.nonEmpty)
        throw new IllegalStateException(
          s"VERIFY $name: declared constraint column(s) " +
            s"${missing.mkString(", ")} absent from the table data")
      val nulls = if (nn.isEmpty) 0L
        else t.filter(nn.map(c => col(byLower(c)).isNull).reduce(_ || _)).count()
      if (nulls > 0) throw new IllegalStateException(s"VERIFY $name: NOT NULL " +
        s"(${nn.mkString(", ")}) violated — $nulls row(s) with a NULL")
      if (pk.nonEmpty) {
        val dups = t.groupBy(pk.map(c => col(byLower(c))): _*)
          .count().filter(col("count") > 1).count()
        if (dups > 0)
          throw new IllegalStateException(
            s"VERIFY $name: PRIMARY KEY (${pk.mkString(", ")}) violated — " +
              s"$dups duplicated key(s)")
      }
      uq.foreach { key =>
        val dups = t
          .filter(key.map(c => col(byLower(c)).isNotNull).reduce(_ && _))
          .groupBy(key.map(c => col(byLower(c))): _*)
          .count().filter(col("count") > 1).count()
        if (dups > 0)
          throw new IllegalStateException(
            s"VERIFY $name: UNIQUE (${key.mkString(", ")}) violated — " +
              s"$dups duplicated value(s)")
      }
    }
    n
  }

  /** OPTIMIZE t [ZORDER BY (c1, c2, …)] — compact the current version's
    * files (the analog of the reference's `OptimizeCommand` page
    * compaction): rewrites into right-sized files via a new published
    * version, so readers switch atomically. `targetPartitions` defaults
    * to the session shuffle parallelism; at 100 TB pass
    * ceil(bytes / 1 GB).
    *
    * With `zorderBy`, the rewrite CLUSTERS the data on the interleaved
    * bit pattern of the named columns (Morton/Z-order): each column is
    * quantized to an 8-bit EQUI-DEPTH bucket (one approx-percentile
    * aggregate per column — still a single stats pass, the same pass
    * ANALYZE runs), the buckets' bits are interleaved into one z-value,
    * and the table is range-partitioned + sorted on it. Every output
    * file then covers a small HYPER-RECTANGLE of the column space, so
    * parquet row-group min/max stats prune selective predicates on ANY
    * of the z columns — the multi-dimensional data-skipping a linear
    * sort cannot give (sorting by c1 makes c1 stats perfect and every
    * other column's useless). This is THE layout lever for a 100 TB fact
    * table queried by more than one dimension; the spec measures the
    * skip ratio through the scan's own metrics.
    * QUANTILE buckets, not uniform min/max: real columns have outliers,
    * and uniform buckets collapse under them — one astral string or one
    * giant key stretches the range until every ordinary value lands in
    * bucket 0 and the layout degenerates to a linear sort on the OTHER
    * columns (measured: the non-ASCII spec fixture put 95% of rows in
    * one bucket). Equi-depth edges give every bucket ~equal rows
    * whatever the distribution; repeated edges on low-cardinality
    * columns merely collapse buckets — coarser, never incorrect, since
    * z-order only affects LAYOUT. Nulls sort to bucket 0. The per-row
    * bucket lookup is |edges| comparisons inside an array HOF — outside
    * whole-stage codegen, but a compaction rewrite is IO-bound and the
    * cost is a flat per-row constant, not a scale hazard. The stream
    * marker, constraints and catalog name all survive (publish carries
    * them), exactly as for plain compaction. */
  def optimizeTable(name: String, targetPartitions: Int = 0,
      zorderBy: Seq[String] = Nil,
      commit: TableCommands.Commit = TableCommands.bareCommit): Unit = {
    val n = if (targetPartitions > 0) targetPartitions
      else spark.sessionState.conf.numShufflePartitions
    if (zorderBy.isEmpty)
      publish(name, commit = commit)(write(table(name).repartition(n)))
    else {
      val t = table(name)
      val byLower = t.columns.map(c => c.toLowerCase -> c).toMap
      val cols = zorderBy.map(c => byLower.getOrElse(c.toLowerCase,
        throw new IllegalArgumentException(
          s"ZORDER BY column $c not in table $name")))
      // the interleave packs 8 bits per column into ONE signed 64-bit
      // key: column i's bucket bit k lands at z bit k*|cols|+i, so an
      // 8th column pushes the top bit into the sign (negative z keys
      // sort before positive — a silently NON-monotone layout) and a
      // 9th wraps the shift entirely. Refuse instead: z-ordering past a
      // handful of axes is layout-useless anyway (each column's bucket
      // resolution is what prunes, and the interleave dilutes it).
      require(cols.size <= 7,
        s"ZORDER BY supports at most 7 columns (8-bit lanes must fit a " +
          s"64-bit signed key); got ${cols.size}")
      // one stats row: per-column equi-depth edges drive the 8-bit
      // quantization (see the Scaladoc above).
      // STRING columns get an ORDER-PRESERVING numeric proxy — the first
      // THREE UTF-16 code units packed big-endian in base 2^16. Three
      // units at 16 bits is 48 bits: EXACTLY representable in a double's
      // 53-bit mantissa, so no positional digit is ever rounded away
      // (packing four units in base 2^21 needed ~79 bits and silently
      // rounded characters 3-4 out of the proxy — the effective prefix
      // was ~2.5 characters, not the documented 4). Lexical prefix order
      // becomes numeric order: the z-layout then clusters strings by
      // prefix range and parquet min/max stats on the STRING column
      // itself prune both equality and range predicates. (The old
      // try_cast-to-DOUBLE path silently degraded every non-numeric
      // column to bucket 0, turning a (numeric, string) z-order into a
      // linear sort on the numeric column.) Other non-numeric types keep
      // the try_cast degrade: under ANSI they contribute null stats
      // (bucket 0), never throw.
      def asD(c: String): Column =
        t.schema(c).dataType match {
          case org.apache.spark.sql.types.StringType =>
            // ascii() returns the first UTF-16 CODE UNIT, so a
            // supplementary-plane char yields its high surrogate
            // (0xD800–0xDBFF) — NUMERICALLY BELOW chars in
            // [0xE000, 0xFFFF] that sort before it in UTF8-binary order.
            // Clamping every unit >= 0xD800 to one ceiling keeps the
            // proxy MONOTONE (never inverts parquet's string min/max
            // order; astral/high-BMP chars merely share a bucket —
            // layout coarseness, not wrongness). Clamped units are
            // < 2^16, so base-2^16 positional packing of 3 units is an
            // integer < 2^48 — exact in a double, fully monotone.
            (0 until 3).map(i =>
              least(coalesce(ascii(substring(col(s"`$c`"), i + 1, 1)),
                lit(0)), lit(0xD800))
                .cast("double") * math.pow(65536.0, (2 - i).toDouble))
              .reduce(_ + _)
          case _ => expr(s"try_cast(`$c` AS DOUBLE)")
        }
      val bits = 8
      // 255 interior equi-depth edges per column, one aggregate pass;
      // accuracy 10000 bounds the rank error at 0.01% — edge placement
      // only shapes layout, so approximation is free correctness-wise
      val probs = (1 until (1 << bits)).map(_.toDouble / (1 << bits))
      val stats = t.agg(
        percentile_approx(asD(cols.head), lit(probs.toArray),
          lit(10000)).as("q0"),
        cols.tail.zipWithIndex.map { case (c, i) =>
          percentile_approx(asD(c), lit(probs.toArray),
            lit(10000)).as(s"q${i + 1}")
        }: _*).head()
      val z = cols.zipWithIndex.map { case (c, i) =>
        // a non-numeric or all-null column yields null quantiles → it
        // contributes bucket 0 (clusters on the other columns only);
        // duplicate edges (low-cardinality columns) collapse to fewer,
        // coarser buckets — never an incorrect one
        val edges: Seq[Double] =
          if (stats.isNullAt(i)) Nil
          else stats.getSeq[Double](i).distinct
        val bucket =
          if (edges.isEmpty) lit(0L)
          else {
            // raw bucket = #edges <= value (0..|edges|): a sorted-array
            // count, expressed as an array HOF so the whole lookup stays
            // on the executors. Then RESCALED to the full 0..255 range:
            // a low-cardinality column (few distinct edges) would
            // otherwise occupy only the low bits of its 8-bit lane and
            // the interleave would hand the layout to the other columns
            // — rescaling keeps every column's lane equally weighted.
            val v = asD(c)
            val raw = size(filter(lit(edges.toArray), e => v >= e))
              .cast("long")
            floor(raw * lit(((1 << bits) - 1).toDouble)
              / lit(edges.size.toDouble)).cast("long")
          }
        val b = coalesce(bucket, lit(0L))
        // spread bucket bit k of column i to z bit k*|cols| + i
        (0 until bits).map(k =>
          shiftleft(shiftright(b, k).bitwiseAND(lit(1L)),
            k * cols.size + i).cast("long"))
          .reduce(_ + _)
      }.reduce(_ + _)
      publish(name, commit = commit)(write(t.withColumn("__graft_z", z)
        .repartitionByRange(n, col("__graft_z"))
        .sortWithinPartitions("__graft_z")
        .drop("__graft_z")))
    }
  }

  /** Tiered (tail-only) compaction — the maintenance valve for tables fed
    * by [[appendCommitted]]'s link-forward versions. [[optimizeTable]]
    * republishes the ENTIRE table per call, so using it as a stream's
    * in-gate compactor makes per-compaction cost grow linearly with
    * stream LIFETIME (amortized O(table/n) per batch — the same curve the
    * O(batch) commit path killed, reintroduced on the maintenance path).
    * This rewrites ONLY the small-file tail: data files under
    * `thresholdBytes` are read and rewritten as ~threshold-sized files;
    * files at or above the threshold are GRADUATED segments and ride
    * forward as hard links, byte-identical and unrewritten (parquet part
    * files are immutable and UUID-named, so links are safe). Per-trigger
    * cost is therefore bounded by threshold + data-since-last-compaction
    * — independent of table size: a year-old 100 TB verdict log compacts
    * its few-hundred-MB tail, never itself. Write amplification per
    * ingested byte is ≤ threshold/(batch·n) rewrites before graduation —
    * the standard size-tiered trade, chosen over a multi-level LSM tree
    * because one tier keeps the version layout flat and the read path
    * untouched.
    *
    * It commits through [[publish]]: the stage is the coalesced tail
    * plus links to the graduated files, the stream marker rides forward,
    * and the sweep waits for the end of an open txn (links never mutate
    * the originals, so the pre-image is intact either way). A no-op
    * (≤ 1 tail file) stages nothing and returns false; it still sweeps
    * (outside a txn), so the retry after a crash between pointer swap and
    * sweep — which finds the tail already merged — restores the retention
    * bound instead of leaving it to the next write. */
  def compactTail(name: String,
      thresholdBytes: Long = 64L << 20): Boolean = {
    require(tableExists(name), s"table $name does not exist")
    val (graduated, tail) = dataFiles(Paths.get(dataPath(name)))
      .partition(_.length >= thresholdBytes)
    if (tail.length <= 1) { // nothing to merge
      if (txnSnapshot.isEmpty) sweep(name)
      return false
    }
    val tailBytes = tail.map(_.length).sum
    val outFiles = math.max(1L,
      (tailBytes + thresholdBytes - 1) / thresholdBytes).toInt
    // read ONLY the tail files (schema pinned from the live table so an
    // empty tail-frame cannot infer a narrower one) and rewrite them as
    // few right-sized files; coalesce, not repartition — compaction is a
    // pure relayout, no shuffle needed
    val merged = spark.read.schema(table(name).schema)
      .parquet(tail.map(_.getPath).toSeq: _*)
      .coalesce(outFiles)
    publish(name) { stage => write(merged)(stage); link(graduated, stage) }
    true
  }

  /** CREATE TABLE t AS <df> (error if exists, like the reference without
    * IF NOT EXISTS). */
  def createTable(name: String, df: DataFrame,
      ifNotExists: Boolean = false): Unit =
    if (tableExists(name)) {
      if (!ifNotExists)
        throw new IllegalArgumentException(s"table $name already exists")
    } else publish(name)(write(df))

  // ── declared constraints (reference `relations/TableSchema.java:1-283`
  // carries NOT NULL / PK per column; `lab/storage/IndexUpdater.java:1-152`
  // enforces them on insert) ──────────────────────────────────────────────
  /** Declared constraints live in a `CONSTRAINTS` file beside the version
    * dirs — one entry per line: a bare lowercase column name means NOT NULL
    * (the original format, still read for existing warehouses), `pk:<col>`
    * marks a PRIMARY KEY member column, and `uq:<col>` a single-column
    * UNIQUE constraint (recorded by CREATE UNIQUE INDEX). A new engine
    * instance over an existing warehouse keeps enforcing them. sweep() only
    * removes version DIRECTORIES, so the file survives every rewrite. */
  private def constraintsFile(table: String) = Paths.get(dir(table), "CONSTRAINTS")

  private def constraintLines(table: String): Seq[String] =
    if (Files.exists(constraintsFile(table)))
      Files.readString(constraintsFile(table)).linesIterator
        .map(_.trim).filter(_.nonEmpty).toSeq
    else Nil

  def notNullCols(table: String): Seq[String] =
    constraintLines(table).filterNot(_.contains(":"))

  def pkCols(table: String): Seq[String] =
    constraintLines(table).collect { case s if s.startsWith("pk:") =>
      s.stripPrefix("pk:").trim }

  /** Declared UNIQUE keys, one entry per constraint: a single column or a
    * column tuple (composite CREATE UNIQUE INDEX — stored comma-joined,
    * `uq:c1,c2`; the original single-column `uq:c` lines parse as 1-tuples,
    * so existing warehouses keep enforcing). */
  def uniqueKeys(table: String): Seq[Seq[String]] =
    constraintLines(table).collect { case s if s.startsWith("uq:") =>
      s.stripPrefix("uq:").split(",").map(_.trim).filter(_.nonEmpty).toSeq }

  private def recordUnique(table: String, columns: Seq[String]): Unit = {
    val key = columns.map(_.toLowerCase)
    if (!uniqueKeys(table).contains(key)) {
      val lines = constraintLines(table) :+ s"uq:${key.mkString(",")}"
      Files.writeString(constraintsFile(table), lines.mkString("\n")); ()
    }
  }

  // ── temporary tables (reference grammar `nanosql.g:246-258` accepts a
  // TEMPORARY flag on CREATE TABLE) — a temp table IS a manifest table
  // (same INSERT/UPDATE/DELETE/txn path), plus a `TEMP` marker file beside
  // CURRENT. The owning Engine drops marked tables on close; a NEW Engine
  // over the same warehouse sweeps any left by a dead session, so temp
  // tables are invisible after restart even across a crash. ──────────────
  private def tempMarker(table: String) = Paths.get(dir(table), "TEMP")

  def markTemporary(name: String): Unit = {
    Files.writeString(tempMarker(name), ""); ()
  }

  def temporaryTables: Seq[String] =
    warehouseTables.filter(t => Files.exists(tempMarker(t)))

  /** Column-DDL CREATE TABLE (reference
    * `commands/CreateTableCommand.java:1-332`): publish an EMPTY version
    * with the declared schema — the schema of record for every later
    * insert — and persist the declared NOT NULL + PRIMARY KEY sets. */
  def createEmpty(name: String, schema: StructType,
      notNull: Seq[String], pk: Seq[String] = Nil): Unit = {
    if (tableExists(name))
      throw new IllegalArgumentException(s"table $name already exists")
    publish(name)(write(spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)))
    val lines = notNull.map(_.toLowerCase).distinct ++
      pk.map(c => s"pk:${c.toLowerCase}").distinct
    if (lines.nonEmpty)
      Files.writeString(constraintsFile(name), lines.mkString("\n"))
  }

  /** Reject the rows statement `what` writes to table `name` when one
    * puts NULL into a declared NOT NULL column — one distributed pass over
    * the rows, only when constraints exist. */
  private def checkNotNull(name: String, rows: DataFrame,
      what: String): Unit = {
    val nn = notNullCols(name)
    if (nn.nonEmpty) {
      val byLower = rows.columns.map(c => c.toLowerCase -> c).toMap
      val missing = nn.filterNot(byLower.contains)
      if (missing.nonEmpty)
        throw new IllegalArgumentException(
          s"NOT NULL column(s) ${missing.mkString(", ")} absent from $what")
      val violated = rows
        .filter(nn.map(c => col(byLower(c)).isNull).reduce(_ || _))
        .limit(1).count() > 0
      if (violated)
        throw new IllegalArgumentException(
          s"NOT NULL constraint violated on $what " +
            s"(declared: ${nn.mkString(", ")})")
    }
  }

  /** The constraint check of every append: NOT NULL ([[checkNotNull]]),
    * then PRIMARY KEY and UNIQUE (CREATE UNIQUE INDEX, reference
    * `commands/CreateIndexCommand.java:1-142`) priced for scale — the
    * reference (`lab/storage/IndexUpdater.java:1-152`) rejects duplicate
    * keys via its B⁺-tree, free there, an O(table) anti-join per insert
    * here:
    *  - each insert BATCH is rejected if it repeats a key internally — a
    *    batch-sized groupBy, never a table scan (SQL UNIQUE semantics: a
    *    NULL in any UNIQUE key column never collides);
    *  - cross-batch uniqueness is audited on demand by `VERIFY t`
    *    ([[verifyTable]]), one explicit full-table pass — the honest
    *    columnar price, paid when asked rather than smuggled into every
    *    append. */
  private def checkBatch(name: String, rows: DataFrame): Unit = {
    checkNotNull(name, rows, s"insert into $name") // one pass over `rows`
    val byLower = rows.columns.map(c => c.toLowerCase -> c).toMap
    def repeats(key: Seq[String], keyed: DataFrame): Boolean =
      keyed.groupBy(key.map(c => col(byLower(c))): _*)
        .count().filter(col("count") > 1).limit(1).count() > 0
    val pk = pkCols(name)
    if (pk.nonEmpty && pk.forall(byLower.contains) && repeats(pk, rows))
      throw new IllegalArgumentException(
        s"PRIMARY KEY (${pk.mkString(", ")}) duplicated within the " +
          s"insert batch for $name")
    uniqueKeys(name).filter(_.forall(byLower.contains)).foreach { key =>
      if (repeats(key,
          rows.filter(key.map(c => col(byLower(c)).isNotNull).reduce(_ && _))))
        throw new IllegalArgumentException(
          s"UNIQUE (${key.mkString(", ")}) duplicated within the insert " +
            s"batch for $name")
    }
  }

  /** LOAD / CREATE COLSTORE: CSV file -> columnar (Parquet) table. */
  def loadCsv(name: String, csvPath: String, schema: StructType,
      header: Boolean = true): Unit =
    createTable(name,
      spark.read.option("header", header.toString).schema(schema).csv(csvPath))

  /** DROP TABLE [IF EXISTS]. */
  def dropTable(name: String, ifExists: Boolean = true): Unit = {
    if (!tableExists(name) && !ifExists)
      throw new IllegalArgumentException(s"table $name does not exist")
    TableCommands.rm(new java.io.File(dir(name)))
  }

  def table(name: String): DataFrame = spark.read.parquet(dataPath(name))

  /** `rows` projected and cast column by column to stored table `name`'s
    * exact schema — kernels carry wider integer types than the stored
    * artifacts, and a type-mixed parquet directory would poison every
    * later read. */
  def conform(name: String, rows: DataFrame): DataFrame =
    rows.select(table(name).schema.fields.toSeq.map(f =>
      col(f.name).cast(f.dataType)): _*)

  /** Re-point the session-catalog entries of `names` at their live
    * versions, in `s` and in the default session. Both, because
    * `foreachBatch` hands a CLONED session: a registration there updates
    * the shared external catalog's metadata but not the default
    * session's relation cache — [[TableCommands.healCatalog]] then sees
    * metadata == CURRENT and skips, leaving the default session scanning
    * version files the sweep already deleted. */
  def repoint(s: SparkSession, names: Seq[String]): Unit =
    (s +: SparkSession.getDefaultSession.filter(_ ne s).toSeq).foreach(ss =>
      names.foreach(n => TableCommands.registerCatalog(ss, n, dataPath(n))))

  /** INSERT INTO t VALUES / SELECT and LOAD — append semantics, as a
    * new version: the stage holds the new rows plus hard links to the live
    * version's data files, so the write costs O(new data) and the live
    * directory is never touched (a SNAPSHOT pinned on it keeps its rows,
    * and a reader in another process never sees a partial INSERT).
    * `commit` as for the rewrites ([[TableCommands.Commit]]). */
  def insertInto(name: String, rows: DataFrame,
      commit: TableCommands.Commit = TableCommands.bareCommit): Unit = {
    require(tableExists(name), s"table $name does not exist")
    append(name, rows, None, commit)
  }

  /** Exactly-once streaming append: [[insertInto]]'s link-forward version
    * whose micro-batch id commits atomically WITH the data (see
    * [[publish]]'s `streamBatch`). A re-delivered batch (id ≤ the live
    * marker) is a no-op — `foreachBatch` replays after failures/restarts,
    * so idempotence is the sink's responsibility — and the first batch
    * creates the table. Each append adds files (the old ones are shared
    * by link, never rewritten), so a long-running stream accumulates
    * small files: [[compactTail]] is the compactor.
    * Callers that serve a catalog name re-point it after an append (see
    * DedupIndex/VectorIndex maintenance), because the live directory
    * changes. */
  def appendCommitted(name: String, rows: DataFrame, batchId: Long): Unit =
    if (!lastCommittedBatch(name).exists(_ >= batchId))
      append(name, rows, Some(batchId), TableCommands.bareCommit)

  /** The body shared by [[insertInto]] and [[appendCommitted]]. */
  private def append(name: String, rows: DataFrame, streamBatch: Option[Long],
      commit: TableCommands.Commit): Unit = {
    checkBatch(name, rows)
    publish(name, streamBatch, commit) { stage =>
      write(rows)(stage)
      if (tableExists(name)) link(dataFiles(Paths.get(dataPath(name))), stage)
    }
  }

  /** The micro-batch id committed with the live version, if this table has
    * ever been a streaming sink target. */
  def lastCommittedBatch(name: String): Option[Long] =
    if (!tableExists(name)) None
    else {
      val f = Paths.get(dataPath(name), "_STREAM_BATCH")
      if (Files.exists(f)) Some(Files.readString(f).trim.toLong) else None
    }

  // ===== durable per-table SINK claims (generic single-writer fence) =====
  // Every appendCommitted-driven stream names its sink tables here for its
  // lifetime, and maintenance verbs (OPTIMIZE / DML routes) check the claim
  // before touching the same manifest — the fence keys off "a live stream
  // writes this table", not a hardcoded name list, so caller-named sinks
  // (the Scala-API serve/decontam twins) are protected exactly like the
  // engine's own ingest logs. The claim file is the `_ingest_registry`
  // pattern: link(2)-exclusive create (rename(2) silently replaces — see
  // Engine.claimIngest), content = a stable OWNER tag. Owner tags are
  // DETERMINISTIC per logical writer ("ingest:VECTOR", "serve:<table>"), so
  // a crashed writer's stale claim is transparently re-claimed by its own
  // restart while a DIFFERENT writer targeting the same table is refused.
  private def sinkClaimsDir = Paths.get(warehouse, "_sink_claims")
  private def sinkClaimFile(table: String) =
    sinkClaimsDir.resolve(table.toLowerCase(java.util.Locale.ROOT))

  /** Serialize claim MUTATIONS across processes (one advisory
    * FileChannel lock on `_sink_claims/.lock`) and across engines in the
    * SAME JVM (a per-claims-dir monitor — file locks are held per-JVM and
    * non-reentrant, so two in-process engines would otherwise throw
    * OverlappingFileLockException instead of waiting). The bare files
    * leave two check-then-act windows open that nonces alone narrow but
    * cannot close: a same-owner re-claim reads the owner then REPLACES —
    * an interleaved `RELEASE SINK ... FORCE` + foreign claim between the
    * read and the move would be silently clobbered (the rename(2) bug
    * class again, one level up); and a late nonce release reads the nonce
    * then deletes — a successor's re-claim landing between the two would
    * lose its LIVE claim. Claims change only at stream start/stop, so a
    * coarse lock costs nothing on any hot path. */
  private def withClaimLock[A](body: => A): A = {
    Files.createDirectories(sinkClaimsDir)
    val monitor = TableCommands.claimMonitors.computeIfAbsent(
      sinkClaimsDir.toAbsolutePath.normalize.toString, _ => new Object)
    monitor.synchronized {
      val ch = java.nio.channels.FileChannel.open(
        sinkClaimsDir.resolve(".lock"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try { val l = ch.lock(); try body finally { l.release() } }
      finally ch.close()
    }
  }

  /** The owner tag of the live sink claim on `table`, if any. Lock-free:
    * claim content is always written whole to a tmp then atomically
    * linked/moved into place, so a reader sees full content or no file —
    * but a delete can land between the exists check and the read, which
    * must read as "no claim", not an error. */
  def sinkOwner(table: String): Option[String] =
    try {
      val f = sinkClaimFile(table)
      if (!Files.exists(f)) None
      else Files.readString(f).trim.split("\t", 2).headOption
        .filter(_.nonEmpty)
    } catch { case _: java.nio.file.NoSuchFileException => None }

  /** The per-acquisition NONCE riding in the claim (second field; absent
    * on claims written before nonces existed). */
  private def sinkNonce(table: String): Option[String] =
    try {
      val f = sinkClaimFile(table)
      if (!Files.exists(f)) None
      else Files.readString(f).trim.split("\t", 2).lift(1)
    } catch { case _: java.nio.file.NoSuchFileException => None }

  /** Claim `table` as a streaming sink for `owner`; returns the
    * per-acquisition nonce. Idempotent for the same owner — a resume or
    * restart re-claims, REPLACING the stored nonce with its own, so a
    * predecessor instance's LATE release (the twins release from an async
    * listener) can no longer drop the successor's live claim
    * ([[releaseSinkIfRun]] compares nonces). A claim held by a different
    * owner is refused. The tmp name is per-attempt unique for the same
    * reason as the ingest-registry claim. */
  def claimSink(table: String, owner: String): String =
    claimSinkKeepingPrior(table, owner)._1

  /** As [[claimSink]], but also returns the REPLACED claim's raw content
    * when this was a same-owner re-claim. A failed stream start restores
    * that content ([[restoreSinkClaim]]) instead of releasing: the
    * re-claim policy assumes the prior incarnation is DEAD, and when it
    * is not — a second twin targeting a LIVE twin's sink in this JVM,
    * where Spark's same-checkpoint refusal kills the second start — a
    * delete-on-rollback would strand the live predecessor unfenced. */
  def claimSinkKeepingPrior(table: String,
      owner: String): (String, Option[String]) = withClaimLock {
    // the mirror of begin()'s claim check: starting a stream inside an
    // open transaction puts its sink in the rollback set — see begin()
    require(txnSnapshot.isEmpty,
      s"cannot register stream sink $table: a transaction is open on " +
        "this session and ROLLBACK would restore the sink's pointer " +
        "under the stream - COMMIT or ROLLBACK first")
    val nonce = java.util.UUID.randomUUID().toString
    val tmp = sinkClaimsDir.resolve(
      table.toLowerCase(java.util.Locale.ROOT) + "." +
        nonce.take(8) + ".tmp")
    Files.writeString(tmp, s"$owner\t$nonce")
    try {
      try { Files.createLink(sinkClaimFile(table), tmp); (nonce, None) }
      catch { case _: java.nio.file.FileAlreadyExistsException =>
        if (!sinkOwner(table).contains(owner))
          throw new IllegalStateException(
            s"table $table is the registered sink of another live stream " +
              s"(${sinkOwner(table).getOrElse("?")}) and the manifest is " +
              "single-writer - stop that stream first")
        // same-owner re-claim: take over the claim by REPLACING its
        // nonce (safe — the owner tag IS the logical writer identity,
        // and this instance is that writer's current incarnation; the
        // claim lock makes the read-then-replace atomic, so an
        // interleaved FORCE release + foreign claim cannot be clobbered)
        val prior = Files.readString(sinkClaimFile(table))
        Files.move(tmp, sinkClaimFile(table),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        (nonce, Some(prior))
      }
    } finally { Files.deleteIfExists(tmp); () }
  }

  /** Put a REPLACED claim back after a failed start — only while
    * `ifNonce` (the failed claimant's) still owns the file; anyone
    * else's later re-claim wins and the restore is a no-op. */
  def restoreSinkClaim(table: String, content: String,
      ifNonce: String): Unit = withClaimLock {
    if (sinkNonce(table).contains(ifNonce)) {
      val tmp = sinkClaimsDir.resolve(
        table.toLowerCase(java.util.Locale.ROOT) + "." +
          java.util.UUID.randomUUID().toString.take(8) + ".tmp")
      Files.writeString(tmp, content)
      Files.move(tmp, sinkClaimFile(table),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING); ()
    }
  }

  /** Heartbeat a live sink claim: bump the claim file's mtime, making
    * SHOW SINKS' claim_age_sec a LIVENESS signal for streams that beat it
    * (the SQL-face serve/decontam twins) — the same claim-mtime
    * convention as the ingest registry's per-batch beat. Lock-free: a
    * touch racing a release is a harmless miss. */
  def touchSinkClaim(table: String): Unit =
    try {
      val f = sinkClaimFile(table)
      if (Files.exists(f)) {
        Files.setLastModifiedTime(f,
          java.nio.file.attribute.FileTime
            .fromMillis(System.currentTimeMillis())); ()
      }
    } catch { case _: java.io.IOException => () }

  /** Release the sink claim on `table` unconditionally (idempotent) —
    * the deliberate-operator path (RELEASE SINK ... FORCE, STOP INGEST). */
  def releaseSink(table: String): Unit = withClaimLock {
    Files.deleteIfExists(sinkClaimFile(table)); ()
  }

  /** Every live sink claim: (table, owner, claim-file mtime millis) —
    * what SHOW SINKS lists, so an operator can see which tables are
    * fenced and by whom BEFORE hitting the refusal. */
  def sinkClaims: Seq[(String, String, Long)] =
    if (!Files.isDirectory(sinkClaimsDir)) Nil
    else Option(sinkClaimsDir.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.endsWith(".tmp") &&
        !f.getName.startsWith(".")) // .lock is fence plumbing, not a claim
      .toSeq.sortBy(_.getName)
      .flatMap(f =>
        try Some((f.getName,
          Files.readString(f.toPath).trim.split("\t", 2).headOption
            .getOrElse("?"),
          f.lastModified()))
        catch { case _: java.nio.file.NoSuchFileException => None })

  /** Release the claim only if `nonce` still owns it — the twins' async
    * termination-listener path: a stopped instance's late release must
    * not unfence a successor that already re-claimed the table (the
    * claim lock makes the nonce-check-then-delete atomic against that
    * re-claim). A nonce-less legacy claim matches any release. */
  def releaseSinkIfRun(table: String, nonce: String): Unit = withClaimLock {
    if (sinkNonce(table).forall(_ == nonce) && sinkOwner(table).nonEmpty) {
      Files.deleteIfExists(sinkClaimFile(table)); ()
    }
  }

  /** UPDATE t SET <col> = <expr> WHERE <cond>: copy-on-write rewrite.
    * All SET expressions evaluate against the OLD row (standard SQL UPDATE
    * semantics — `SET a = b, b = a` swaps), via a single simultaneous
    * projection. Distributed end-to-end — no driver-side row handling.
    * `alias` names the target in `cond` and `sets` (`t.id`). */
  def update(name: String, cond: Column, sets: Map[String, Column],
      commit: TableCommands.Commit = TableCommands.bareCommit,
      alias: String = ""): Unit = {
    val frame = updatePlan(name, cond, sets, alias)
    // a SET on a declared NOT NULL column: one pass over the rows it
    // changes (a table declaring none pays nothing)
    val nn = notNullCols(name)
    if (sets.keys.exists(k => nn.contains(k.toLowerCase)))
      checkNotNull(name, assign(aliased(name, alias)
        .filter(coalesce(cond, lit(false))), lit(true), sets), s"UPDATE $name")
    publish(name, commit = commit)(write(frame))
  }

  /** The rewrite frame [[update]] would publish — shared with EXPLAIN
    * (reference `commands/ExplainCommand.java` covers DML too). */
  def updatePlan(name: String, cond: Column, sets: Map[String, Column],
      alias: String = ""): DataFrame = {
    val cur = aliased(name, alias)
    requireColumns(name, "UPDATE", cur.columns, sets.keys)
    assign(cur, cond, sets)
  }

  /** `cur` with each SET column replaced by its value where `cond` holds. */
  private def assign(cur: DataFrame, cond: Column,
      sets: Map[String, Column]): DataFrame = {
    val byLower = sets.map { case (k, v) => k.toLowerCase -> v }
    cur.select(cur.columns.map { c =>
      byLower.get(c.toLowerCase) match {
        case Some(e) => when(cond, e).otherwise(col(c)).as(c)
        case None => col(c)
      }
    }: _*)
  }

  /** DELETE FROM t WHERE <cond>: copy-on-write rewrite keeping survivors. */
  def delete(name: String, cond: Column,
      commit: TableCommands.Commit = TableCommands.bareCommit,
      alias: String = ""): Unit =
    publish(name, commit = commit)(write(deletePlan(name, cond, alias)))

  /** The rewrite frame [[delete]] would publish — shared with EXPLAIN. */
  def deletePlan(name: String, cond: Column, alias: String = ""): DataFrame =
    aliased(name, alias).filter(!coalesce(cond, lit(false)))

  /** Table `name` under the statement's alias (the table name when
    * empty), so conditions and assignments may qualify their columns. */
  private def aliased(name: String, alias: String): DataFrame =
    table(name).alias(if (alias.isEmpty) name else alias)

  /** Every assigned column must exist in the target — a misspelling must
    * error, not leave the table silently unchanged. */
  private def requireColumns(name: String, verb: String,
      columns: Array[String], assigned: Iterable[String]): Unit = {
    val have = columns.map(_.toLowerCase).toSet
    val unknown = assigned.filterNot(c => have(c.toLowerCase))
    require(unknown.isEmpty,
      s"$verb column(s) ${unknown.mkString(", ")} do not exist in $name")
  }

  /** MERGE INTO <name> USING <src> ON <cond> — atomic COW upsert (no analog
    * in the reference, whose grammar stops at INSERT/UPDATE/DELETE
    * (`nanosql.g`); this is the warehouse-native composition of all three,
    * shaped like Delta/Iceberg MERGE). One rewrite publishes every effect
    * at once, so readers never see a half-merged table and ROLLBACK undoes
    * the whole merge as one pointer restore.
    *
    * Semantics (ANSI): a target row matched by MORE THAN ONE source row is
    * an error, not an arbitrary pick — the guard is one extra equi-join on
    * the merge condition (command-path cost, like checkNotNull). Matched
    * rows update (SET expressions may read both sides) or delete; unmatched
    * source rows insert via the column/expression map, absent target
    * columns filling NULL. Every output column casts to the target schema.
    *
    * 100 TB shape: the matched side is one equi-join between target and
    * source (shuffle or broadcast by Catalyst's choice), the insert side is
    * the same join left_anti, and both union into a single published
    * rewrite — O(table + source), no per-row driver work. */
  def merge(m: TableCommands.Merge,
      commit: TableCommands.Commit = TableCommands.bareCommit): Unit = {
    val s = m.src.withColumn(TableCommands.mergeMarker, lit(true))
      .alias(m.sAlias)
    // ambiguity guard: >1 source row per target row is an error (ANSI MERGE)
    val uid = "__graft_merge_uid"
    val dup = table(m.name).withColumn(uid, monotonically_increasing_id())
      .alias(m.tAlias).join(s, m.cond).groupBy(col(uid)).count()
      .filter(col("count") > 1).limit(1).count() > 0
    if (dup) throw new IllegalArgumentException(
      s"MERGE into ${m.name}: a target row matches more than one source row")
    val result = mergePlan(m)
    checkNotNull(m.name, result, s"MERGE INTO ${m.name}")
    publish(m.name, commit = commit)(write(result))
  }

  /** The rewrite frame [[merge]] would publish — shared with EXPLAIN
    * (which must neither publish nor run the ambiguity guard).
    *
    * `matchedCond`/`insertCond` are the SQL:2003 `WHEN [NOT] MATCHED AND
    * <cond>` refinements: the action applies only where the extra condition
    * is TRUE (a NULL condition means not-satisfied, per the standard —
    * hence the coalesce-to-false). */
  def mergePlan(m: TableCommands.Merge): DataFrame = {
    val tgt = table(m.name)
    val tAlias = m.tAlias
    val s = m.src.withColumn(TableCommands.mergeMarker, lit(true))
      .alias(m.sAlias)
    val t = tgt.alias(tAlias)
    val joined = t.join(s, m.cond, "left")
    val hit = col(s"${m.sAlias}.${TableCommands.mergeMarker}").isNotNull &&
      coalesce(m.matchedCond.getOrElse(lit(true)), lit(false))
    requireColumns(m.name, "MERGE UPDATE", tgt.columns, m.sets.keys)
    val setsLower = m.sets.map { case (k, v) => k.toLowerCase -> v }
    val kept =
      if (m.matchedDelete)
        joined.filter(!hit)
          .select(tgt.schema.fields.map(f =>
            col(s"$tAlias.${f.name}").as(f.name)): _*)
      else
        joined.select(tgt.schema.fields.map { f =>
          setsLower.get(f.name.toLowerCase) match {
            case Some(e) =>
              when(hit, e).otherwise(col(s"$tAlias.${f.name}"))
                .cast(f.dataType).as(f.name)
            case None => col(s"$tAlias.${f.name}").as(f.name)
          }
        }: _*)
    m.insert match {
      case Some(colExprs) =>
        requireColumns(m.name, "MERGE INSERT", tgt.columns, colExprs.map(_._1))
        val byLower = colExprs.map { case (c, e) => c.toLowerCase -> e }.toMap
        val srcOnly = s.join(t, m.cond, "left_anti")
        val ins = m.insertCond
          .map(c => srcOnly.filter(coalesce(c, lit(false))))
          .getOrElse(srcOnly)
          .select(tgt.schema.fields.map { f =>
            byLower.get(f.name.toLowerCase) match {
              case Some(e) => e.cast(f.dataType).as(f.name)
              case None => lit(null).cast(f.dataType).as(f.name)
            }
          }: _*)
        kept.unionByName(ins)
      case None => kept
    }
  }

  /** CREATE INDEX ON t (col) — the reference builds a B⁺-tree on the column
    * (`commands/CreateIndexCommand.java`); a distributed columnar engine has
    * no row-level index, so the Spark-native analog is re-clustering the
    * table into hash buckets sorted by the key: every equi-join, aggregation
    * or point lookup on that key then runs co-located with NO exchange — the
    * same read-path benefit the index gives the single-node engine, and the
    * one that matters at 100 TB (it removes the fact-table shuffle).
    * Registered as `<table>_by_<column>` in the session catalog. */
  def createIndex(table: String, column: String, buckets: Int = 8,
      unique: Boolean = false): Unit =
    createIndexMulti(table, Seq(column), buckets, unique)

  /** Clone table name a (possibly composite) index re-clusters into. */
  def indexTableName(table: String, columns: Seq[String]): String =
    s"${table}_by_${columns.mkString("_")}"

  /** CREATE [UNIQUE] INDEX [USING type] ON t (c1, c2, ...) — the full
    * reference surface (`commands/CreateIndexCommand.java:1-142` takes a
    * column LIST via addColumn and an index type via setIndexType; grammar
    * `nanosql.g:426-448`). A composite key buckets on all columns; the
    * ordered index types additionally sort within buckets, while
    * `USING hash` skips the sort — clustering is all a hash index
    * promises. UNIQUE audits the column TUPLE. */
  def createIndexMulti(table: String, columns: Seq[String],
      buckets: Int = 8, unique: Boolean = false,
      idxType: String = ""): Unit = {
    require(columns.nonEmpty, "CREATE INDEX needs at least one column")
    // index any readable table: warehouse tables via the manifest pointer,
    // everything else (external/catalog tables, temp views) via the session
    // catalog — the reference's CREATE INDEX is similarly source-agnostic
    val src = if (tableExists(table)) this.table(table) else spark.table(table)
    if (unique) {
      // CREATE UNIQUE INDEX on already-duplicated data must fail — one
      // full-column pass, the honest price (the index build scans anyway)
      val dup = src.filter(columns.map(c => col(c).isNotNull).reduce(_ && _))
        .groupBy(columns.map(col): _*)
        .count().filter(col("count") > 1).limit(1).count() > 0
      if (dup)
        throw new IllegalArgumentException(
          s"CREATE UNIQUE INDEX: $table.(${columns.mkString(", ")}) " +
            s"holds duplicate values")
      // the constraint outlives the bucketed clone (which mutation
      // invalidates as a stale snapshot): inserts keep enforcing it
      // in-batch, VERIFY audits cross-batch
      if (tableExists(table)) recordUnique(table, columns)
    }
    val bucketed = src.write.bucketBy(buckets, columns.head, columns.tail: _*)
    val clustered =
      if (idxType.equalsIgnoreCase("hash")) bucketed
      else bucketed.sortBy(columns.head, columns.tail: _*)
    clustered.mode(SaveMode.Overwrite)
      .saveAsTable(indexTableName(table, columns))
  }

  /** ANALYZE t — register the current version as an external catalog table
    * and compute table + column stats so CBO (join reorder, broadcast
    * thresholds) has real numbers for queries that read it via
    * `spark.table(name)`. */
  def analyze(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    spark.sql(
      s"CREATE TABLE `$name` USING parquet LOCATION '${dataPath(name)}'")
    spark.sql(s"ANALYZE TABLE `$name` COMPUTE STATISTICS FOR ALL COLUMNS"); ()
  }

  /** The version directories of THIS warehouse that `plan`'s file scans
    * read (subqueries included) — what a streamed read leases. */
  private[graft] def scannedVersions(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Seq[java.nio.file.Path] = {
    import org.apache.spark.sql.execution.datasources.{
      HadoopFsRelation, LogicalRelation}
    val wh = Paths.get(warehouse).toAbsolutePath.normalize
    plan.collectWithSubqueries { case l: LogicalRelation => l.relation }
      .collect { case h: HadoopFsRelation => h.location.rootPaths }
      .flatten
      .filter(p => p.toUri.getScheme == null || p.toUri.getScheme == "file")
      .map(p => Paths.get(p.toUri.getPath).toAbsolutePath.normalize)
      .filter(v => v.getParent != null && v.getParent.getParent == wh &&
        v.getFileName.toString.matches("v\\d{5,}"))
      .distinct
  }

  /** EXPLAIN — formatted physical plan, the analog of the reference's
    * `PlanNode.printNodeTree`, followed by per-node cost estimates: the
    * reference prints `PlanCost{numTuples, tupleSize, cpuCost, numBlockIOs}`
    * under each node (`qeval/PlanCost.java:14-80`, printed by
    * `commands/QueryCommand.java:133-147`); the Spark analogs are the
    * optimizer's per-node Statistics — rowCount (populated once ANALYZE has
    * computed catalog stats; the Engine enables CBO so they propagate
    * through joins/aggregates) and sizeInBytes. */
  def explain(df: DataFrame): String = {
    val qe = df.queryExecution
    val base = qe.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val costs = qe.optimizedPlan.collect {
      case n =>
        val st = n.stats
        s"${n.nodeName}: PlanCost{rowCount=" +
          s"${st.rowCount.map(_.toString).getOrElse("n/a")}, " +
          s"sizeInBytes=${st.sizeInBytes}}"
    }
    base + "\n== Plan Cost (optimizer statistics) ==\n" + costs.mkString("\n")
  }
}

object TableCommands {

  /** Per-claims-dir monitors backing [[TableCommands.withClaimLock]]:
    * JVM-global so every engine over the same warehouse (tests run
    * several in-process) serializes on the same object before taking the
    * per-JVM, non-reentrant FileChannel lock. */
  private[commands] val claimMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** A staged rewrite's commit step: called with the table, the pointer
    * swap and the sweep, it must run both, in that order. The storage
    * API's own callers commit bare; [[graft.Engine]] runs them inside its
    * commit section and repoints its catalog between the two. */
  type Commit = (String, () => Unit, () => Unit) => Unit
  val bareCommit: Commit = (_, swap, sweep) => { swap(); sweep() }

  /** One MERGE INTO `name` statement for [[TableCommands.merge]]: the
    * source frame, the target and source aliases, the ON condition, the
    * WHEN MATCHED action (`sets` to update, or `matchedDelete`) and the
    * WHEN NOT MATCHED insert (target column -> expression), each with its
    * optional `AND <cond>` refinement. */
  case class Merge(name: String, src: DataFrame, tAlias: String,
      sAlias: String, cond: Column, sets: Map[String, Column],
      matchedDelete: Boolean, insert: Option[Seq[(String, Column)]],
      matchedCond: Option[Column] = None, insertCond: Option[Column] = None)

  /** The source-side column whose presence marks a matched join row. */
  private val mergeMarker = "__graft_merge_src"

  /** Delete `f` and, for a directory, everything under it. */
  private[graft] def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
    f.delete(); ()
  }

  /** Read leases: absolute version directory -> holder count. JVM-global,
    * like [[claimMonitors]], because several engines over one warehouse
    * share a JVM; readers in OTHER JVMs still rely on RETAIN. */
  private val leases =
    new java.util.concurrent.ConcurrentHashMap[java.nio.file.Path, Integer]()

  private[graft] def lease(dirs: Seq[java.nio.file.Path]): Unit =
    dirs.foreach(d => leases.merge(d, 1,
      (a: Integer, b: Integer) => Integer.valueOf(a + b)))

  private[graft] def release(dirs: Seq[java.nio.file.Path]): Unit =
    dirs.foreach(d => leases.computeIfPresent(d,
      (_, n: Integer) => if (n <= 1) null else Integer.valueOf(n - 1)))

  private[commands] def leased(dir: java.nio.file.Path): Boolean =
    leases.containsKey(dir.toAbsolutePath.normalize)

  /** Re-register any of `names` whose session-catalog entry no longer
    * points at its manifest's CURRENT version. A mutation version-bumps
    * a stored table and may sweep the old directory; commands repoint
    * the catalog afterwards, but a CRASH between the publish and the
    * repoint leaves the entry pinned to a swept path — which Spark reads
    * as an EMPTY table, so a serve path would silently answer from a
    * zero-row artifact until the next maintenance command. Healing is
    * driver-side metadata only (one catalog lookup + one CURRENT read
    * per table, no Spark job); the manifest dir is derived from the
    * stale location itself (its parent), so the query path needs no
    * warehouse handle. */
  def healCatalog(s: org.apache.spark.sql.SparkSession,
      names: Seq[String]): Unit = names.foreach { n =>
    val cat = s.sessionState.catalog
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(n)
    if (cat.tableExists(ident)) {
      val loc = java.nio.file.Paths.get(cat.getTableMetadata(ident).location)
      val cur = loc.getParent.resolve("CURRENT")
      if (java.nio.file.Files.isRegularFile(cur)) {
        val want = loc.getParent
          .resolve(java.nio.file.Files.readString(cur).trim)
        if (want != loc) registerCatalog(s, n, want.toString)
      }
    }
  }

  /** Point session-catalog entry `n` at `path`. For an EXISTING entry
    * this is one atomic `ALTER TABLE SET LOCATION` — no drop-then-create
    * window in which a crash would leave NO entry at all (a stranding
    * mode [[healCatalog]] could not recover, since the manifest dir is
    * derived from the entry's own location). Only a missing entry pays
    * the two-statement create. Shared by the heal path and the
    * command-level repoints so the registration contract lives in one
    * place. */
  def registerCatalog(s: org.apache.spark.sql.SparkSession,
      n: String, path: String): Unit = {
    if (s.catalog.tableExists(n))
      s.sql(s"ALTER TABLE `$n` SET LOCATION '$path'")
    else
      s.sql(s"CREATE TABLE `$n` USING parquet LOCATION '$path'")
    // a location change invalidates any cached relation/file listing
    s.catalog.refreshTable(n)
  }
}
