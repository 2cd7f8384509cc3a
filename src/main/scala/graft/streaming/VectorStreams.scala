package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.commands.TableCommands
import graft.operators.{Similarity, VectorIndex}

/** Streaming transforms over an EMBEDDING stream (vec_id, embedding) — the
  * ingest leg of the vector-index lifecycle. BUILD (batch) trains and
  * materializes the index; the serve queries (s100–s105) read it; this
  * object is the third leg: vectors that arrive AFTER the build are routed
  * and compressed ON INGEST so the growing segment carries the same
  * (cluster, codes) artifact rows the stored tables hold — exactly the
  * Milvus/Lucene growing-segment discipline, and the producer of s104's
  * fresh tier once the segment is flushed.
  *
  * Possible statelessly because both model artifacts are k-bounded: the
  * coarse centroids and the PQ codebook freeze driver-side at stream start
  * ([[freeze]]) into static frames, and each arriving vector runs
  * REFRESH's own kernel ([[Similarity.routeAndEncode]]) against them —
  * stream–static broadcast joins, one map-side argmax + 8 subspace
  * argmins, no state store, any throughput.
  */
object VectorStreams {

  /** Freeze the model artifacts of served index frames (or any
    * centroids/codebook pair with the build schema) into the kernel's
    * [[Similarity.EncodeModel]]: each frame's k rows are collected once,
    * the join form is picked and the one-row centroid and codebook
    * arrays are aggregated once, and every frame is held on the driver
    * as a local relation. Every micro-batch then routes against the
    * model as it stood at stream start (a later BUILD cannot shift a
    * running stream's routing), an executor loss cannot lose it, and a
    * batch pays no count or model aggregate of its own. */
  def freeze(centroids: DataFrame, codebook: DataFrame)
      : Similarity.EncodeModel = {
    def local(df: DataFrame): DataFrame = df.sparkSession.createDataFrame(
      java.util.Arrays.asList(df.collect(): _*), df.schema)
    val m = Similarity.encodeModel(local(centroids), local(codebook))
    Similarity.EncodeModel(m.cents, m.centsOne.map(local), local(m.book))
  }

  /** Split a (id, embedding) micro-batch into (clean, poison): null id,
    * null embedding, dimension ≠ `dim`, or a non-finite/null COMPONENT
    * (NaN, ±Infinity, null element). Shared by every vector-fed twin — a
    * poison record must never kill a stream: the batch kernels RAISE on
    * malformed inputs (correct for a one-shot SQL call, where the caller
    * fixes the statement), but a streaming checkpoint would replay the
    * same batch into the same raise forever — a poison-pill restart
    * loop. The non-finite case matters as much as the null one: the
    * quantization casts NaN to 0L and saturates Infinity, so without
    * this split a NaN embedding would land as a VALID-LOOKING index
    * entry (codes of a zero vector) and serve as a bogus neighbor —
    * exactly the fake-valid-entry corruption the null split closed. The
    * poison frame carries (id, n_dims, reason) ready for an exactly-once
    * quarantine append. The predicate is never-null (a true disjunct
    * absorbs the nulls SQL's three-valued OR would otherwise keep). */
  private def splitPoison(batch: DataFrame, idCol: String, dim: Int)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.{col, size, when}
    val typed = batch.select(idCol, "embedding")
    val poisonCond = col(idCol).isNull || col("embedding").isNull ||
      size(col("embedding")) =!= dim ||
      Similarity.nonFiniteComponent(col("embedding"))
    (typed.filter(!poisonCond),
      typed.filter(poisonCond).select(col(idCol),
        size(col("embedding")).as("n_dims"),
        when(col(idCol).isNull, s"null_$idCol")
          .when(col("embedding").isNull, "null_embedding")
          .when(size(col("embedding")) =!= dim, "dim_mismatch")
          .otherwise("non_finite_embedding").as("reason")))
  }

  /** Hold the generic per-table SINK claims for a twin's lifetime: claim
    * before start (the reverse order has a window where the stream is
    * already committing but invisible to the fence), release on query
    * termination via a self-removing listener. The owner tag is
    * DETERMINISTIC per (twin kind, table), so a hard-killed twin's stale
    * claim is transparently re-claimed by its own restart; a claim left
    * by a twin that can never restart is released deliberately with the
    * engine's `RELEASE SINK <table> FORCE`. What the claim fences is
    * OPTIMIZE/DML racing the twin's per-batch manifest commits — see
    * TableCommands.claimSink. */
  private[streaming] def withSinkClaims(cmds: TableCommands,
      ss: SparkSession, owner: String,
      tables: Seq[String])(start: => StreamingQuery): StreamingQuery = {
    // claim first, remember each acquisition's NONCE: releases below go
    // through releaseSinkIfRun, so if a SUCCESSOR twin (same owner tag)
    // re-claims the table between this instance's stop and its async
    // termination event, the late release is a no-op instead of
    // unfencing the live successor. Also remember the REPLACED content
    // of a same-owner re-claim: if the start below THROWS (Spark refuses
    // a second query on a live checkpoint), the predecessor may be alive
    // and its claim must be RESTORED, not deleted.
    val acquired =
      scala.collection.mutable.ArrayBuffer.empty[(String, (String, Option[String]))]
    def rollbackClaims(): Unit =
      acquired.foreach { case (t, (n, prior)) => prior match {
        case Some(c) => cmds.restoreSinkClaim(t, c, n)
        case None => cmds.releaseSinkIfRun(t, n)
      }}
    // a refusal on the Nth table must not leave tables 1..N-1 claimed
    // (or their predecessors' claims replaced) by a twin that never
    // starts — release fresh claims, restore replaced ones
    try tables.foreach(t => acquired += t -> cmds.claimSinkKeepingPrior(t, owner))
    catch { case e: Throwable => rollbackClaims(); throw e }
    val nonces = acquired.toSeq
    // default a retain window of 5 on every stream sink the twin will
    // appendCommit into (unless the operator already chose one): with
    // the default retain of 1, every append sweeps the superseded
    // version instantly and a concurrent ad-hoc reader of the LIVE sink
    // dies mid-scan — the reader-vs-sweep shape the chaos soak measured
    // on the index tables. Link-forward appends make retained versions
    // near-free (hard-linked files), so the window costs only the tail
    // deltas it keeps. Defaulted AFTER the claims succeed (a claim
    // refusal must not strand RETAIN-only table dirs a later CREATE
    // TABLE would silently inherit); the defaulted list feeds the
    // start-failure rollback below.
    val retainDefaulted = tables.filterNot(cmds.hasRetain)
    retainDefaulted.foreach(t => cmds.setRetainAhead(t, 5))
    // match termination by RUN id, never query id: a TAKEOVER's old and
    // new runs share the query id (it is persisted in the checkpoint),
    // so an id-keyed match let the OLD run's termination event — when
    // the async listener bus delivered it after idHolder was set — fire
    // THIS listener and release the live successor's own claim (and
    // eat its listener), leaving a running twin unfenced. runId is
    // fresh per run, so the predecessor's event can never match.
    val idHolder =
      new java.util.concurrent.atomic.AtomicReference[java.util.UUID]()
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (e.runId == idHolder.get) {
          nonces.foreach { case (t, (n, _)) => cmds.releaseSinkIfRun(t, n) }
          ss.streams.removeListener(this)
        }
    }
    ss.streams.addListener(listener)
    val q =
      try start
      catch { case e: Throwable =>
        ss.streams.removeListener(listener)
        // rollback: a re-claimed (replaced) claim goes BACK — the
        // predecessor may be the live stream whose checkpoint just
        // refused us; a fresh claim is simply released. Retain windows
        // this call defaulted roll back with it (RETAIN-only dirs must
        // not outlive a refused start).
        rollbackClaims()
        retainDefaulted.foreach(cmds.clearRetain)
        throw e
      }
    idHolder.set(q.runId)
    // a query that died between start() and the line above delivered its
    // termination event against a null idHolder — the listener matched
    // nothing, so the claims would outlive the stream and the listener
    // would leak. Both cleanups are idempotent (releaseSinkIfRun is
    // nonce-guarded; a double removeListener is a no-op), so re-running
    // them here is safe even if the event raced in after the set.
    if (!q.isActive) {
      nonces.foreach { case (t, (n, _)) => cmds.releaseSinkIfRun(t, n) }
      ss.streams.removeListener(listener)
    }
    q
  }

  /** Re-run a serve/decontam micro-batch body ONCE when a concurrent
    * index append swept a version the batch's plan had already resolved:
    * the read-side twins plan against the stored codes/assign tables per
    * batch, the VECTOR gate appends to those same tables (a legal
    * composition — the gate WRITES them, the twins only read), and a
    * publish+sweep landing between plan resolution and file read kills
    * the scan with FAILED_READ_FILE. BUILD's retain window (5 versions)
    * makes the race need five gate publishes inside one serve batch; the
    * retry covers a hot gate that manages it anyway. Safe because the
    * whole body is idempotent: every append in it is `appendCommitted`,
    * whose marker skips anything the failed attempt already committed —
    * so the retry is exactly-once by construction. A second failure
    * propagates (a genuine fault must kill the stream visibly, never
    * loop). */
  private def retryOnceOnStaleRead(ss: SparkSession)(
      body: => Unit): Unit =
    try body catch { case e: Throwable if staleRead(e) =>
      // re-planning alone is NOT enough: foreachBatch hands each twin
      // its own CLONED session — clones share the EXTERNAL catalog (the
      // gate's repoint keeps its metadata fresh) but each keeps its own
      // TABLE RELATION CACHE, and the gate can only invalidate its own
      // clone's and the default session's. This clone's cache stays
      // pinned to the swept version, so a plain retry re-resolves the
      // same dead files (measured by the chaos soak's second seed).
      // refreshTable drops THIS session's cached relation; the retry
      // then re-resolves the fresh location from the shared catalog.
      Seq("centroids", "assign", "codebook", "codes")
        .map(VectorIndex.tableName)
        .filter(ss.catalog.tableExists)
        .foreach(ss.catalog.refreshTable)
      body
    }

  private[graft] def staleRead(t: Throwable): Boolean = {
    var c: Throwable = t
    while (c != null) {
      // Match the exception TYPE as well as the message: a raw
      // java.io.FileNotFoundException's message is just the missing
      // path (no class name in it), so a driver-side listing/footer
      // read that surfaces unwrapped would slip past a message-only
      // check and kill the stream instead of taking the one-shot retry.
      if (c.isInstanceOf[java.io.FileNotFoundException] ||
          c.getClass.getName.contains("FileNotFoundException")) return true
      val m = Option(c.getMessage).getOrElse("")
      if (m.contains("FAILED_READ_FILE") ||
          m.contains("FileNotFoundException")) return true
      c = c.getCause
    }
    false
  }

  /** The corpus embedding dimension — one head-row read at stream START
    * (k-bounded driver read, the freeze convention), pinned for the
    * stream's lifetime like every other frozen artifact. */
  private def corpusDim(s: SparkSession, d: String): Int = {
    import org.apache.spark.sql.functions.{col, size}
    s.read.parquet(s"$d/embeddings.parquet")
      .select(size(col("embedding"))).head.getInt(0)
  }

  /** Route + PQ-encode each arriving vector against the frozen index
    * with REFRESH's kernel ([[Similarity.routeAndEncode]]). Output rows
    * (vec_id, cluster, codes) are bit-identical to what BUILD would have
    * written for the same vectors — the parity spec proves it against the
    * stored assign/codes tables. Identical code path for batch
    * (`spark.read`) and stream (`spark.readStream`). */
  def routeAndEncode(vecs: DataFrame,
      model: Similarity.EncodeModel): DataFrame =
    Similarity.routeAndEncode(vecs, model)

  /** SELF-MAINTAINING vector ingest — [[routeAndEncode]] closed into the
    * stored index, the vector twin of `DocStreams.admitAndIndex`: each
    * arriving (vec_id, embedding) micro-batch routes + PQ-encodes against
    * the model FROZEN at stream start (arrivals route against the RELEASE
    * quantizers — retraining is BUILD/REFRESH's job, exactly the
    * IVF-ADC serving contract) and the rows append EXACTLY-ONCE to the
    * stored `assign` and `codes` tables, so the very next search serves
    * the arrivals from the INDEXED tier instead of s104's fresh-delta
    * brute force, and REFRESH has nothing to drain for streamed-in
    * vectors.
    *
    * Unlike the band index, assign/codes are NOT sets — s105's segment
    * accounting COUNTS rows — so a replayed duplicate would corrupt
    * health metrics. Both appends therefore go through `appendCommitted`
    * (marker-guarded link-forward versions: O(batch) data written, atomic
    * pointer commit, replays skipped), codes FIRST — `REFRESH`'s
    * straggler convention: a crash between the two appends leaves a
    * codes-only straggler that the replay (or the next REFRESH's
    * assign∩codes delta) heals; the replayed encode is deterministic
    * given the frozen broadcast model, so the healed rows are
    * bit-identical. Arrivals carry FRESH vec_ids (the corpus's
    * append-only key — upstream contract, as for every ingest twin);
    * within-batch duplicates are collapsed defensively. After each
    * append the live version directories change, so every catalog entry
    * is re-pointed (`VectorIndex.repoint`). A coarse-built index is
    * refused, as REFRESH refuses it ([[VectorIndex.requireExactRouting]]). */
  def ingest(vecStream: DataFrame, cmds: TableCommands,
      checkpoint: Option[String] = None,
      compactEvery: Int = 0,
      compactThresholdBytes: Long = 64L << 20,
      batchOffset: Long = 0L,
      heartbeat: () => Unit = () => ()): StreamingQuery = {
    VectorIndex.requireExactRouting(cmds, "VECTOR INGEST")
    val model = freeze(
      cmds.table(VectorIndex.tableName("centroids")),
      cmds.table(VectorIndex.tableName("codebook")))
    // checkpoint: same restart contract as DocStreams.admitAndIndex —
    // batch numbering must resume or the markers swallow new data;
    // batchOffset is the source-rotation floor (see admitAndIndex)
    val w = vecStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val id = batchId + batchOffset
        ingestBatch(batch, cmds, model, id)
        // in-gate TAIL compaction of the link-forward small files — see
        // DocStreams.admitAndIndex for the single-writer rationale
        // (foreachBatch serializes the gate's writes) and the O(tail)
        // cost contract (graduated segments ride forward as hard links);
        // the rewrite carries each table's stream marker forward, and
        // the catalog repoint below follows the same two-session
        // discipline as the appends
        if (compactEvery > 0 && id % compactEvery == compactEvery - 1
            && Seq("assign", "codes").forall(p =>
              cmds.tableExists(VectorIndex.tableName(p)))) {
          val c1 = cmds.compactTail(VectorIndex.tableName("codes"),
            compactThresholdBytes)
          val c2 = cmds.compactTail(VectorIndex.tableName("assign"),
            compactThresholdBytes)
          if (c1 || c2) VectorIndex.repoint(batch.sparkSession, cmds)
        }
        heartbeat()
      }
    checkpoint.fold(w)(c => w.option("checkpointLocation", c)).start()
  }

  /** One micro-batch of [[ingest]] — public so the replay/crash contract
    * is directly testable (call twice with one batchId). */
  def ingestBatch(batch: DataFrame, cmds: TableCommands,
      model: Similarity.EncodeModel, batchId: Long): Unit = {
    if (batch.isEmpty) return
    import org.apache.spark.sql.functions.{col, size}
    require(Seq("assign", "codes").forall(p =>
      cmds.tableExists(VectorIndex.tableName(p))),
      "ingest maintains a stored vector index - run BUILD VECTOR INDEX " +
        "first")
    import org.apache.spark.sql.functions.{min, struct}
    // POISON QUARANTINE. A null or dimension-mismatched embedding does
    // not crash the encode — worse: the PQ slices come back empty/short,
    // every subspace scores its first code, and the row lands as a FAKE
    // VALID index entry (codes [0,0,...], cluster 0) that corrupts s105's
    // segment accounting and serves as a bogus neighbor (measured by the
    // hostile-input spec before this guard). A null vec_id can never be
    // keyed. Such rows are split off BEFORE dedup/encode and landed
    // exactly-once in `vector_ingest_rejects` (vec_id, n_dims, reason) —
    // visible governance, never a silent drop, never a dead stream. The
    // rejects append runs FIRST: if it crashes, nothing of the batch
    // committed and the replay is a full clean rerun; codes/assign keep
    // their crash convention untouched.
    val dim = model.cents.select(size(col("cqa"))).take(1).headOption
      .map(_.getInt(0)).getOrElse(0)
    val (clean, poison) = splitPoison(batch, "vec_id", dim)
    if (!poison.isEmpty)
      cmds.appendCommitted("vector_ingest_rejects", poison, batchId)
    if (clean.isEmpty) return
    // localCheckpoint for the same reason as REFRESH: both appends must
    // consume ONE frozen encode, not re-plan against tables the first
    // append just version-bumped.
    // Within-batch dedup is DETERMINISTIC (min embedding per vec_id, via
    // Spark's lexicographic array ordering), not dropDuplicates' arbitrary
    // pick: if a batch VIOLATES the fresh-unique-id contract (same vec_id,
    // different embeddings), a crash between the codes and assign appends
    // must replay the SAME row into assign that the committed codes hold,
    // or the assign∩codes nesting invariant (coveredIds' equal-count fast
    // path) silently breaks.
    // WIDTH-PINNED shuffle: the encode downstream is CPU-bound (~route
    // against k centroids per row), but AQE coalesces the dedup shuffle
    // by BYTE size — a 500k-vector batch (~150 MB) collapsed to 2-3
    // post-shuffle partitions, leaving 30 of 32 cores parked for the
    // whole encode (measured: 180/192 idle stack samples, 226 s/batch at
    // ×1000 with the fused kernel). An explicit repartition count is one
    // AQE does NOT coalesce, and hashing by vec_id lets the groupBy
    // reuse the exchange — same one shuffle, full-width encode. On a
    // cluster, defaultParallelism is the executor-core total: exactly
    // the width a CPU-bound projection wants.
    val width = batch.sparkSession.sparkContext.defaultParallelism
    val deduped = clean
      .repartition(width, col("vec_id"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("embedding"))).as("__s"))
      .select(col("vec_id"), col("__s.embedding").as("embedding"))
    val enc = Similarity.routeAndEncode(deduped, model)
      .localCheckpoint()
    Seq("codes", "assign").map(VectorIndex.tableName).foreach(t =>
      cmds.appendCommitted(t, cmds.conform(t, enc), batchId))
    VectorIndex.repoint(batch.sparkSession, cmds)
  }

  /** The one driver behind the answer twins: each (id, embedding)
    * micro-batch splits its poison rows into `<table>_rejects` (a
    * malformed input costs its caller an absent answer plus a visible
    * reject row, never the stream: the kernels' raises are right for a
    * one-shot SQL call but would poison-pill-loop a checkpointed stream)
    * and lands `answer(session, clean)` in `table`, both EXACTLY-ONCE via
    * `appendCommitted`, under the twin's sink claims (owner
    * `<kind>:<table>`). Empty sides are skipped: creating a table from
    * one would publish a schema-less version. */
  private def answerTwin(stream: DataFrame, d: String, cmds: TableCommands,
      table: String, kind: String, idCol: String,
      checkpoint: Option[String], heartbeat: () => Unit)(
      answer: (SparkSession, DataFrame) => DataFrame): StreamingQuery = {
    val dim = corpusDim(stream.sparkSession, d)
    withSinkClaims(cmds, stream.sparkSession, s"$kind:$table",
        Seq(table, s"${table}_rejects")) {
      val w = stream.writeStream.outputMode("append")
      checkpoint.foreach(c => w.option("checkpointLocation", c))
      w
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          heartbeat()
          retryOnceOnStaleRead(batch.sparkSession) {
            val (clean, poison) = splitPoison(batch, idCol, dim)
            if (!poison.isEmpty)
              cmds.appendCommitted(s"${table}_rejects", poison, batchId)
            if (!clean.isEmpty)
              cmds.appendCommitted(table, answer(batch.sparkSession, clean),
                batchId)
          }
          ()
        }
        .start()
    }
  }

  /** Streaming SEMANTIC-DECONTAMINATION gate — d103's ingest twin: each
    * arriving (vec_id, embedding) micro-batch is checked against the
    * corpus's eval slice by the batch kernel
    * ([[Similarity.decontamVectors]] — map-side centroid routing, then a
    * cluster equi-join against the eval side, never batch×eval), and the
    * flagged rows (vec_id, cluster, eval_id, sim — best eval match with
    * provenance) land EXACTLY-ONCE in a warehouse table via
    * `appendCommitted` (O(batch) marker-guarded appends; a
    * crash-replayed batch is recognized and skipped — a contamination
    * audit log must not double-report). Because each micro-batch plans exactly the batch
    * plan, streamed verdicts are bit-identical to batch d103 verdicts
    * for the same vectors — the parity spec proves it. Scale shape:
    * per-batch cost is the gate kernel's (batch-bounded candidate side,
    * broadcast centroids, cluster-key shuffle of the batch); nothing
    * accumulates in the stream — no state store, any arrival rate the
    * per-batch check latency sustains. */
  def decontamGate(vecStream: DataFrame, d: String, cmds: TableCommands,
      table: String, thr: Double = 0.3,
      checkpoint: Option[String] = None,
      heartbeat: () => Unit = () => ()): StreamingQuery =
    answerTwin(vecStream, d, cmds, table, "decontam", "vec_id", checkpoint,
      heartbeat)(Similarity.decontamVectors(_, d, _, thr))

  /** Streaming query SERVING — the fourth leg of the lifecycle: a live
    * stream of (q_id, embedding) query vectors is answered one
    * micro-batch at a time by the batch two-tier kernel
    * ([[Similarity.searchVectors]] — stored-index ADC tier + fresh-delta
    * brute force) and landed EXACTLY-ONCE in a warehouse results table
    * (`appendCommitted`: the answer files and their batch marker commit
    * in one pointer rename at O(batch) cost — a serving log grows
    * without bound, so the COW-rewrite commit would get linearly slower
    * per batch — and a crash-replayed batch is recognized and skipped:
    * an online serving log must not double-answer). Each
    * micro-batch plans exactly the batch plan (queries broadcast, one
    * ADC chain + one coverage anti-join), so streamed answers are
    * bit-identical to batch answers for the same query set — the parity
    * spec proves it. Scale shape: per-batch cost is the serve kernel's
    * (query-bounded broadcasts against the immutable index tables);
    * nothing accumulates in the stream — no state store, any query
    * rate that the per-batch serve latency sustains. */
  def serve(queryStream: DataFrame, d: String, cmds: TableCommands,
      table: String, k: Int = 3,
      checkpoint: Option[String] = None,
      heartbeat: () => Unit = () => ()): StreamingQuery =
    answerTwin(queryStream, d, cmds, table, "serve", "q_id", checkpoint,
      heartbeat)(Similarity.searchVectors(_, d, _, k))

  /** Streaming DIVERSIFIED serving — [[serve]]'s MMR sibling, the online
    * twin of s110: each query micro-batch is answered by the batch
    * composition ([[Similarity.searchVectorsDiversified]] — the indexed
    * two-tier top-shortK shortlist reranked by the exact-integer greedy)
    * and landed EXACTLY-ONCE via `appendCommitted`. Because the greedy
    * compares only exact integers and runs per query, streamed answers
    * are bit-identical to batch answers for the same query set and
    * independent of how queries split across micro-batches — the parity
    * spec proves both. Scale shape per batch: the serve kernel's
    * (query-bounded broadcasts) + one bounded shortlist probe; no state
    * store, nothing accumulates across batches. */
  def serveDiversified(queryStream: DataFrame, d: String,
      cmds: TableCommands, table: String, k: Int = 3, shortK: Int = 10,
      lambdaTenths: Int = 7,
      checkpoint: Option[String] = None,
      heartbeat: () => Unit = () => ()): StreamingQuery =
    answerTwin(queryStream, d, cmds, table, "serve_mmr", "q_id", checkpoint,
      heartbeat)(Similarity.searchVectorsDiversified(_, d, _, k, shortK,
        lambdaTenths))
}
