package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.commands.TableCommands

/** Build/serve split for the IVF-PQ vector index.
  *
  * A production vector store trains its quantizers ONCE and serves many
  * queries against the stored artifacts; retraining per query makes index
  * construction dominate search latency. This object materializes the four
  * trained artifacts of the s100/s101/s102 search stack as warehouse
  * tables (manifest-versioned parquet via [[TableCommands]], registered in
  * the session catalog) so the serve-path queries contain ZERO training
  * stages — the Spark analog of the reference's build-then-scan index
  * split (`commands/CreateIndexCommand.java:1-142` builds the structure,
  * `plans/IndexScanNode.java:17-51` serves from it).
  *
  * Artifacts (all over the `embeddings` corpus at a specific source dir):
  *   - `centroids` (clabel, cqa, ncq) — coarse-quantizer centroids with
  *     squared norms; ~|labels| rows, always broadcast at the consumer.
  *   - `assign` (vec_id, cluster) — each vector's coarse cluster route;
  *     corpus-sized, met through cluster-bounded equi-joins.
  *   - `codebook` (m, cid, cq) — the M×k product-quantization codebook;
  *     64 rows, always broadcast.
  *   - `codes` (vec_id, codes) — each vector's M PQ code ids (the 8-byte
  *     compressed corpus the ADC scan reads — 32× less I/O than raw
  *     vectors at 100 TB).
  *   - `meta` (src, m, k, iters) — provenance: the corpus dir and training
  *     params the index was built from. [[served]] refuses an index built
  *     for a DIFFERENT corpus dir or param set, so a stale index can never
  *     silently answer for the wrong data — search falls back to inline
  *     training instead (correct, just slower).
  *
  * Build is invoked from SQL (`BUILD VECTOR INDEX ON embeddings`, the
  * Engine route), from [[graft.Bench]]/[[graft.Verify]] as the setup step
  * of their serve-path runs, and from specs. Search sites consult
  * [[served]] per query: present-and-matching → catalog tables; absent →
  * the original inline-training pipeline, bit-identical output either way
  * (the artifacts are the same deterministic frames, round-tripped through
  * parquet with exact integer/array types).
  */
object VectorIndex {

  /** PQ training params the serve path is built for (s99/s100/s101's
    * published configuration: M=8 subspaces, k=8 centroids, 2 Lloyd
    * rounds). A search with different params never serves from the store. */
  val pqM = 8
  val pqK = 8
  val pqIters = 2

  private val corpus = "embeddings"
  private[graft] def tableName(part: String): String =
    s"vector_index_${corpus}_$part"
  private val parts = Seq("centroids", "assign", "codebook", "codes", "meta")

  /** Canonical form of a corpus dir for provenance comparison. */
  private def norm(d: String): String = new java.io.File(d).getAbsolutePath

  /** Assignment policy recorded at build time (`meta.mode`); an index
    * built before the column existed (4-column meta) is exact by
    * construction — coarse did not exist then. */
  private[graft] def buildMode(metaRow: org.apache.spark.sql.Row): String =
    if (metaRow.schema != null && metaRow.schema.fieldNames.contains("mode"))
      metaRow.getString(metaRow.fieldIndex("mode"))
    else "exact"

  /** The stored index, handed to the search sites. */
  final case class Served(centroids: DataFrame, assign: DataFrame,
      codebook: DataFrame, codes: DataFrame)

  /** Train + materialize: runs the coarse-centroid, IVF-assignment, PQ
    * codebook and PQ encode pipelines once and publishes each as a
    * manifest table + catalog entry. Idempotent (rebuilds replace).
    *
    * `mode` picks the ASSIGNMENT policy (recorded in `meta.mode`):
    *   - `exact` (default): every vector's true nearest centroid —
    *     bit-identical to the inline-training oracles; the plan form
    *     auto-switches at [[Similarity.centBroadcastCap]] from the
    *     one-row-broadcast argmax to the shuffled-agg argmax (same
    *     answer, no per-node structure ∝ k past the cap).
    *   - `coarse` (opt-in, `BUILD VECTOR INDEX ... USING COARSE`):
    *     two-level √k routing — ~2·n·√k work instead of n·k, judged by
    *     the s102/s105 recall machinery rather than bit-parity. The
    *     scale path when k tracks the corpus (SCALE.md's measured
    *     ×1000 wall). A coarse index SERVES normally; REFRESH refuses
    *     it (the delta route is exact and would mix policies) — rebuild
    *     wholesale instead. */
  def build(s: SparkSession, d: String, cmds: TableCommands,
      mode: String = "exact"): Unit = {
    require(mode == "exact" || mode == "coarse",
      s"BUILD VECTOR INDEX: unknown mode '$mode' (exact|coarse)")
    // train-side audit: a null/non-finite/ragged corpus row would poison
    // every trained artifact silently (see Similarity.requireFiniteCorpus)
    Similarity.requireFiniteCorpus(s, d)
    drop(s, cmds)
    import s.implicits._
    val meta = Seq((norm(d), pqM, pqK, pqIters, mode))
      .toDF("src", "m", "k", "iters", "mode")
    (Similarity.indexArtifacts(s, d, mode) :+ ("meta" -> meta)).foreach {
      case (p, df) =>
        val n = tableName(p)
        cmds.createTable(n, df)
        TableCommands.registerCatalog(s, n, cmds.dataPath(n))
    }
    // coverage audit: a fresh BUILD must index EVERY corpus vector —
    // exact by construction, coarse by the live-shard routing guard; a
    // kernel regression that drops vectors (e.g. a join against an empty
    // shard) must fail the build loudly, never ship an index that
    // silently under-serves. One count per side (the corpus count reads
    // parquet footers, the assign count the just-written store).
    val nCorpus = graft.Graft.tableParallel(s, d, corpus).count()
    val nAssign = cmds.table(tableName("assign")).count()
    if (nAssign != nCorpus) {
      // roll the unusable index back — a search must fall back to inline
      // training (correct) rather than serve from a hole-y assignment
      drop(s, cmds)
      throw new IllegalStateException(
        s"BUILD VECTOR INDEX ($mode): assignment covered $nAssign of " +
          s"$nCorpus corpus vectors - coverage hole; the partial index " +
          "was dropped (searches fall back to inline training)")
    }
    // CONCURRENT-READER grace window: the VECTOR gate appends to
    // codes/assign while serve twins (and ad-hoc searches) read them,
    // and the default retain of 1 sweeps the superseded version the
    // instant an append publishes — a reader whose plan resolved the
    // old version then dies mid-scan with FILE_NOT_EXIST (measured by
    // the chaos soak: a live serve twin killed by a gate append).
    // Retaining a few versions is near-free here: appendCommitted's
    // link-forward versions share their parquet files via hard links,
    // so each retained version costs only the delta files it added.
    Seq("codes", "assign").foreach(p => cmds.setRetain(tableName(p), 5))
  }

  /** Remove the stored index (catalog entries + warehouse tables).
    * Subsequent searches fall back to inline training. */
  def drop(s: SparkSession, cmds: TableCommands): Unit =
    parts.foreach { p =>
      val n = tableName(p)
      s.sql(s"DROP TABLE IF EXISTS `$n`")
      if (cmds.tableExists(n)) cmds.dropTable(n)
    }

  /** Re-register a persisted index from a prior session's warehouse into
    * this session's catalog (the Engine calls this at construction, like
    * its index-routing pre-seed). */
  def reregister(s: SparkSession, cmds: TableCommands): Unit =
    if (parts.forall(p => cmds.tableExists(tableName(p)))) repoint(s, cmds)

  /** Incremental maintenance (`REFRESH VECTOR INDEX`): vectors present in
    * the corpus but absent from the stored assignment are routed and
    * PQ-encoded against the FROZEN stored model (the coarse centroid
    * and PQ codebook tables, read as join build sides) and appended to
    * the `assign`/`codes` tables. The quantizers are deliberately NOT
    * retrained — that is the production index-maintenance contract
    * (Lucene/FAISS growing segments): appends are O(delta) map work, model
    * drift is what the s105 health card audits, and a drifted index is
    * rebuilt wholesale via BUILD. Appended rows are bit-identical to what
    * BUILD would have written for the same vectors (the
    * [[Similarity.routeAndEncode]] parity Round13GuardsSpec proves), so
    * refresh-then-search ≡ build-then-search for any vector the model
    * routes identically.
    *
    * The delta is found by LEFT ANTI join on vec_id against the
    * INTERSECTION of assign and codes coverage — not assign alone. The
    * two appends below are not atomic (separate manifest publishes), so a
    * crash between them leaves a STRAGGLER present in one table and
    * absent from the other; deriving the delta from assign alone would
    * then hide an assign-only straggler from every later refresh (0
    * appended, codes permanently missing the vector, ADC search silently
    * blind to it). Against the intersection, a straggler stays in the
    * delta until both tables carry it, and the per-table anti-joins at
    * append time keep the heal IDEMPOTENT (the table that already has
    * the row is not appended twice). A row-count parity check at the end
    * turns any remaining inconsistency into a loud error instead of a
    * silent serving gap. Catalyst pushes the anti join below the encode
    * projection, so only missing vectors are ever quantized. Returns the
    * number of vectors newly covered. Reads go through the manifest
    * pointer (`cmds.table`), not the session catalog — a prior DELETE
    * may have version-bumped the store and left the catalog entry
    * dangling; [[repoint]] re-registers all entries at the end. */
  def refresh(s: SparkSession, d: String, cmds: TableCommands): Long = {
    require(parts.forall(p => cmds.tableExists(tableName(p))),
      "no vector index to refresh - run BUILD VECTOR INDEX first")
    val meta = cmds.table(tableName("meta")).collect()
    require(meta.length == 1 && meta(0).getString(0) == norm(d) &&
      meta(0).getInt(1) == pqM && meta(0).getInt(2) == pqK &&
      meta(0).getInt(3) == pqIters,
      "vector index was built for a different corpus or parameter set - " +
        "rebuild with BUILD VECTOR INDEX")
    requireExactRouting(cmds, "REFRESH")
    // the delta rows feed the frozen encode exactly like BUILD's — the
    // same train-side audit applies (an external writer may have
    // appended garbage to the corpus since the build)
    Similarity.requireFiniteCorpus(s, d)
    val assign = cmds.table(tableName("assign"))
    val codes = cmds.table(tableName("codes"))
    val covered = assign.select("vec_id")
      .join(codes.select("vec_id"), Seq("vec_id"))
    val missing = graft.Graft.tableParallel(s, d, "embeddings")
      .select("vec_id", "embedding")
      .join(covered, Seq("vec_id"), "left_anti")
    // route+encode against the stored centroid/codebook tables — the one
    // kernel the VECTOR gate also runs: no driver collect, so refresh
    // keeps working at any centroid count.
    // localCheckpoint, NOT persist: the delta plan READS the table
    // versions the two appends supersede (and their sweeps may delete),
    // so a lazily re-evaluated delta could fail or, resolved against the
    // new versions, come out EMPTY for the second append. Truncating
    // lineage to the materialized rows makes both appends consume the
    // same frozen delta.
    val enc = Similarity.routeAndEncode(missing,
      cmds.table(tableName("centroids")), cmds.table(tableName("codebook")))
      .localCheckpoint()
    val n = enc.count()
    if (n > 0) {
      // codes FIRST: a crash after it leaves an assign-missing straggler,
      // which the next refresh's intersection delta re-covers; each side
      // appends only what IT is missing (idempotent under stragglers)
      Seq("codes" -> codes, "assign" -> assign).foreach { case (p, live) =>
        val t = tableName(p)
        cmds.insertInto(t, cmds.conform(t,
          enc.join(live.select("vec_id"), Seq("vec_id"), "left_anti")))
      }
    }
    repoint(s, cmds)
    // parity audit: the two coverage tables must agree row-for-row after
    // a refresh — parquet-footer counts, metadata-cheap
    val na = cmds.table(tableName("assign")).count()
    val nc = cmds.table(tableName("codes")).count()
    require(na == nc,
      s"vector index inconsistent after refresh: assign=$na codes=$nc " +
        "rows - rebuild with BUILD VECTOR INDEX")
    n
  }

  /** Re-point every part's session-catalog entry at its CURRENT
    * manifest version, in `s` and the default session
    * ([[TableCommands.repoint]]): an append, DELETE or OPTIMIZE on a
    * stored part version-bumps the manifest and strands a location-pinned
    * entry. */
  private[graft] def repoint(s: SparkSession, cmds: TableCommands): Unit =
    cmds.repoint(s, parts.map(tableName))

  /** Exact delta routing (REFRESH, the VECTOR ingest gate) appends only
    * into an exact-built index: exact rows mixed into a coarse assignment
    * silently blend policies, and the recall audit would report a number
    * that describes neither. No stored meta is no refusal — the callers'
    * stored-index checks own that message. */
  private[graft] def requireExactRouting(cmds: TableCommands,
      verb: String): Unit = {
    val meta = tableName("meta")
    require(!cmds.tableExists(meta) ||
      cmds.table(meta).collect().forall(buildMode(_) == "exact"),
      s"vector index was built USING COARSE - $verb would mix exact " +
        "delta routing into a coarse assignment; rebuild wholesale with " +
        "BUILD VECTOR INDEX ON embeddings USING COARSE")
  }

  /** The stored index for corpus dir `d`, iff complete and provenance-
    * matching. The meta read is one 1-row parquet file on the driver —
    * catalog-metadata-scale, like the Engine's constraint reads. Every
    * serve first heals catalog entries stranded by a crash between a
    * version-bump publish and its repoint ([[TableCommands.healCatalog]]
    * — a stranded entry reads as an EMPTY table, which would silently
    * serve zero-row artifacts). */
  def served(s: SparkSession, d: String): Option[Served] = {
    TableCommands.healCatalog(s, parts.map(tableName))
    if (!parts.forall(p => s.catalog.tableExists(tableName(p)))) None
    else {
      val meta = s.table(tableName("meta")).collect()
      val ok = meta.length == 1 && meta(0).getString(0) == norm(d) &&
        meta(0).getInt(1) == pqM && meta(0).getInt(2) == pqK &&
        meta(0).getInt(3) == pqIters
      if (!ok) None
      else Some(Served(
        s.table(tableName("centroids")),
        s.table(tableName("assign")),
        s.table(tableName("codebook")),
        s.table(tableName("codes"))))
    }
  }
}
