package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.commands.TableCommands

/** Build/serve split for the MinHash band index — the text-side twin of
  * [[VectorIndex]]: a production dedup service computes the banded
  * signatures of its corpus ONCE per release and lets every arriving batch
  * PROBE the stored index; recomputing 12 hash lanes over the whole corpus
  * per ingest batch is the d101 inline path's cost, not the serving shape.
  *
  * Artifacts (over the d101 near-dup corpus at a specific source dir):
  *   - `bands` (doc_id, band, band_key) — 3 rows per document, the
  *     complete LSH candidate-generation index. Slim (ints), and the only
  *     thing the probe join needs.
  *   - `meta` (src) — provenance: the corpus dir the index was built from.
  *     [[served]] refuses an index built for a DIFFERENT dir, so a stale
  *     index can never silently answer for the wrong corpus — the gate
  *     falls back to inline signature computation instead.
  *
  * Build is invoked from SQL (`BUILD DEDUP INDEX ON documents`, the Engine
  * route), from [[graft.Verify]]/[[graft.Bench]] as the setup step of
  * their serve-path runs, and from specs. d101 consults [[served]], and so
  * does `Dedup.minhashPairs`, the candidate-pair generator of d83, d87,
  * d93, d94, d96, d97 and d99: present-and-matching → one stored-table
  * read, ZERO shingle/hash stages in the plan; absent → inline
  * computation, bit-identical output either way (the stored frame IS the
  * inline frame, round-tripped through parquet with exact integer types).
  * The pair generator semi-joins the stored bands to the corpus ids,
  * because the ADMIT gate appends bands for documents outside the corpus.
  */
object DedupIndex {

  private val corpus = "documents"
  private[graft] def tableName(part: String): String =
    s"dedup_index_${corpus}_$part"
  private val parts = Seq("bands", "meta")

  private def norm(d: String): String = new java.io.File(d).getAbsolutePath

  /** Train + materialize the band index as a warehouse table + catalog
    * entry. Idempotent (rebuilds replace). */
  def build(s: SparkSession, d: String, cmds: TableCommands): Unit = {
    drop(s, cmds)
    import s.implicits._
    val frames = Seq(
      "bands" -> Dedup.allBands(s, d),
      "meta" -> Seq(norm(d)).toDF("src"))
    frames.foreach { case (p, df) =>
      val n = tableName(p)
      cmds.createTable(n, df)
      TableCommands.registerCatalog(s, n, cmds.dataPath(n))
    }
    // concurrent-reader grace window for the gate-appended table — the
    // same reader-vs-sweep hazard VectorIndex.build documents (ad-hoc
    // d-queries probe bands while the ADMIT gate appends); link-forward
    // versions make retained versions near-free
    cmds.setRetain(tableName("bands"), 5)
  }

  /** Remove the stored index; subsequent probes fall back to inline
    * signature computation. */
  def drop(s: SparkSession, cmds: TableCommands): Unit =
    parts.foreach { p =>
      val n = tableName(p)
      s.sql(s"DROP TABLE IF EXISTS `$n`")
      if (cmds.tableExists(n)) cmds.dropTable(n)
    }

  /** Re-register a persisted index from a prior session's warehouse into
    * this session's catalog (Engine calls this at construction). */
  def reregister(s: SparkSession, cmds: TableCommands): Unit =
    if (parts.forall(p => cmds.tableExists(tableName(p))))
      parts.foreach { p =>
        val n = tableName(p)
        TableCommands.registerCatalog(s, n, cmds.dataPath(n))
      }

  /** Incremental maintenance (`REFRESH DEDUP INDEX`): band rows for
    * documents present in the corpus but absent from the stored index are
    * computed and appended. Unlike the vector index there is NO model to
    * freeze — a document's band keys are a pure deterministic function of
    * its text — so a refreshed index is BIT-IDENTICAL to a full rebuild
    * (the spec asserts set equality), making refresh the strictly cheaper
    * daily-ingest path: O(delta) signature work instead of O(corpus).
    *
    * The delta is a LEFT ANTI join on doc_id; Catalyst pushes the anti
    * join below the shingle/hash projection, so signatures are only
    * computed for missing documents. Reads go through the manifest
    * pointer (a prior DELETE may have stranded the location-pinned
    * catalog entry); the catalog is re-pointed at the end. Returns the
    * number of documents appended. */
  def refresh(s: SparkSession, d: String, cmds: TableCommands): Long = {
    require(parts.forall(p => cmds.tableExists(tableName(p))),
      "no dedup index to refresh - run BUILD DEDUP INDEX first")
    val meta = cmds.table(tableName("meta")).collect()
    require(meta.length == 1 && meta(0).getString(0) == norm(d),
      "dedup index was built for a different corpus - rebuild with " +
        "BUILD DEDUP INDEX")
    val stored = cmds.table(tableName("bands"))
    // the anti join restricts the raw (doc_id, text) corpus BEFORE the
    // shingle/hash/min-lane pipeline runs — signatures are computed for
    // the delta only (O(delta) hash work; measured at x100: the
    // post-pipeline anti-join formulation re-hashed the whole corpus).
    // localCheckpoint, NOT persist: the delta plan reads the very band
    // version the append supersedes (see VectorIndex.refresh)
    val fresh = Dedup.bandsForCorpus(
      Dedup.corpusNear(s, d)
        .join(stored.select("doc_id").distinct(), Seq("doc_id"),
          "left_anti"))
      .localCheckpoint()
    val n = fresh.select("doc_id").distinct().count()
    val bands = tableName("bands")
    if (n > 0) cmds.insertInto(bands, cmds.conform(bands, fresh))
    cmds.repoint(s, parts.map(tableName))
    n
  }

  /** The stored band index for corpus dir `d`, iff complete and
    * provenance-matching. Heals crash-stranded catalog entries first
    * ([[graft.commands.TableCommands.healCatalog]] — a stranded entry
    * reads as an EMPTY table, which would silently gate against a
    * zero-row history index). */
  def served(s: SparkSession, d: String): Option[DataFrame] = {
    graft.commands.TableCommands.healCatalog(s, parts.map(tableName))
    if (!parts.forall(p => s.catalog.tableExists(tableName(p)))) None
    else {
      val meta = s.table(tableName("meta")).collect()
      if (meta.length == 1 && meta(0).getString(0) == norm(d))
        Some(s.table(tableName("bands")))
      else None
    }
  }
}
