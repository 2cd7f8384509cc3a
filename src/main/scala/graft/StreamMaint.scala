package graft

import org.apache.spark.sql.functions._

/** Micro-batch cost measurement for the SELF-MAINTAINING streaming twins
  * (SCALE.md's streaming rows): drives the per-batch kernels the
  * foreachBatch sinks run — `DocStreams.admitAndIndexBatch` (gate + band
  * index append) and `VectorStreams.ingestBatch` (route/encode + assign/
  * codes appends) — directly, so the numbers isolate operator cost from
  * MemoryStream scheduling noise. The question these answer is the one
  * the batch scaling tables can't: "what does one ingest micro-batch
  * cost as the maintained index absorbs it, and does batch N+1 pay for
  * batch N's appends?"
  *
  * Usage: runMain graft.StreamMaint <sfDir> [nBatches]
  * Prints one line per batch (`MAINT <twin> <batch> <sec>`) and a JSON
  * summary. Arrivals are the corpus re-keyed to fresh ids (+2,000,000 for
  * docs — beyond corpusNear's +1M trim twins; +1,000,000 for vectors), so
  * every document is a REAL near-dup of the index (worst-case probe fan:
  * all bands hit) and every vector routes/encodes and appends.
  */
object StreamMaint {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = args.lift(1).map(_.toInt).getOrElse(4)
    val spark = Graft.session(appName = "graft-streammaint", sfDir = sfDir)
    val wh = java.nio.file.Files.createTempDirectory("graft_sm_wh")
    val cmds = new commands.TableCommands(spark, wh.toString)
    def time[A](f: => A): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // ── admitAndIndex ──────────────────────────────────────────────────
    operators.DedupIndex.build(spark, sfDir, cmds)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
      .localCheckpoint()
    val nDocs = docs.count()
    val admitT = (0 until k).map { i =>
      val t = time(streaming.DocStreams.admitAndIndexBatch(
        docs.filter(col("doc_id") % k === i), cmds, "sm_verdicts", i.toLong))
      println(f"MAINT admitAndIndex $i $t%.3f")
      t
    }
    // ── VectorStreams.ingest ───────────────────────────────────────────
    operators.VectorIndex.build(spark, sfDir, cmds)
    val model = streaming.VectorStreams.freeze(
      cmds.table(operators.VectorIndex.tableName("centroids")),
      cmds.table(operators.VectorIndex.tableName("codebook")))
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      .localCheckpoint()
    val nVecs = vecs.count()
    val ingestT = (0 until k).map { i =>
      val t = time(streaming.VectorStreams.ingestBatch(
        vecs.filter(col("vec_id") % k === i), cmds, model, i.toLong))
      println(f"MAINT ingest $i $t%.3f")
      t
    }
    def fmt(ts: Seq[Double]) = ts.map(t => f"$t%.3f").mkString("[", ",", "]")
    println(s"""{"sf":"$sfDir","batches":$k,"docs":$nDocs,"vecs":$nVecs,""" +
      s""""admitAndIndex_sec":${fmt(admitT)},""" +
      s""""ingest_sec":${fmt(ingestT)}}""")
    spark.stop()
  }
}
