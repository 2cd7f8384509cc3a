package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesize an N× scale-up of a test-data directory for scaling-law
  * measurement (see `Bench time --dirs=` and SCALE.md).
  *
  * The point is to measure how each operator's wall-clock grows with corpus
  * size, so the scale-up must preserve the DATA STRUCTURE the operators key
  * on, not just the row count:
  *
  *  - `documents`: each copy k suffixes every token with `c<k>` (copy 0 is
  *    verbatim), so WITHIN-copy duplicate/near-dup structure is preserved
  *    exactly while CROSS-copy token sets are disjoint — shingle, MinHash,
  *    SimHash and winnowing candidate generation stays linear in the corpus,
  *    which is how a real corpus grows (new documents are new text, not
  *    mutations of old text). `doc_id` offsets keep `%100`-style sampling
  *    fractions identical per copy.
  *  - `embeddings`: copy k cyclically shifts each vector by k mod dim
  *    positions (negated every second wrap for factors > dim) — random
  *    vectors decorrelate under rotation, so cross-copy cosine ≈ 0 and the
  *    semantic-dedup / kNN-graph pair volume stays cluster-bounded. Labels
  *    offset per copy: the coarse-quantizer codebook GROWS with the corpus
  *    (k ∝ n, constant cluster size), which is SemDeDup's own scaling
  *    prescription — at 100 TB nobody keeps 10 centroids.
  *  - `lineitem`/`orders`: key-offset copies (more orders over the same
  *    part/customer dimensions — TPC-H's own scale-factor behavior).
  *  - `events`: `user_id` offsets per copy (more users, same per-user
  *    activity — sessionization group count grows, group size doesn't).
  *  - dimension tables are copied verbatim.
  *
  * Usage: `runMain graft.ScaleGen <srcDir> <outDir> <factor> [tables...]`
  * (default tables: all ten).
  */
object ScaleGen {

  private val ID_STRIDE = 100000000L // > any driver key at sf0.1
  private val LABEL_STRIDE = 10000

  def scaled(spark: SparkSession, src: String, name: String, factor: Int): DataFrame = {
    val copies = (0 until factor).map { k =>
      name match {
        case "documents" =>
          val base = spark.read.parquet(s"$src/documents.parquet")
          val txt =
            if (k == 0) col("text")
            else regexp_replace(col("text"), "([A-Za-z0-9]+)", s"$$1c$k")
          base.select(
            (col("doc_id") + k * ID_STRIDE).as("doc_id"),
            txt.as("text"), col("lang"), col("source"),
            length(txt).as("n_chars"))
        case "embeddings" =>
          val base = spark.read.parquet(s"$src/embeddings.parquet")
          val dim = 64
          val s = k % dim
          val rolled =
            if (s == 0) col("embedding")
            else concat(
              slice(col("embedding"), s + 1, dim - s),
              slice(col("embedding"), 1, s))
          val vec =
            if ((k / dim) % 2 == 1) transform(rolled, x => -x) else rolled
          base.select(
            (col("vec_id") + k * ID_STRIDE).as("vec_id"),
            vec.as("embedding"),
            (col("label") + k * LABEL_STRIDE).cast("int").as("label"))
        case "lineitem" =>
          spark.read.parquet(s"$src/lineitem.parquet")
            .withColumn("l_orderkey", col("l_orderkey") + k * ID_STRIDE)
        case "orders" =>
          spark.read.parquet(s"$src/orders.parquet")
            .withColumn("o_orderkey", col("o_orderkey") + k * ID_STRIDE)
        case "events" =>
          // read WITHOUT Graft.table's nanos→micros cast so the scaled file
          // keeps the same long-typed `ts` the reader expects
          spark.read.parquet(s"$src/events.parquet")
            .withColumn("event_id", col("event_id") + k * ID_STRIDE)
            .withColumn("user_id", col("user_id") + k * ID_STRIDE)
        case other => // dimension tables: verbatim, factor-independent
          spark.read.parquet(s"$src/$other.parquet")
      }
    }
    val grows = Set("documents", "embeddings", "lineitem", "orders", "events")
    if (grows(name)) copies.reduce(_ union _) else copies.head
  }

  def main(args: Array[String]): Unit = {
    val src = args(0); val out = args(1); val factor = args(2).toInt
    val tables =
      if (args.length > 3) args.drop(3).toSeq else Graft.tableNames
    val spark = Graft.session()
    tables.foreach { name =>
      // a handful of output files so downstream scans see multiple row
      // groups (Graft.tableParallel's parallelism gate) without tiny-file
      // overhead
      val parts = if (name == "lineitem") (4 * factor).min(64) else 8
      scaled(spark, src, name, factor)
        .repartition(parts)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scalegen] $name x$factor -> $out")
    }
    spark.stop()
  }
}
