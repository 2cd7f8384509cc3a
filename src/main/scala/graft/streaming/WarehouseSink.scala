package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.commands.TableCommands

/** Structured Streaming → warehouse bridge: a stream lands in a
  * manifest-pointer table ([[TableCommands]]) one micro-batch at a time.
  *
  * Every batch lands EXACTLY-ONCE at O(batch) write cost: each micro-batch
  * publishes a LINK-FORWARD version (`TableCommands.appendCommitted` —
  * the batch's files plus hard links to the live version's immutable
  * parquet files) whose `_STREAM_BATCH` marker commits atomically with
  * the data in one pointer rename, and a batch `foreachBatch` re-delivers
  * after a failure or restart is recognized by its id and skipped. So a
  * streaming ingest gets the storage layer's full guarantees (atomic
  * version visibility, VERIFY, OPTIMIZE compaction — which carries the
  * marker forward and is also the small-file answer for long streams) —
  * the reference's `InsertCommand` semantics on a live stream, minus the
  * duplicates, at append cost rather than table-rewrite cost.
  */
object WarehouseSink {

  /** Start landing `df` (a streaming frame) in warehouse `table`,
    * creating the table from the first non-empty batch if needed. Holds
    * the generic per-table sink claim for the stream's lifetime (see
    * [[VectorStreams.withSinkClaims]]) so OPTIMIZE/DML cannot race the
    * per-batch manifest commits. */
  def start(df: DataFrame, cmds: TableCommands,
      table: String): StreamingQuery =
    VectorStreams.withSinkClaims(cmds, df.sparkSession, s"sink:$table",
        Seq(table)) {
      df.writeStream
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // never create from an EMPTY first batch: it would publish a
          // version dir with no parquet files, which readers can't infer a
          // schema from (appends of empty batches to an existing table are
          // harmless no-ops — and need no marker: replaying one is idempotent
          // by construction)
          if (!batch.isEmpty) cmds.appendCommitted(table, batch, batchId)
          ()
        }
        .start()
    }

  /** Quality-gate ROUTING: one stream, two exactly-once warehouse tables —
    * the keep/reject split every training-data ingest runs (CCNet/Gopher
    * gates feeding a kept corpus and a reject audit trail). The predicate
    * is evaluated once per batch (cached), rows where it is NULL route to
    * `failTable` (an unscorable doc must be quarantined, not dropped), and
    * each table commits the micro-batch id independently — a crash between
    * the two commits replays the batch, the already-committed table skips
    * it, the other applies it: exactly-once PER TABLE with no coordination
    * beyond the manifest markers. */
  def route(df: DataFrame, cmds: TableCommands, predicate:
      org.apache.spark.sql.Column, passTable: String,
      failTable: String): StreamingQuery = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    VectorStreams.withSinkClaims(cmds, df.sparkSession,
        s"route:$passTable", Seq(passTable, failTable)) {
      df.writeStream
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val marked = batch
            .withColumn("__graft_pass", coalesce(predicate, lit(false)))
            .cache()
          try {
            val pass = marked.filter(col("__graft_pass")).drop("__graft_pass")
            val fail = marked.filter(not(col("__graft_pass")))
              .drop("__graft_pass")
            if (!pass.isEmpty) cmds.appendCommitted(passTable, pass, batchId)
            if (!fail.isEmpty) cmds.appendCommitted(failTable, fail, batchId)
          } finally { marked.unpersist(); () }
          ()
        }
        .start()
    }
  }
}
