package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batching semantics (SURVEY §2 O8; reference transport/batcher/batcher.go).
  *
  * In the reference, batches are per-partition-key accumulations flushed
  * on size/age/memory triggers; in Spark the *time* dimension is the
  * micro-batch trigger and memory pressure is Tungsten's problem, so
  * what remains as data logic is:
  *
  *  - count-capped chunk assignment within a key (the per-sink record
  *    caps of [[graft.streaming.BatchCaps]]);
  *  - per-transaction message accounting (`Seen`: how many marshalled
  *    messages a txn produced, and its COMMIT LSN — batcher.go:215-221),
  *    with BEGIN/COMMIT never entering batches (batcher.go:248-250).
  *
  * Byte-capped greedy chunking (5 MiB Kinesis / 1 MiB record) is
  * inherently sequential per key and lives in the sink writers
  * ([[graft.streaming.ChunkedSink]]), same place the reference does it.
  */
object Batcher {

  /** Assign a `chunkId` within each partition key: records are ordered
    * by `orderCol` and packed `maxRecords` to a chunk. Involves one
    * shuffle on the key (the same exchange the routing step needs, so
    * at plan level this reuses that partitioning).
    */
  def withChunkIds(
      df: DataFrame,
      keyCol: Column,
      orderCol: Column,
      maxRecords: Int): DataFrame = {
    val rn = row_number().over(Window.partitionBy(keyCol).orderBy(orderCol))
    df.withColumn("chunkId", ((rn - 1) / maxRecords).cast("long"))
  }

  /** Per-transaction `Seen` accounting: one row per timeBasedKey with
    * the number of data messages and the COMMIT LSN (0 while the txn's
    * COMMIT has not been observed — matching the ledger's "not yet
    * committed" sentinel).
    */
  def seenCounts(df: DataFrame): DataFrame = {
    val op = col("operation")
    df.groupBy(col("timeBasedKey"), col("txn"))
      .agg(
        sum(when(!op.isin("BEGIN", "COMMIT"), 1L).otherwise(0L)).as("totalMsgs"),
        coalesce(max(when(op === "COMMIT", col("walStart"))), lit(0L))
          .as("commitWalStart"))
  }
}
