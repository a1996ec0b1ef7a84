package graft.streaming

import graft.sources.KvTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming ingest twin of the KV op-log (sources.KvTable, SURVEY §2.1
  * S10) — the write path a live deployment runs: op-record micro-batches
  * (key, value, seq, tombstone) land in the ledger's L0 tier as they
  * arrive (the memstore-flush shape — one token-named flush per batch,
  * no per-bucket fan-out; KvTable.compact owns bucketing), and the
  * table's view at any drain point is KvTable's latest-wins fold over
  * everything ingested so far.
  *
  * Batching-invariance (the house streaming design point): the fold is
  * max(struct(seq, tombstone, value)) per key — an order-free,
  * idempotent reduction — so the post-drain view equals the one-shot
  * batch ingest of the same ops for ANY batching and ANY arrival order,
  * exactly the invariance the corpus/paragraph/embedding twins pin for
  * their canonicalizing folds. No per-batch read-back is needed (unlike
  * CorpusStream's anti-join probe): KV writes stay blind appends, the
  * HBase-LSM property the batch module documents.
  *
  * Durability: each micro-batch is a flat [[Ledger.commit]] into L0
  * under its DETERMINISTIC batch-id token (a retried batch first erases
  * its own prior commit), and the stream keeps a real
  * checkpoint at `<ledger>.checkpoint`, so re-running runOnce over the
  * same source is a no-op. KvSpec pins: streamed view == batch-put
  * view, re-run unchanged, retried commit unchanged.
  */
object KvStream {

  /** Commit one micro-batch of op records under its batch-id token into
    * the L0 tier: L0 gains the batch's files under `<token>-part-*`
    * names — the memstore-flush discipline of KvTable.append, idempotent
    * per token on top (a retried batch replaces its own prior flush).
    */
  private[graft] def commitOps(spark: SparkSession, ops: DataFrame,
                               dir: String, batchId: Long): Unit =
    Ledger.commit(ops.select(col("key").cast("string").as("key"),
                             col("value").cast("string").as("value"),
                             col("seq").cast("bigint").as("seq"),
                             col("tombstone").cast("boolean").as("tombstone")),
                  dir, Some(batchId), subdir = "l0")

  /** Drive op-record parquet files (key, value, seq, tombstone) from a
    * static dir through the ledger (AvailableNow) and return the
    * post-drain latest-wins view. Idempotent: checkpointed source +
    * per-token commits.
    */
  def runOnce(spark: SparkSession, srcDir: String, ledgerDir: String,
              name: String = "graft_kv_ingest"): DataFrame = {
    spark.readStream
      .schema(KvTable.opSchema)
      .option("pathGlobFilter", "ops*.parquet")
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
      .writeStream
      .queryName(name)
      .outputMode("update")
      .option("checkpointLocation", s"$ledgerDir.checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        commitOps(spark, batch, ledgerDir, batchId)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()
    KvTable.latestView(spark, ledgerDir)
  }
}
