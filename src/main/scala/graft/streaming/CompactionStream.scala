package graft.streaming

import graft.ext.Layout
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming small-file / compaction monitor — the incremental face of
  * ext.Layout.qCompactionPlan: as document micro-batches land, fold
  * their per-(source, file) byte stats into a durable MANIFEST ledger;
  * the compaction plan is re-derived from the accumulated manifest by
  * the batch operator's own binManifest, so the monitor's plan after
  * the stream drains equals the batch plan over the same corpus — for
  * ANY batching and ANY arrival order, because the manifest is a pure
  * additive aggregate (bytes and doc counts sum across batches; a file
  * split across batches merges on fold) and next-fit bins are a
  * deterministic function of the manifest alone.
  *
  * That invariance is the design point: unlike the order-canonicalizing
  * ingest twins (CorpusStream first-seen-wins), a compaction monitor
  * carries no per-row identity — only O(files) metadata — so the
  * streaming state is manifest-sized at any corpus scale, and the
  * per-flush binning runs on metadata, never documents. A production
  * deployment would trigger actual rewrite jobs for bins whose
  * total_bytes exceed the target; here the emitted plan IS the result.
  *
  * Ledger durability (round-10 fix of the non-idempotent runOnce):
  * each micro-batch's partial manifest is a flat [[Ledger.commit]] under
  * its DETERMINISTIC batch-id token, so a retried batch first erases its
  * own partial commit (the staged commit and its object-store caveat
  * are the Ledger's). The stream also keeps a real checkpoint at
  * `<ledger>.checkpoint`, so re-running runOnce over the same source
  * and ledger is a no-op (AvailableNow finds no new files) instead of
  * replaying — and therefore never double-counts: additive state plus
  * at-most-once commit per batch id. PipelineSpec pins both (re-run
  * totals unchanged; simulated retried-batch commit folds to the same
  * manifest).
  */
object CompactionStream {

  val manifestSchema: StructType = StructType(Seq(
    StructField("source", StringType),
    StructField("file_idx", LongType),
    StructField("n_docs", LongType),
    StructField("bytes", LongType)))

  /** One micro-batch's partial manifest: the batch operator's file
    * grouping, verbatim.
    */
  private[graft] def partialManifest(batch: DataFrame): DataFrame =
    batch.groupBy(col("source"),
                  expr(s"CAST(doc_id AS BIGINT) div ${Layout.DocsPerFile}")
                    .as("file_idx"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("bytes"))

  /** The accumulated manifest: append-file partials folded by key —
    * a file whose docs arrived across several batches merges here.
    * Explicit schema so a missing/empty ledger reads as empty.
    */
  private[graft] def foldedManifest(spark: SparkSession,
                                    ledgerDir: String): DataFrame =
    Ledger.read(spark, ledgerDir, manifestSchema)
      .groupBy(col("source"), col("file_idx"))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("bytes")).as("bytes"))

  /** Current compaction plan as of the ledger's contents. */
  def plan(spark: SparkSession, ledgerDir: String): DataFrame =
    Layout.binManifest(foldedManifest(spark, ledgerDir))

  /** Drive the monitor over a static documents dir (AvailableNow) and
    * return the post-drain plan. Idempotent: the checkpoint at
    * `<ledger>.checkpoint` makes a re-run over the same source a no-op,
    * and the batch-id commit makes a retried batch overwrite itself.
    */
  def runOnce(spark: SparkSession, srcDir: String, ledgerDir: String,
              name: String = "graft_compaction_monitor"): DataFrame = {
    Ledger.documents(spark, srcDir, Some(1)).writeStream
      .queryName(name)
      .outputMode("update")
      .option("checkpointLocation", s"$ledgerDir.checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Ledger.commit(partialManifest(batch), ledgerDir, Some(batchId))
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()
    plan(spark, ledgerDir)
  }
}
