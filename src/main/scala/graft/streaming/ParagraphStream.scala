package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming PARAGRAPH-granular dedup — the segment-level twin of
  * CorpusStream's whole-document ingest, and the streaming face of
  * ext.Corpus.paragraphDedup (CCNet-style first-seen-wins): each
  * incoming document is cut into the SAME fixed-word segments as the
  * batch operator (shared BoilerSegWords constant), and each segment
  * survives only if its content hash has never been seen — in an
  * earlier batch (the durable ledger), or earlier in THIS batch (the
  * in-batch min-(doc_id, seg) collapse).
  *
  * The ledger is a [[Ledger]] bucketed on the first two hex chars of
  * the segment hash (a small batch probes only the bucket directories
  * its own hashes fall in, never the full history). Only the row
  * granularity differs from CorpusStream's: (seg_hash, doc_id, seg,
  * segtext) — one row per FIRST-SEEN segment occurrence, which is
  * exactly the survivor set the batch operator keeps.
  *
  * Batch parity (pinned by spec): when micro-batches arrive in
  * ascending doc_id order, first-seen-wins coincides with the batch
  * operator's global min-(doc_id, seg) winner, so the per-doc stats
  * reconstructed from the ledger equal ext.Corpus.paragraphDedup's
  * n_kept/kept_text for every document that kept at least one segment.
  * Out-of-order arrival keeps the ledger consistent but canonicalizes
  * by INGEST order — the same documented trade CorpusStream makes at
  * document granularity.
  */
object ParagraphStream {

  val segLedgerSchema: StructType = StructType(Seq(
    StructField("seg_hash", StringType),
    StructField("doc_id", LongType),
    StructField("seg", LongType),
    StructField("segtext", StringType)))

  /** The batch operator's segmentation — literally the same definition
    * (graft.ext.Corpus.segments), so stream/batch agreement on segment
    * boundaries is structural, not a copy kept in sync.
    */
  private[graft] def segments(docs: DataFrame): DataFrame =
    graft.ext.Corpus.segments(docs)
      .select(col("doc_id"), col("seg"), col("segtext"))

  /** One micro-batch: segment → hash → collapse in-batch repeats to the
    * min (doc_id, seg) occurrence → drop hashes already in the MATCHING
    * ledger buckets → staged-append survivors. Returns the number of
    * newly admitted segments. The bucket list is a bounded driver
    * collect (≤ 256 two-hex-char strings by construction).
    */
  private[graft] def ingestBatch(batch: DataFrame, ledgerDir: String): Long = {
    val collapsed = segments(batch)
      .withColumn("seg_hash", sha2(col("segtext"), 256))
      .groupBy(col("seg_hash"))
      // min(segtext) is not a choice: all rows in the group share one
      // hash, hence one text (SHA-256; a collision would need 2^128 work)
      .agg(min(struct(col("doc_id"), col("seg"))).as("wn"),
           min(col("segtext")).as("segtext"))
      .select(col("seg_hash"), col("wn.doc_id").as("doc_id"),
              col("wn.seg").as("seg"), col("segtext"),
              Ledger.hexBucket(col("seg_hash")).as("bucket"))
    Ledger.admit(collapsed, ledgerDir, segLedgerSchema, Seq("seg_hash"))
  }

  /** Full segment-ledger view (all buckets); empty/missing dir → empty
    * frame.
    */
  def ledger(spark: SparkSession, ledgerDir: String): DataFrame =
    Ledger.read(spark, ledgerDir, segLedgerSchema)

  /** Per-document kept stats reconstructed from the ledger — the shape
    * of ext.Corpus.paragraphDedup's output for every doc that kept ≥ 1
    * segment (docs whose every segment lost have no ledger rows).
    */
  def keptStats(spark: SparkSession, ledgerDir: String): DataFrame =
    ledger(spark, ledgerDir)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
           array_join(
             transform(array_sort(collect_list(struct(col("seg"),
                                                      col("segtext")))),
                       x => x.getField("segtext")), " ").as("kept_text"))
      .orderBy(col("doc_id"))

  /** Drive the ingest over a static documents dir to completion
    * (AvailableNow), appending first-seen segments to `ledgerDir`.
    * Returns the ledger as of completion.
    */
  def runOnce(spark: SparkSession, srcDir: String, ledgerDir: String,
              name: String = "graft_paragraph_ingest"): DataFrame = {
    Ledger.documents(spark, srcDir).writeStream
      .queryName(name)
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingestBatch(batch, ledgerDir); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()
    ledger(spark, ledgerDir)
  }
}
