package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming CHUNK-granular dedup ledger — the sliding-window twin of
  * ParagraphStream, and the streaming face of ext.Corpus.chunkDedup:
  * each incoming document is cut by the SAME chunker as the batch
  * operator (graft.ext.Corpus.chunkRows — shared ChunkWindow/ChunkStride
  * constants, so stream/batch agreement on window boundaries is
  * structural), and the ledger records one row per distinct
  * (chunk_sig, doc_id) pair with its in-doc instance count.
  *
  * Unlike the first-seen-wins segment ledger, chunk sharing is
  * RETROACTIVE — the first document carrying a chunk only becomes
  * "shared" when a second one arrives — so the ledger stores the full
  * (sig, doc, cnt) incidence relation rather than survivors, and
  * sharedStats() folds it into exactly ext.Corpus.chunkDedup's output
  * (nd = rows per sig, since (sig, doc) is unique; n_chunks = Σ cnt;
  * shared instances = Σ cnt over sigs with nd ≥ 2). Batch parity is
  * therefore EXACT and arrival-order-independent — no ingest-order
  * canonicalization caveat, because nothing here is order-sensitive.
  *
  * The ledger is a [[Ledger]] bucketed on the low 8 bits of the 60-bit
  * sig (md5 bits, uniform by construction): a small batch probes only
  * the bucket directories its own sigs fall in.
  */
object ChunkStream {

  val chunkLedgerSchema: StructType = StructType(Seq(
    StructField("chunk_sig", LongType),
    StructField("doc_id", LongType),
    StructField("cnt", LongType)))

  /** One micro-batch: chunk → collapse to (sig, doc, cnt) → drop pairs
    * already in the MATCHING ledger buckets → staged-append the rest.
    * Returns the number of newly admitted (sig, doc) pairs. Replaying a
    * document that is fully ledgered admits nothing (anti-join on the
    * pair), so re-ingest is a no-op. The bucket list is a bounded
    * driver collect (≤ 256 two-hex-char strings by construction).
    */
  private[graft] def ingestBatch(batch: DataFrame, ledgerDir: String): Long = {
    val pairs = graft.ext.Corpus.chunkRows(batch)
      .groupBy(col("chunk_sig"), col("doc_id"))
      .agg(count(lit(1)).cast("long").as("cnt"))
      .withColumn("bucket", Ledger.keyBucket(col("chunk_sig")))
    Ledger.admit(pairs, ledgerDir, chunkLedgerSchema, Seq("chunk_sig", "doc_id"))
  }

  /** Full incidence-ledger view (all buckets); empty/missing dir →
    * empty frame.
    */
  def ledger(spark: SparkSession, ledgerDir: String): DataFrame =
    Ledger.read(spark, ledgerDir, chunkLedgerSchema)

  /** Per-document shared-chunk stats folded from the ledger — EXACTLY
    * ext.Corpus.chunkDedup's output over every document ingested so
    * far, regardless of arrival order or batching.
    */
  def sharedStats(spark: SparkSession, ledgerDir: String): DataFrame = {
    val led = ledger(spark, ledgerDir)
    // (sig, doc) is unique in the ledger, so rows-per-sig IS the
    // distinct-doc count the batch operator takes countDistinct for.
    val hot = led.groupBy(col("chunk_sig"))
      .agg(count(lit(1)).as("nd"))
    led.join(hot, Seq("chunk_sig"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_chunks"),
           sum(when(col("nd") >= 2, col("cnt")).otherwise(0L))
             .as("n_shared_chunks"))
      .select(col("doc_id"), col("n_chunks"), col("n_shared_chunks"),
        round(col("n_shared_chunks").cast("double")
                / col("n_chunks").cast("double"), 6).as("shared_frac"))
      .orderBy(col("doc_id"))
  }

  /** Drive the ingest over a static documents dir to completion
    * (AvailableNow), appending chunk incidences to `ledgerDir`.
    * Returns the ledger as of completion.
    */
  def runOnce(spark: SparkSession, srcDir: String, ledgerDir: String,
              name: String = "graft_chunk_ingest"): DataFrame = {
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
