package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming SHUFFLE-ORDER ledger — the streaming face of
  * ext.Corpus.globalShuffle (the seeded deterministic training shuffle):
  * each arriving document is keyed by the SAME md5 permutation hash as
  * the batch operator (graft.ext.Corpus.shuffleKeyed — shared
  * ShuffleSeed, so stream/batch agreement on the permutation is
  * structural) and ledgered as one (doc_id, n_toks, h) row.
  *
  * Like chunk sharing, a document's shuffle POSITION is RETROACTIVE: a
  * later arrival whose h sorts earlier shifts every later-h document of
  * its shard one position down, changing that shard's order
  * fingerprint. So the ledger stores the permutation-keyed relation,
  * not positions, and shuffleView() folds it through the batch
  * operator's own tail (ext.Corpus.shuffleFold) — positions derive from
  * h order, never from arrival order, so the folded view equals the
  * batch output over every document ingested so far for ANY arrival
  * order or batching.
  *
  * The ledger is a [[Ledger]] bucketed on the low 8 bits of h
  * (ShuffleShards divides 256, so a shard is a fixed 16-bucket slice and
  * shard-scoped reads prune); ingest dedups on doc_id through the
  * bucket-pruned admit.
  */
object ShuffleStream {

  val shuffleLedgerSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_toks", LongType),
    StructField("h", LongType)))

  /** One micro-batch: key → drop doc_ids already in the MATCHING ledger
    * buckets → staged-append the rest. Returns newly admitted docs.
    * Replaying a ledgered document admits nothing (anti-join on
    * doc_id), so re-ingest is a no-op. The bucket list is a bounded
    * driver collect (≤ 256 two-hex-char strings by construction).
    */
  private[graft] def ingestBatch(batch: DataFrame, ledgerDir: String): Long = {
    // Collapse in-batch duplicate doc_ids BEFORE the ledger probe
    // (CorpusStream.ingestBatch's discipline): the anti-join only
    // dedupes against history, so without this a doc_id repeated
    // WITHIN one micro-batch would be ledgered twice and permanently
    // break the shuffleView == globalShuffle parity. h is a pure
    // function of doc_id (so min(h) IS the h), but n_toks is a
    // function of TEXT — if the same doc_id arrives with differing
    // text in one batch, an arbitrary pick (dropDuplicates) would make
    // the ledgered n_toks nondeterministic; min(n_toks) is the
    // deterministic representative, matching the min-doc_id discipline
    // used elsewhere on this plane.
    val keyed = graft.ext.Corpus.shuffleKeyed(batch)
      .groupBy(col("doc_id"))
      .agg(min(col("n_toks")).as("n_toks"), min(col("h")).as("h"))
      .withColumn("bucket", Ledger.keyBucket(col("h")))
    Ledger.admit(keyed, ledgerDir, shuffleLedgerSchema, Seq("doc_id"))
  }

  /** Full permutation ledger (all buckets); empty/missing dir → empty
    * frame.
    */
  def ledger(spark: SparkSession, ledgerDir: String): DataFrame =
    Ledger.read(spark, ledgerDir, shuffleLedgerSchema)

  /** Per-shard shuffle view folded from the ledger — EXACTLY
    * ext.Corpus.globalShuffle's output over every document ingested so
    * far, regardless of arrival order or batching.
    */
  def shuffleView(spark: SparkSession, ledgerDir: String): DataFrame =
    graft.ext.Corpus.shuffleFold(ledger(spark, ledgerDir))

  /** Drive the ingest over a static documents dir to completion
    * (AvailableNow), appending permutation keys to `ledgerDir`.
    * Returns the folded shuffle view as of completion.
    */
  def runOnce(spark: SparkSession, srcDir: String, ledgerDir: String,
              name: String = "graft_shuffle_ingest"): DataFrame = {
    Ledger.documents(spark, srcDir).writeStream
      .queryName(name)
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingestBatch(batch, ledgerDir); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()
    shuffleView(spark, ledgerDir)
  }
}
