package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming corpus INGEST — the curation pillar's streaming face: new
  * document files stream in, pass a stateless quality gate, and are
  * exact-deduplicated incrementally against the durable content-hash
  * history (the streaming form of ext.Dedup.qDedupIncremental).
  *
  * The dedup state deliberately lives in a PERSISTED history table
  * probed per micro-batch via LEFT ANTI join — not in streaming
  * operator state. Exact corpus dedup needs every hash ever seen, so
  * in-operator state would grow without bound and die with the
  * checkpoint; a history table scales with the corpus, survives
  * restarts, and is exactly what the daily batch pipeline
  * (q_dedup_incremental) already maintains — the two planes share one
  * ledger. Within a micro-batch, duplicates collapse to the min doc_id
  * (deterministic regardless of arrival order); ACROSS micro-batches
  * the ledger is first-seen-wins, exactly like the batch incremental
  * pipeline: a duplicate arriving in a later batch is dropped even if
  * its doc_id is smaller, so the canonical id reflects ingest order,
  * not the global minimum. (Global-min canonicalization over an
  * unbounded stream would mean rewriting history per batch.)
  *
  * The ledger's layout, single-writer contract and staged commit are
  * [[Ledger]]'s: hash-prefix buckets, so a batch probes only the bucket
  * directories its own hashes fall in.
  *
  * The key operational property is IDEMPOTENT re-ingest: replaying the
  * same files adds zero rows, because every content hash already sits
  * in the history (pinned by spec).
  */
object CorpusStream {

  val docsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Data columns of a ledger bucket file (the `bucket` partition column
    * lives in the directory name, not the file). Reads always pass this
    * schema explicitly, so an empty or partially-written directory
    * degrades to an empty frame instead of failing schema inference.
    */
  val ledgerSchema: StructType = StructType(Seq(
    StructField("text_hash", StringType),
    StructField("canonical_id", LongType),
    StructField("lang", StringType),
    StructField("source", StringType)))

  /** Quality gate: same shape as the rule funnel's pass band — bounded
    * token count. Stateless, so it rides the stream as a pure filter.
    */
  val MinToks = 10
  val MaxToks = 100000

  private def qualityGate(docs: DataFrame): DataFrame = {
    val nToks = size(split(col("text"), " "))
    docs.filter(nToks >= MinToks && nToks <= MaxToks)
  }

  /** One micro-batch of ingest: gate → hash → collapse in-batch dups to
    * the min doc_id → drop hashes already in the MATCHING ledger buckets
    * → append survivors through the bucket partitioning. The batch's
    * bucket list is a bounded driver collect (≤ 256 two-hex-char
    * strings by construction). Exposed for the spec; foreachBatch
    * delegates here.
    */
  private[graft] def ingestBatch(batch: DataFrame, historyDir: String): Long = {
    val collapsed = qualityGate(batch)
      .groupBy(sha2(col("text"), 256).as("text_hash"))
      .agg(min_by(struct(col("doc_id"), col("lang"), col("source")),
                  col("doc_id")).as("c"))
      .select(col("text_hash"), col("c.doc_id").as("canonical_id"),
              col("c.lang").as("lang"), col("c.source").as("source"),
              Ledger.hexBucket(col("text_hash")).as("bucket"))
    Ledger.admit(collapsed, historyDir, ledgerSchema, Seq("text_hash"))
  }

  /** Drive the ingest over a static documents dir to completion
    * (AvailableNow), appending survivors to `historyDir`. Returns the
    * history as of completion.
    */
  def runOnce(spark: SparkSession, srcDir: String, historyDir: String,
              name: String = "graft_corpus_ingest",
              maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    Ledger.documents(spark, srcDir, maxFilesPerTrigger).writeStream
      .queryName(name)
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingestBatch(batch, historyDir); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()
    // If every document failed the quality gate (or no files matched),
    // no batch ever wrote and the dir does not exist: an empty ledger,
    // not an error.
    Ledger.read(spark, historyDir, ledgerSchema)
  }
}
