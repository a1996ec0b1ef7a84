package graft.streaming

import graft.PlanMode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming EXACT-SUBSTRING dedup — the third granularity of the
  * streaming dedup plane (document: CorpusStream, paragraph:
  * ParagraphStream, substring: here), and the production shape of
  * Lee-et-al dedup: each new crawl is deduplicated against every gram
  * ever ingested, not just against itself.
  *
  * Per micro-batch: every 50-token gram occurrence is a duplicate if
  * its digest is already in the durable gram ledger (first seen in an
  * earlier batch) OR a smaller (doc_id, start) occurrence exists in
  * THIS batch; tokens covered by a duplicate occurrence are dropped and
  * the batch's documents are rebuilt exactly like the batch operator
  * (native DropCoveredSpans two-pointer pass). First-seen gram digests
  * are then appended to a [[Ledger]] — it stores ONLY the 8-byte digest
  * per gram (membership is all later batches need), bucketed on the
  * digest's low byte so a batch probes only its own buckets.
  *
  * Batch parity (pinned by spec): micro-batches in ascending doc_id
  * order reproduce ext.Dedup.dedupSubstring's per-document output
  * exactly — history-membership ∨ in-batch-earlier ≡ global
  * first-seen-wins when batches are id-ordered. Re-ingesting the same
  * corpus admits zero grams and (correctly) reports every ≥50-token
  * document as fully duplicated text.
  */
object SubstringStream {

  val ledgerSchema: StructType =
    StructType(Seq(StructField("gh", LongType)))

  import graft.ext.Dedup.SubstrK

  /** One micro-batch over a (doc_id, text, ...) frame: returns the
    * per-doc dedup stats (doc_id, n_tokens, n_dropped, kept_hash) —
    * the batch operator's exact schema — and appends this batch's
    * first-seen gram digests to the ledger. Stats and the fresh-gram
    * set are snapshotted BEFORE the append (they read the directories
    * the append writes); the caller releases the stats snapshot once it
    * has consumed it.
    */
  private[graft] def ingestBatch(batch: DataFrame,
                                 ledgerDir: String): DataFrame = {
    // The batch feeds TWO actions (the occurrence snapshot and
    // rebuildStats' scan); un-persisted, each action re-read the
    // micro-batch's source files — a 2× corpus-read amplification
    // StreamBench caught as numInputRows = 2× corpus rows. Persisting
    // the batch makes it one source read per micro-batch; unpersisted
    // in the finally once stats are eagerly snapshotted.
    val b = batch.persist()
    try ingestPersisted(b, ledgerDir)
    finally b.unpersist()
  }

  private def ingestPersisted(batch: DataFrame,
                              ledgerDir: String): DataFrame = {
    val toks = batch.select(col("doc_id"),
                            graft.ops.Ops.tokens(col("text")).as("t"))
    // Gram construction is LITERALLY the batch operator's
    // (Dedup.gramOccurrences) — stream/batch digest agreement is
    // structural, not a copy kept in sync.
    val occ = PlanMode.checkpointTail(graft.ext.Dedup.gramOccurrences(toks)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("gh")).orderBy(col("doc_id"), col("s"))))
      .withColumn("bucket", Ledger.keyBucket(col("gh"))))
    val marked = occ.join(Ledger.probe(occ, ledgerDir, ledgerSchema)
                            .withColumn("in_hist", lit(1)), Seq("gh"), "left")
    // Duplicate occurrence: seen in an earlier batch, or earlier in this
    // one. Covered-token removal + rebuild = the batch operator's OWN
    // code path (Dedup.rebuildStats).
    val removed = marked
      .filter(col("in_hist") === 1 || col("rn") > 1)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("s"))).as("ss"))
    // snapshot BEFORE appending to probed dirs
    val stats = PlanMode.checkpointTail(graft.ext.Dedup.rebuildStats(toks, removed))
    // rn == 1 is already one row per distinct gram; first-seen = also
    // absent from history.
    val (fresh, n) = PlanMode.checkpointObserved(
      marked.filter(col("rn") === 1 && col("in_hist").isNull)
        .select(col("gh"), col("bucket")),
      Seq(count(lit(1))))
    if (n.getLong(0) > 0) Ledger.commit(fresh, ledgerDir)
    Seq(occ, fresh).foreach(PlanMode.release)
    stats
  }

  val statsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_tokens", LongType),
    StructField("n_dropped", LongType),
    StructField("kept_hash", StringType)))

  /** Commit one batch's stats ATOMICALLY: write to a sibling staging
    * dir, then rename the finished directory into `outDir` (atomic per
    * directory on HDFS/local FS, same contract as the ledger's staged
    * commit) — a reader of outDir never observes a torn batch, and a
    * crash mid-write leaves only an inert staging dir.
    */
  private def stagedStatsWrite(spark: SparkSession, stats: DataFrame,
                               outDir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val token = java.util.UUID.randomUUID().toString
    val stageDir = s"$outDir.staging/$token"
    stats.write.mode("overwrite").parquet(stageDir)
    val f = Ledger.fs(spark, outDir)
    f.mkdirs(new Path(outDir))
    require(f.rename(new Path(stageDir), new Path(s"$outDir/batch-$token")),
      s"stats commit rename failed: $stageDir")
    f.delete(new Path(s"$outDir.staging"), true)
  }

  /** Drive the ingest over a static documents dir (AvailableNow),
    * appending per-batch dedup stats to `outDir` (staged-atomic, one
    * subdirectory per batch) and first-seen grams to `ledgerDir`.
    * Returns the accumulated stats; a run that fired zero batches
    * returns an empty frame, not a missing-path error.
    *
    * EXACTLY-ONCE CAVEAT: this dev/spec driver keeps no streaming
    * checkpoint, so a crash between the ledger append and the stats
    * commit followed by a full replay re-scores the replayed batch
    * against its own grams (reported as fully duplicated text). A
    * production deployment must set a durable checkpointLocation so
    * committed micro-batches are not reprocessed — the ledger itself
    * is safe either way (duplicate-hash re-admission is impossible).
    */
  def runOnce(spark: SparkSession, srcDir: String, ledgerDir: String,
              outDir: String,
              name: String = "graft_substring_ingest",
              maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    Ledger.documents(spark, srcDir, maxFilesPerTrigger).writeStream
      .queryName(name)
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val stats = ingestBatch(batch, ledgerDir)
        stagedStatsWrite(spark, stats, outDir)
        PlanMode.release(stats)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()
    if (Ledger.fs(spark, outDir).exists(new org.apache.hadoop.fs.Path(outDir)))
      spark.read.schema(statsSchema)
        .option("recursiveFileLookup", "true").parquet(outDir)
    else Ledger.empty(spark, statsSchema)
  }
}
