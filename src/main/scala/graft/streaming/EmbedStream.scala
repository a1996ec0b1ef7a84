package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming embedding near-dup ingest — the embeddings-modality twin
  * completing the streaming plane (events: windows/sessions/sketches;
  * documents: corpus/paragraph/substring/compaction; and now vectors):
  * each arriving embedding is ADMITTED only if no already-admitted
  * vector in its block has cosine ≥ the shared q_dedup_embedding
  * threshold — greedy leader clustering as a live ingest gate, the
  * streaming face of SemDeDup-style collapse.
  *
  * Ledger: admitted vectors parquet-partitioned by block (`label=` —
  * the batch operator's deterministic block; at 100 TB the block key is
  * the LSH sign-bucket from ext.Similarity, same machinery, bounded
  * buckets). A batch probes ONLY the block partitions its own vectors
  * fall in.
  *
  * The greedy chain inside one block is inherently sequential (admit
  * decisions depend on earlier admits — the leader algorithm), so each
  * block folds in ONE task via flatMapGroups, parallel ACROSS blocks;
  * per-task state is the block's admitted set, which near-dup collapse
  * keeps far below the block's arrival count. Cosines accumulate
  * left-to-right over the float vectors in double — one deterministic
  * code path shared with the spec's local replay.
  *
  * Parity (spec-pinned): with vec_id-ordered ingest the admitted set
  * equals a global greedy replay, re-ingest admits nothing (a vector's
  * cosine with its admitted self is 1), and a later near-duplicate of
  * an admitted vector is rejected across batches.
  */
object EmbedStream {

  val Threshold: Double = graft.ext.Dedup.EmbDupThreshold

  val ledgerSchema: StructType = StructType(Seq(
    StructField("label", IntegerType),
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  case class V(label: Int, vec_id: Long, embedding: Seq[Float],
               admitted: Boolean)

  /** Deterministic cosine: left-to-right double accumulation. */
  private[graft] def cosine(a: Seq[Float], b: Seq[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      dot += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Greedy leader admission for one block: prior admits are leaders;
    * new arrivals in vec_id order join only if no leader (old or newly
    * admitted this batch) is within the threshold. Shared with the
    * spec's replay.
    */
  private[graft] def admitBlock(prior: Seq[V], fresh: Seq[V]): Seq[V] = {
    val leaders = scala.collection.mutable.ArrayBuffer
      .from(prior.map(_.embedding))
    val out = scala.collection.mutable.ArrayBuffer.empty[V]
    for (v <- fresh.sortBy(_.vec_id))
      if (!leaders.exists(u => cosine(u, v.embedding) >= Threshold)) {
        leaders += v.embedding
        out += v
      }
    out.toSeq
  }

  /** Admitted rows for the given blocks only (the probe path). */
  private[graft] def ledgerBlocks(spark: SparkSession, ledgerDir: String,
                                  labels: Seq[Int]): DataFrame = {
    val f = Ledger.fs(spark, ledgerDir)
    val paths = labels.sorted.map(l => s"$ledgerDir/label=$l")
      .filter(p => f.exists(new org.apache.hadoop.fs.Path(p)))
    if (paths.isEmpty) Ledger.empty(spark, ledgerSchema)
    else
      // basePath keeps Spark's own partition discovery in charge of the
      // `label` column (typed, codegen-friendly) instead of re-parsing
      // it out of input_file_name() with a regex per row.
      spark.read
        .schema(StructType(ledgerSchema.fields.filterNot(_.name == "label")))
        .option("basePath", ledgerDir)
        .parquet(paths: _*)
        .select(col("label").cast("int").as("label"),
                col("vec_id"), col("embedding"))
  }

  /** Ingest one batch of (label, vec_id, embedding): returns #admitted. */
  def ingestBatch(batch: DataFrame, ledgerDir: String): Long = {
    val spark = batch.sparkSession
    import spark.implicits._
    val slim = batch.select(col("label").cast("int").as("label"),
                            col("vec_id").cast("bigint").as("vec_id"),
                            col("embedding"))
    val labels = slim.select(col("label")).distinct()
      .collect().map(_.getInt(0)).toSeq
    if (labels.isEmpty) return 0L
    val prior = ledgerBlocks(spark, ledgerDir, labels)
      .withColumn("admitted", lit(true))
    val merged = prior.unionByName(slim.withColumn("admitted", lit(false)))
      .as[V]
    val newly = merged.groupByKey(_.label).flatMapGroups { (_, it) =>
      val all = it.toSeq
      admitBlock(all.filter(_.admitted), all.filterNot(_.admitted)).iterator
    }
    val admitted = newly.select(col("label"), col("vec_id"), col("embedding"))
      .persist()
    val n = admitted.count()
    if (n > 0)
      admitted.write.partitionBy("label").mode("append").parquet(ledgerDir)
    admitted.unpersist()
    n
  }

  /** The admitted (canonical) set as a table. */
  def ledger(spark: SparkSession, ledgerDir: String): DataFrame = {
    val f = Ledger.fs(spark, ledgerDir)
    if (!f.exists(new org.apache.hadoop.fs.Path(ledgerDir)))
      Ledger.empty(spark, ledgerSchema)
    else
      spark.read.schema(ledgerSchema)
        .option("basePath", ledgerDir).parquet(ledgerDir)
        .select(col("label"), col("vec_id"), col("embedding"))
  }

  /** Drive over a static embeddings dir (AvailableNow, 1 file/batch). */
  def runOnce(spark: SparkSession, srcDir: String, ledgerDir: String,
              name: String = "graft_embed_ingest"): DataFrame = {
    val q = spark.readStream
      .schema(StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)),
        StructField("label", IntegerType))))
      .option("pathGlobFilter", "embeddings*.parquet")
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
      .writeStream
      .queryName(name)
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingestBatch(batch, ledgerDir); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    ledger(spark, ledgerDir)
  }
}
