package graft.streaming

import graft.PlanMode
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The bucketed parquet ledger every state-keeping stream of this plane
  * writes (Corpus, Paragraph, Substring, Shuffle, Chunk, Pipeline), plus
  * the flat per-batch-token ledgers of CompactionStream and KvStream:
  * bucket keys, read, bucket-pruned probe, staged commit, the admit step
  * built from them, and the documents source the ingests drain.
  *
  * LEDGER LAYOUT — bucketed by key prefix: a ledger is Hive-partitioned
  * on `bucket`, either the first two hex chars of a content digest
  * ([[hexBucket]]) or `%02x` of a 64-bit key's `pmod 256` ([[keyBucket]]):
  * 256 uniform buckets either way (SHA-256/md5 prefixes and the low bits
  * of md5/xxhash keys are uniform by construction). A micro-batch probe
  * therefore opens ONLY the bucket directories its own keys fall in — a
  * small batch touching b buckets reads b/256ths of the ledger's files
  * no matter how large the history grows, instead of rescanning every
  * key ever seen. Appends go through the same partitioning, so batch and
  * stream keep sharing one layout. A frame without a `bucket` column
  * commits flat (one directory of part-files).
  *
  * SINGLE WRITER — the admit's check-then-append is not atomic: a second
  * concurrent writer appending between one batch's anti-join probe and
  * its append could re-admit a duplicate key. The ingest contract is
  * therefore one writer per ledger at a time (exactly what a streaming
  * query with a checkpoint is: one driver owns the sink); the daily
  * batch plane must run fenced from the stream, e.g. while the stream is
  * stopped. Readers are unaffected: Hive-partitioned parquet appends are
  * directory-add only.
  *
  * STAGED COMMIT — a commit writes to `<dir>.staging/<token>` first, then
  * renames each finished part-file into its (bucket) directory as
  * `<token>-part-*`: rename is atomic per file on HDFS and local FS, so
  * a reader never observes a torn parquet, and no `_SUCCESS` /
  * `_temporary` artifacts ever land inside the ledger. A crash mid-write
  * leaves only an inert staging directory outside the ledger; a crash
  * mid-rename leaves some complete files committed and the rest in
  * staging — an idempotent re-ingest replays the batch and the anti-join
  * drops whatever already made it in. A batch-id token (`batch-%08d`)
  * first erases its own earlier files from every directory it commits
  * into, so a retried micro-batch replaces its prior commit instead of
  * doubling it; a random token never matches anything.
  *
  * OBJECT-STORE CAVEAT — the commit is only as atomic as the
  * filesystem's rename. HDFS and local FS rename atomically within a
  * volume; S3A and most object stores implement "rename" as copy+delete,
  * so a reader there CAN observe a partially-copied file, and a ledger
  * there should commit via an object-store committer or a table format
  * with a metadata log instead. Staging is a sibling of the ledger
  * precisely so both share one scheme/authority — enforced in [[commit]],
  * since a cross-filesystem "rename" would silently fail or copy. The
  * single-writer contract is a convention, not a runtime lock; the
  * staged layout keeps a violated convention from tearing files, not
  * from re-admitting a duplicate key.
  *
  * Every snapshot goes through PlanMode, so `spark.graft.checkpoint.dir`
  * reaches the streams and each snapshot's blocks are released when the
  * batch is done with them.
  */
object Ledger {

  /** Bucket of a hex digest column: its first two chars. */
  def hexBucket(digest: Column): Column = substring(digest, 1, 2)

  /** Bucket of a 64-bit key column: `%02x` of `pmod(key, 256)`. */
  def keyBucket(key: Column): Column = format_string("%02x", pmod(key, lit(256L)))

  private[streaming] def fs(spark: SparkSession, dir: String): FileSystem =
    FileSystem.get(new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)

  private[streaming] def empty(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** The whole ledger (every bucket, or the flat files) with `schema`'s
    * columns. The schema is explicit, so a missing, empty or
    * partially-written directory reads as an empty frame instead of
    * failing schema inference.
    */
  def read(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    if (fs(spark, dir).exists(new Path(dir)))
      spark.read.schema(schema.add(StructField("bucket", StringType)))
        .option("basePath", dir).parquet(dir)
        .select(schema.fieldNames.map(col): _*)
    else empty(spark, schema)

  /** The bucket directories under `dir` that exist AND are asked for —
    * what a probe reads. Exposed for the spec that pins the pruning
    * contract (a b-bucket batch probes ≤ b of the ledger's partitions).
    */
  private[graft] def bucketPaths(spark: SparkSession, dir: String,
                                 buckets: Seq[String]): Seq[String] = {
    val f = fs(spark, dir)
    buckets.sorted.map(b => s"$dir/bucket=$b").filter(p => f.exists(new Path(p)))
  }

  /** The ledger rows in the buckets `snapshot` touches: its distinct
    * `bucket` values (a bounded driver collect, ≤ 256 by construction),
    * then a read of only those directories.
    */
  def probe(snapshot: DataFrame, dir: String, schema: StructType): DataFrame = {
    val spark = snapshot.sparkSession
    val buckets = snapshot.select(col("bucket")).distinct()
      .collect().map(_.getString(0)).toSeq
    bucketPaths(spark, dir, buckets) match {
      case Seq() => empty(spark, schema)
      case paths => spark.read.schema(schema).parquet(paths: _*)
    }
  }

  /** Staged commit of `frame` into `dir/subdir` (see the class doc):
    * partitioned by `bucket` exactly when the frame has that column,
    * under a random token, or under `batch-%08d` of `batchId`, which
    * first erases that token's earlier files.
    */
  def commit(frame: DataFrame, dir: String, batchId: Option[Long] = None,
             subdir: String = ""): Unit = {
    val spark = frame.sparkSession
    val token = batchId.fold(java.util.UUID.randomUUID().toString)(id => f"batch-$id%08d")
    val stageDir = s"$dir.staging/$token"
    val target = if (subdir.isEmpty) dir else s"$dir/$subdir"
    require(fs(spark, stageDir).getUri == fs(spark, target).getUri,
      s"staging ($stageDir) and ledger ($target) must share a filesystem")
    val bucketed = frame.columns.contains("bucket")
    val w = frame.write.mode(SaveMode.Overwrite)
    (if (bucketed) w.partitionBy("bucket") else w).parquet(stageDir)
    val f = fs(spark, target)
    val stage = new Path(stageDir)
    val dirs =
      if (bucketed) f.listStatus(stage).filter(_.isDirectory)
        .map(d => d.getPath -> new Path(s"$target/${d.getPath.getName}")).toSeq
      else Seq(stage -> new Path(target))
    dirs.foreach { case (from, dst) =>
      f.mkdirs(dst)
      if (batchId.isDefined)
        f.listStatus(dst).filter(_.getPath.getName.startsWith(s"$token-"))
          .foreach(st => f.delete(st.getPath, false))
      f.listStatus(from).filter(_.getPath.getName.startsWith("part-")).foreach { file =>
        val to = new Path(dst, s"$token-${file.getPath.getName}")
        require(f.rename(file.getPath, to),
          s"ledger commit rename failed: ${file.getPath} -> $to")
      }
    }
    f.delete(stage, true)
  }

  /** One micro-batch's admit: snapshot `keyed` (which carries `bucket`),
    * probe the buckets it touches, drop rows whose `keys` are already in
    * the ledger, snapshot the survivors BEFORE appending to the
    * directories the probe read (their count observed on that snapshot),
    * append them, release both snapshots. Returns the admitted count.
    */
  def admit(keyed: DataFrame, dir: String, schema: StructType,
            keys: Seq[String]): Long = {
    val batch = PlanMode.checkpointTail(keyed)
    val (fresh, n) = PlanMode.checkpointObserved(
      batch.join(probe(batch, dir, schema).select(keys.map(col): _*), keys, "left_anti"),
      Seq(count(lit(1))))
    val admitted = n.getLong(0)
    if (admitted > 0) commit(fresh, dir)
    Seq(batch, fresh).foreach(PlanMode.release)
    admitted
  }

  /** The documents source: `CorpusStream.docsSchema` rows from the
    * `documents*.parquet` files under `srcDir`, at most
    * `maxFilesPerTrigger` files per micro-batch when given (one crawl
    * slice per batch; None drains everything available in one batch).
    */
  def documents(spark: SparkSession, srcDir: String,
                maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.schema(CorpusStream.docsSchema)
      .option("pathGlobFilter", "documents*.parquet")
    maxFilesPerTrigger.fold(reader)(n => reader.option("maxFilesPerTrigger", n.toString))
      .parquet(srcDir)
  }
}
