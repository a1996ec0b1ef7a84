package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Key-value CRUD surface over an LSM-shaped parquet ledger — the
  * Spark-native answer to the reference's HBase connector intent
  * (SURVEY §2.1 S10; reference hbase/CURDSample.java:6-13 is an empty
  * stub that only builds an HBaseConfiguration — the INTENT is point
  * get/put/delete against a keyed store, and this module delivers that
  * capability without an external service).
  *
  * Two-tier layout (the HBase memstore-flush/compaction shape):
  *
  *  - **L0 (`dir/l0/`)**: every mutation batch is an APPENDED set of
  *    operation records (key, value, seq, tombstone) written map-only —
  *    no shuffle, no per-bucket fan-out. A put/delete never reads
  *    (HBase's LSM write path), and a small batch costs one or a few
  *    files, not one file per bucket (the old one-file-per-bucket
  *    append put 256 tiny files on disk per 2k-row batch — measured
  *    ~3.5 s of pure file churn per batch at sf0.1, ~13 ms/file; the
  *    map-only L0 append is ~10× cheaper and write-bandwidth-bound).
  *  - **Bucketed tier (`dir/bucket=XX/`)**: compact() folds L0 plus the
  *    existing buckets latest-wins and rewrites survivors under 256
  *    md5-prefix bucket dirs — one file per bucket, paid ONCE per
  *    compaction instead of once per batch. Point reads open the key's
  *    bucket plus L0 — 1/256th of the compacted table plus the
  *    yet-uncompacted tail, the classic LSM read-amplification bound,
  *    kept small by compaction cadence (pinned by a spec that deletes
  *    every other bucket and still reads).
  *
  * Reads fold latest-wins by the caller-supplied strictly-increasing
  * `seq` over both tiers; compaction is the same fold materialized.
  * Same single-writer / rename-atomicity caveats as the streaming
  * ledgers (graft.streaming.Ledger); `seq` collisions are the
  * caller's contract (a real deployment derives seq from its WAL/batch
  * id — here Verify/spec drive it explicitly).
  */
object KvTable {

  val opSchema: StructType = StructType(Seq(
    StructField("key", StringType),
    StructField("value", StringType),
    StructField("seq", LongType),
    StructField("tombstone", BooleanType)))

  /** First two hex chars of md5(key) — the bucket directory name. */
  def bucketOf(key: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8"))
    f"${md(0) & 0xff}%02x"
  }

  private def fs(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def l0Path(dir: String) = s"$dir/l0"

  /** Blind-append a batch of puts: (key, value) rows at one seq. */
  def put(spark: SparkSession, dir: String, kv: DataFrame, seq: Long): Unit =
    append(spark, dir, kv.select(col("key").cast("string").as("key"),
                                 col("value").cast("string").as("value"),
                                 lit(seq).as("seq"),
                                 lit(false).as("tombstone")))

  /** Blind-append tombstones for `keys` at one seq. */
  def delete(spark: SparkSession, dir: String, keys: Seq[String],
             seq: Long): Unit = {
    import spark.implicits._
    deleteKeys(spark, dir, keys.toDF("key"), seq)
  }

  /** Frame-driven tombstone append (a `key` column) — the bulk-delete
    * path; never collects to the driver.
    */
  def deleteKeys(spark: SparkSession, dir: String, keys: DataFrame,
                 seq: Long): Unit =
    append(spark, dir, keys
      .select(col("key").cast("string").as("key"),
              lit(null).cast("string").as("value"),
              lit(seq).as("seq"), lit(true).as("tombstone")))

  /** Map-only L0 append: keeps the batch's partitioning (no shuffle —
    * file count = input tasks, write-bandwidth-bound like an HBase
    * memstore flush). Compaction, not the write path, owns bucketing.
    */
  private def append(spark: SparkSession, dir: String, ops: DataFrame): Unit =
    ops.write.mode("append").parquet(l0Path(dir))

  private def emptyOps(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], opSchema)

  /** All L0 operation records (empty frame if the tier is absent). */
  private def l0Ops(spark: SparkSession, dir: String): DataFrame = {
    val p = l0Path(dir)
    if (fs(spark, dir).exists(new org.apache.hadoop.fs.Path(p)))
      spark.read.schema(opSchema).parquet(p)
    else emptyOps(spark)
  }

  /** All bucketed-tier records (every bucket; empty frame if none). */
  private def bucketedOps(spark: SparkSession, dir: String): DataFrame = {
    val f = fs(spark, dir)
    val glob = new org.apache.hadoop.fs.Path(s"$dir/bucket=*")
    val found = f.globStatus(glob)
    if (found != null && found.nonEmpty)
      spark.read.schema(opSchema.add(StructField("bucket", StringType)))
        .option("basePath", dir)
        .parquet(found.map(_.getPath.toString).toIndexedSeq: _*)
        .select(col("key"), col("value"), col("seq"), col("tombstone"))
    else emptyOps(spark)
  }

  /** Every operation record currently in the ledger (both tiers) — the
    * frame every read folds; also the spec's raw-op-count probe.
    */
  def rawOps(spark: SparkSession, dir: String): DataFrame =
    bucketedOps(spark, dir).unionAll(l0Ops(spark, dir))

  /** Latest-wins fold: one surviving row per non-deleted key. */
  private def latestOf(ops: DataFrame): DataFrame =
    ops
      .groupBy(col("key"))
      .agg(max(struct(col("seq"), col("tombstone"), col("value"))).as("op"))
      .filter(!col("op.tombstone"))
      .select(col("key"), col("op.value").as("value"), col("op.seq").as("seq"))

  /** Point lookup — opens only the key's bucket directory plus L0 (the
    * LSM read bound: 1/256th of the compacted table + uncompacted tail).
    */
  def get(spark: SparkSession, dir: String, key: String): Option[String] = {
    val f = fs(spark, dir)
    val bpath = s"$dir/bucket=${bucketOf(key)}"
    val bucket =
      if (f.exists(new org.apache.hadoop.fs.Path(bpath)))
        spark.read.schema(opSchema).parquet(bpath)
      else emptyOps(spark)
    latestOf(bucket.unionAll(l0Ops(spark, dir))
        .filter(col("key") === key))
      .select(col("value"))
      .collect().headOption.map(_.getString(0))
  }

  /** The table's current view: latest non-deleted row per key. */
  def latestView(spark: SparkSession, dir: String): DataFrame =
    if (fs(spark, dir).exists(new org.apache.hadoop.fs.Path(dir)))
      latestOf(rawOps(spark, dir))
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(opSchema.fields.filter(_.name != "tombstone")))

  /** Fold both tiers latest-wins and materialize survivors under the
    * 256-bucket layout (one file per bucket), dropping superseded
    * records, tombstones, and the L0 tail: stage the folded table, swap
    * directories. The one place that pays the per-bucket file fan-out —
    * once per compaction, amortized over every batch since the last.
    * Returns the number of surviving rows.
    */
  def compact(spark: SparkSession, dir: String): Long =
    compact(spark, dir, countSurvivors = true)

  /** `countSurvivors = false` skips the post-write count-back scan of the
    * staged 256-bucket tree (one 256-file read + a job) for callers that
    * ignore the return value (q_kv_latest: measured ~0.5 s of pure
    * re-read at sf0.1); the compaction itself is identical.
    */
  def compact(spark: SparkSession, dir: String,
              countSurvivors: Boolean): Long = {
    val f = fs(spark, dir)
    val staged = s"$dir.__compact"
    val survivors = latestView(spark, dir)
      .select(col("key"), col("value"), col("seq"),
              lit(false).as("tombstone"))
    survivors
      .withColumn("bucket", substring(md5(col("key")), 1, 2))
      // One shuffle keyed by bucket before partitionBy: each bucket dir
      // gains ONE file instead of one per (task × bucket). The partition
      // count is pinned EXPLICITLY: with the default shuffle-partition
      // exchange, AQE coalesces this tiny-bytes shuffle to ONE task,
      // which then creates all 256 bucket files sequentially — measured
      // 3.9 s of single-core file I/O at sf0.1 (the per-file open/footer
      // cost, not bytes, is the wall here). Hash-partitioning the bucket
      // key over the session's parallelism keeps one-file-per-bucket
      // (each bucket value lands wholly in one task) while writing
      // ~256/N directories per task in parallel.
      .repartition(spark.sparkContext.defaultParallelism, col("bucket"))
      .write.partitionBy("bucket").mode("overwrite").parquet(staged)
    val n = if (countSurvivors)
      spark.read.schema(opSchema.add(StructField("bucket", StringType)))
        .option("basePath", staged).parquet(staged).count()
    else -1L
    // Rename-aside, THEN swap, THEN delete: a crash after the first
    // rename leaves the full pre-compaction ledger recoverable at
    // `dir.__old` (the old delete-before-rename order had a window
    // where the table existed nowhere). The swap also retires L0 —
    // the staged dir holds only bucket dirs.
    val old = new org.apache.hadoop.fs.Path(s"$dir.__old")
    f.delete(old, true)
    require(f.rename(new org.apache.hadoop.fs.Path(dir), old),
      s"compact: rename-aside failed: $dir -> $old")
    require(f.rename(new org.apache.hadoop.fs.Path(staged),
                     new org.apache.hadoop.fs.Path(dir)),
      s"compact: swap failed: $staged -> $dir (pre-compaction ledger at $old)")
    f.delete(old, true)
    n
  }

  // ------------------------------------------------------------------
  // q_kv_latest — the oracle-gated registry face of the KV store (S10):
  // a deterministic op-log derived from `orders` is driven through the
  // REAL two-tier ledger over its FULL lifecycle — two put batches land
  // in L0 (map-only blind appends), compact() folds them into the
  // 256-bucket tier, a tombstone batch lands in the fresh L0 tail, and
  // the result is latestView()'s latest-wins fold over buckets + L0.
  // The oracle replays the same three batches and the same fold in
  // plain SQL over the same orders table (compaction is fold-invariant:
  // it rewrites each key's max-seq survivor, which the later tombstone
  // still beats), so the row set pins put/compact/delete/fold semantics
  // END TO END through the on-disk LSM layout, not just in memory.
  //
  // Batches (all derivations deterministic in orders):
  //   seq 1: per custkey owning an o_orderkey % 3 == 0 order,
  //          value = max such orderkey (as string);
  //   seq 2: per custkey owning an o_orderkey % 3 == 1 order,
  //          value = max such orderkey — overwrites seq-1 keys;
  //   -- compact(): L0 -> bucketed tier, superseded seq-1 rows dropped;
  //   seq 3: tombstones for every custkey % 7 == 0 (frame-driven bulk
  //          delete — no driver collect) — lands in L0, beats survivors.
  //
  // Scale shape: identical to production use — writes are map-only L0
  // appends (write-bandwidth-bound); the per-bucket file fan-out is
  // paid once, in compact(); the fold is one key-keyed partial agg over
  // the two-tier scan. The ledger is rebuilt from scratch each run (the
  // scratch dir is wiped first), so the query is idempotent under
  // Verify's and Bench's repeated invocations. The demo ledger is
  // FIXED-budget (custkey < KvDemoKeyCap, the q_knn_classify cap
  // discipline — a no-op at the sf0.01 gate whose custkeys all sit
  // below it): this row's job is pinning lifecycle semantics end-to-end
  // through the parquet layout, so the op count should not scale with
  // the corpus. The row's wall is dominated by compact()'s one-time
  // 256-dir write — the fixed cost real deployments amortize over
  // arbitrarily many batches.
  // ------------------------------------------------------------------
  val KvDemoKeyCap = 2000L

  val qKvLatest: (SparkSession, String) => DataFrame = (s, d) => {
    // Ledger root is conf-addressable (spark.graft.kv.dir, falling back
    // to spark.graft.scratchDir then java.io.tmpdir): multi-node
    // deployments need the LSM tiers on a cluster FS, not executor /tmp.
    val dir = s"${graft.GraftConf.kvDir(s)}/graft_kv_latest_" +
      Integer.toHexString(d.hashCode)
    fs(s, dir).delete(new org.apache.hadoop.fs.Path(dir), true)
    // One orders scan + one (key, m) partial agg feeds all three
    // batches — the per-batch form re-scanned and re-shuffled orders
    // three times (~3 s of avoidable wall at sf0.1 per extra pass).
    val base = graft.Tables.orders(s, d)
      .filter(col("o_custkey") < KvDemoKeyCap)
      .groupBy(col("o_custkey").cast("string").as("key"),
               (col("o_orderkey") % 3).as("m"))
      .agg(max(col("o_orderkey")).cast("string").as("value"))
      // The demo batches are ~2k rows: flow them through one task each
      // so an L0 flush is one file, the memstore-flush shape (a real
      // deployment sizes L0 files by batch bytes, not task count).
      .coalesce(1)
      .persist()
    put(s, dir, base.filter(col("m") === 0).select(col("key"), col("value")),
        1L)
    put(s, dir, base.filter(col("m") === 1).select(col("key"), col("value")),
        2L)
    compact(s, dir, countSurvivors = false)
    deleteKeys(s, dir,
      base.select(col("key")).distinct()
        .filter(col("key").cast("long") % 7 === 0),
      3L)
    base.unpersist()
    latestView(s, dir).orderBy(col("key"))
  }

  val qKvLatestSql: String =
    s"""WITH b1 AS (
      |  SELECT CAST(o_custkey AS VARCHAR) AS key,
      |         CAST(MAX(o_orderkey) AS VARCHAR) AS value,
      |         CAST(1 AS BIGINT) AS seq, FALSE AS tombstone
      |  FROM orders WHERE o_custkey < $KvDemoKeyCap AND o_orderkey % 3 = 0 GROUP BY 1),
      |b2 AS (
      |  SELECT CAST(o_custkey AS VARCHAR) AS key,
      |         CAST(MAX(o_orderkey) AS VARCHAR) AS value,
      |         CAST(2 AS BIGINT) AS seq, FALSE AS tombstone
      |  FROM orders WHERE o_custkey < $KvDemoKeyCap AND o_orderkey % 3 = 1 GROUP BY 1),
      |b3 AS (
      |  SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS key,
      |         CAST(NULL AS VARCHAR) AS value,
      |         CAST(3 AS BIGINT) AS seq, TRUE AS tombstone
      |  FROM orders WHERE o_custkey < $KvDemoKeyCap AND o_custkey % 7 = 0),
      |ops AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2
      |        UNION ALL SELECT * FROM b3),
      |latest AS (
      |  SELECT key, value, seq, tombstone,
      |         row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
      |  FROM ops)
      |SELECT key, value, seq FROM latest
      |WHERE rn = 1 AND NOT tombstone
      |ORDER BY key""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("q_kv_latest" -> qKvLatest)
  val oracles: Map[String, String] =
    Map("q_kv_latest" -> qKvLatestSql)
}
