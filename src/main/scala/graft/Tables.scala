package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table readers over the harness star schema (see TESTDATA.md /
  * FIXTURES.md §2). One method per table so call sites stay declarative and
  * Catalyst sees a plain file scan it can push filters/projections into.
  *
  * The reference's scans are line-oriented text (`TextInputFormat`,
  * reference BootStrap.java:31); here the engine is columnar-first: Parquet
  * scans get predicate pushdown, column pruning, and vectorized reads for
  * free, which is the 100 TB-scale posture.
  */
object Tables {
  /** Resolved-relation cache, per (session, path). Every bare
    * `spark.read.parquet(path)` re-lists the directory and re-reads a
    * parquet footer to infer the schema — pure driver latency that the
    * 201-query registry pays ~2-4× per query (measured as part of the
    * ~0.4-0.9 s fixed per-query floor; the data volume is irrelevant).
    * The resolved DataFrame is immutable plan state, so reusing it is
    * safe as long as the files underneath have not changed: each hit
    * revalidates against a one-listStatus signature (file count, total
    * bytes, max mtime) — strictly cheaper than the footer read + relation
    * resolution it replaces, on local FS and object stores alike. A
    * rewritten directory (overwrite in tests, recompaction in prod)
    * changes the signature and takes the miss path. Keyed on the session
    * object: a new session never sees another session's relations.
    *
    * Only FLAT directories are cached. The signature lists one level, so
    * a partitioned layout (subdirectories) could rewrite a file inside a
    * partition without moving it; such a listing never enters the cache
    * and every read takes the miss path, so it is never served stale.
    */
  private final case class Sig(n: Int, bytes: Long, mtime: Long)
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
                                               (Sig, DataFrame)]()
  private val Uncacheable = Sig(-1, -1L, -1L)
  private def sig(s: SparkSession, path: String): Sig =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      val st = fs.listStatus(p)
      if (st.exists(_.isDirectory)) Uncacheable
      else Sig(st.length, st.map(_.getLen).sum,
               if (st.isEmpty) -1L else st.map(_.getModificationTime).max)
    } catch { case scala.util.control.NonFatal(_) => Uncacheable }

  def read(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val key = (spark, path)
    val now = sig(spark, path)
    val hit = cache.get(key)
    if (hit != null && now.n >= 0 && hit._1 == now) hit._2
    else {
      val df = spark.read.parquet(path)
      if (now.n >= 0) cache.put(key, (now, df)) else cache.remove(key)
      df
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = read(s, d, "lineitem")
  /** events.parquet's `ts` physical type has varied across harness data
    * generations: TIMESTAMP(NANOS) (no native Spark type — loads only as
    * a nanos-since-epoch long under the legacy conf) and TIMESTAMP(MICROS)
    * (plain TimestampType). Branch on the LOADED type so both generations
    * read to the same TimestampType column:
    *
    *  - LongType ⇒ nanos: floor-divide to micros in integer space — a
    *    double division would lose precision above 2^53 ns.
    *    `(ts - pmod(ts, 1000)) div 1000` is true floor division (pmod is
    *    non-negative), matching DuckDB's ns→µs flooring even for pre-1970
    *    (negative) nanos, where plain `div` truncates toward zero.
    *  - TimestampType ⇒ micros: pass through untouched (keeps pushdown
    *    and pruning on the raw scan — no projection layer at all).
    *
    * The conf set below is an intentional session-wide mutation: the
    * harness driver builds the SparkSession itself, so the reader is the
    * only hook this library has. The flag only affects TIMESTAMP(NANOS)
    * parquet columns (they fail to load at all without it) and setting it
    * is idempotent; MICROS files ignore it entirely.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = read(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("(ts - pmod(ts, 1000)) div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // MICROS-no-timezone generation: NTZ → instant via the session
        // zone. Verify/spec sessions pin spark.sql.session.timeZone=UTC,
        // so the mapping is micros-identical to DuckDB's (which treats
        // the NTZ value as UTC when extracting epochs).
        raw.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = read(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")
}
