package graft

import org.apache.spark.sql.SparkSession

/** Runtime tuning surface for the operator caps (`spark.graft.*`).
  *
  * The hot-key / candidate caps are the knobs a 100 TB deployment
  * actually turns — how many postings a gram may have before it is
  * treated as boilerplate, how many members an LSH band bucket or
  * k-means cell may contribute to candidate generation. Until round 14
  * they were compile-time constants; now every cap reads the Spark conf
  * first and falls back to the compiled default, so a production run
  * can retune per-corpus (`--conf spark.graft.dedup.maxGramDf=32`)
  * without a rebuild.
  *
  * DEFAULTS ARE THE CONTRACT: the embedded DuckDB oracle SQL strings
  * interpolate the compiled constants at object init, so the verify
  * gate always checks the default path — GraftConfSpec pins that the
  * default-path results are bit-identical to the pre-knob behavior,
  * and that each knob is LIVE (a non-default value changes the
  * candidate sets the way the cap's semantics say it must). A caller
  * who retunes a cap owns the divergence from the embedded oracle,
  * exactly as they would own it on any other engine.
  *
  * Session-scoped reads (`spark.conf`, i.e. SQLConf), not
  * SparkContext-scoped: the caps are query-tuning state and can differ
  * between two sessions of one application.
  */
object GraftConf {
  /** All knobs: (conf key, compiled default, one-line meaning) — the
    * README table and GraftConfSpec iterate this so docs, spec, and
    * code can't drift apart.
    */
  def knobs: Seq[(String, Long, String)] = Seq(
    ("spark.graft.dedup.maxGramDf", ext.Dedup.MaxGramDf,
     "n-gram/containment dedup: drop grams with per-block document frequency above this before the pair self-join"),
    ("spark.graft.decontam.maxDf", ext.Corpus.ContamMaxDf,
     "decontamination/leakage: grams shared by more docs than this are boilerplate, not contamination evidence"),
    ("spark.graft.semdedup.cellCap", ext.Similarity.SemCellCap.toLong,
     "SemDeDup: max members per k-means cell that participate in within-cell pairwise comparison"),
    ("spark.graft.simhash.bandMaxDf", ext.Dedup.SimBandMaxDf,
     "SimHash banded retrieval: skip band buckets holding more signatures than this"),
    ("spark.graft.winnow.maxDf", ext.Dedup.WinnowMaxDf,
     "winnowing fingerprints: fingerprints shared by more docs than this are template noise, not copies"),
    ("spark.graft.dbscan.bandMaxDf", ext.Stats.DbBandMaxDf.toLong,
     "DBSCAN banded ε-graph: skip sign-LSH band buckets larger than this"),
  )

  /** Scratch root for operator temp state. Default: java.io.tmpdir
    * (bit-identical behavior to the pre-knob code). Trailing slash
    * stripped so callers can append `/name` uniformly.
    */
  def scratchDir(s: SparkSession): String =
    s.conf.getOption("spark.graft.scratchDir").map(_.trim).filter(_.nonEmpty)
      .getOrElse(System.getProperty("java.io.tmpdir"))
      .stripSuffix("/")

  /** Root for KV-ledger directories; defaults to [[scratchDir]]. */
  def kvDir(s: SparkSession): String =
    s.conf.getOption("spark.graft.kv.dir").map(_.trim).filter(_.nonEmpty)
      .map(_.stripSuffix("/")).getOrElse(scratchDir(s))

  /** Reliable-checkpoint directory for iterative tails; None (default)
    * keeps the executor-local localCheckpoint fast path.
    */
  def checkpointDir(s: SparkSession): Option[String] =
    s.conf.getOption("spark.graft.checkpoint.dir").map(_.trim).filter(_.nonEmpty)

  private def longConf(s: SparkSession, key: String, default: Long): Long = {
    val v = s.conf.getOption(key).map(_.trim.toLong).getOrElse(default)
    require(v > 0, s"$key must be > 0, got $v")
    v
  }

  /** For Int-typed caps: validate the Int range BEFORE truncating —
    * a conf value above Int.MaxValue passes `v > 0` but `.toInt`
    * would silently wrap to a negative/garbage cap.
    */
  private def intConf(s: SparkSession, key: String, default: Long): Int = {
    val v = longConf(s, key, default)
    require(v <= Int.MaxValue, s"$key must be <= ${Int.MaxValue}, got $v")
    v.toInt
  }

  /** Knob lookup by key — lets GraftConfSpec iterate `knobs` and prove
    * every accessor honors the conf without naming each one twice.
    */
  def read(s: SparkSession, key: String): Long = key match {
    case "spark.graft.dedup.maxGramDf"   => maxGramDf(s)
    case "spark.graft.decontam.maxDf"    => contamMaxDf(s)
    case "spark.graft.semdedup.cellCap"  => semCellCap(s).toLong
    case "spark.graft.simhash.bandMaxDf" => simBandMaxDf(s)
    case "spark.graft.winnow.maxDf"      => winnowMaxDf(s)
    case "spark.graft.dbscan.bandMaxDf"  => dbBandMaxDf(s)
    case other => throw new IllegalArgumentException(s"unknown knob $other")
  }

  def maxGramDf(s: SparkSession): Long =
    longConf(s, "spark.graft.dedup.maxGramDf", ext.Dedup.MaxGramDf)
  def contamMaxDf(s: SparkSession): Long =
    longConf(s, "spark.graft.decontam.maxDf", ext.Corpus.ContamMaxDf)
  def semCellCap(s: SparkSession): Int =
    intConf(s, "spark.graft.semdedup.cellCap",
            ext.Similarity.SemCellCap.toLong)
  def simBandMaxDf(s: SparkSession): Long =
    longConf(s, "spark.graft.simhash.bandMaxDf", ext.Dedup.SimBandMaxDf)
  def winnowMaxDf(s: SparkSession): Long =
    longConf(s, "spark.graft.winnow.maxDf", ext.Dedup.WinnowMaxDf)
  def dbBandMaxDf(s: SparkSession): Long =
    longConf(s, "spark.graft.dbscan.bandMaxDf", ext.Stats.DbBandMaxDf.toLong)
}
