package graft.ext

import graft.Tables
import graft.ops.Ops
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The composed training-data pipeline (SURVEY §7.1's ext/Pipeline): the
  * individual operators — quality scoring, content-hash dedup,
  * language-ID routing, token accounting — fused into one declarative
  * plan, the shape a 100 TB corpus-preparation job actually runs:
  *
  *   documents → quality gate → exact dedup (keep min doc_id per
  *   fingerprint) → predicted-language partition → per-partition corpus
  *   accounting.
  *
  * One narrow scan feeds everything; the only shuffles are the dedup
  * group-by (on a hash — perfectly balanced) and the final per-language
  * rollup. Catalyst pipelines the quality filter below the dedup.
  */
object Pipeline {
  type Q = (SparkSession, String) => DataFrame

  val QualityFloor = 0.5

  val qTrainingPipeline: Q = (s, d) => {
    // TextOps.qualityColumn IS this stage's score (same factored
    // expression, term for term) — shared so the stop-hit scan runs the
    // compiled single-pass form (TextOps.hits) instead of six padded
    // contains copies of the text per row.
    val scored = Tables.documents(s, d)
      .withColumn("quality", TextOps.qualityColumn)
      .filter(col("quality") >= QualityFloor)
      .withColumn("fingerprint", md5(Ops.normalizeText(col("text"))))

    // exact dedup: canonical survivor = min doc_id per fingerprint.
    // Window-min beats the groupBy+self-join formulation: the scored
    // subtree (quality gate + md5, the expensive part) is computed once
    // and shuffled once on fingerprint, instead of twice with a join
    // behind it — same surviving rows either way.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fingerprint"))
    val kept = scored
      .withColumn("min_doc_id", min(col("doc_id")).over(w))
      .filter(col("doc_id") === col("min_doc_id"))
      .drop("min_doc_id")

    // language routing — the SAME scoring + argmax as q_lang_id, by
    // construction (shared helpers in TextOps)
    TextOps.withLangScores(kept)
      .withColumn("lang_pred", TextOps.predictedLang)
      .groupBy(col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"),
           sum(size(Ops.tokens(col("text"))).cast("bigint")).as("total_tokens"),
           sum(col("n_chars")).as("total_chars"),
           min(col("doc_id")).as("first_doc"))
      .orderBy(col("lang_pred"))
  }

  val qTrainingPipelineSql: String = {
    def scoreExpr(words: Seq[String]) = words
      .map(w => s"CASE WHEN ' ' || text || ' ' LIKE '% $w %' THEN 1 ELSE 0 END")
      .mkString("(", " + ", ")")
    val branches = TextOps.StopSets.zipWithIndex.map { case ((l, _), i) =>
      val beatsLater = TextOps.StopSets.drop(i + 1).map { case (m, _) => s"s_$l >= s_$m" }
      val cond = (s"s_$l >= ${TextOps.MinEvidence}" +: beatsLater).mkString(" AND ")
      s"WHEN $cond THEN '$l'"
    }
    val scores = TextOps.StopSets.map { case (l, ws) => s"${scoreExpr(ws)} AS s_$l" }
    s"""WITH scored AS (
       |  SELECT *,
       |         (least(len(string_split(text, ' ')) / 100.0, 1.0)
       |          + CAST(length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
       |              / CAST(n_chars AS DOUBLE)
       |          + least((${scoreExpr(TextOps.EnStop)}) / 3.0, 1.0)) / 3.0 AS quality,
       |         md5(lower(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))) AS fingerprint
       |  FROM documents),
       |gated AS (SELECT * FROM scored WHERE quality >= ${QualityFloor}),
       |kept AS (
       |  SELECT g.* FROM gated g
       |  JOIN (SELECT fingerprint, min(doc_id) AS doc_id FROM gated GROUP BY 1) c
       |    ON g.fingerprint = c.fingerprint AND g.doc_id = c.doc_id),
       |routed AS (SELECT *, ${scores.mkString(", ")} FROM kept)
       |SELECT CASE ${branches.mkString(" ")} ELSE 'other' END AS lang_pred,
       |       count(*) AS n_docs,
       |       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       |       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       |       min(doc_id) AS first_doc
       |FROM routed GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // Stratified corpus rebalancing: hash-threshold per-language sampling
  // (keep all minority-language docs, downsample the majority) — the
  // standard rebalancing step before training-data mixing. The sampling
  // decision is md5(doc_id:seed) < threshold rather than an RNG draw:
  // deterministic across runs, partitionings, AND engines (md5 hex is
  // identical in Spark and DuckDB), so the query is exact-oracle-able —
  // and at 100 TB it needs no seed-per-partition coordination, the
  // classic reason hash sampling beats Bernoulli RNG in pipelines.
  // MajorityFraction must be k/256: the keep test compares the first two
  // hex digits against the threshold byte ('80' = 128/256 = 0.5).
  val SampleSeed = 42L
  val MajorityFraction = 0.5
  private val ThresholdHex = f"${(MajorityFraction * 256).toInt}%02x"

  val qStratifiedSample: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val keep = col("lang") =!= "en" ||
      substring(md5(concat(col("doc_id").cast("string"), lit(s":$SampleSeed"))), 1, 2) < ThresholdHex
    docs.filter(keep)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"), min(col("doc_id")).as("first_doc"))
      .join(docs.groupBy(col("lang")).agg(count(lit(1)).as("n_total")), Seq("lang"))
      .orderBy(col("lang"))
  }

  val qStratifiedSampleSql: String =
    s"""WITH sampled AS (
       |  SELECT * FROM documents
       |  WHERE lang <> 'en'
       |     OR substr(md5(CAST(doc_id AS VARCHAR) || ':$SampleSeed'), 1, 2) < '$ThresholdHex'),
       |agg AS (
       |  SELECT lang, count(*) AS n_sampled, min(doc_id) AS first_doc
       |  FROM sampled GROUP BY 1)
       |SELECT a.lang, a.n_sampled, a.first_doc, t.n_total
       |FROM agg a JOIN (SELECT lang, count(*) AS n_total FROM documents GROUP BY 1) t
       |  ON a.lang = t.lang
       |ORDER BY a.lang""".stripMargin

  // Fixed-SIZE per-group sampling (the distributed stand-in for
  // per-group reservoir sampling): rank docs within each language by a
  // content-free md5 and keep the k smallest — a uniform k-subset per
  // group, deterministic across runs/partitionings/engines, one window
  // pass. Complements q_stratified_sample's rate-based thinning: eval
  // and calibration sets want exactly-k per stratum, not a rate.
  val GroupSampleK = 20

  val qGroupSample: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("h").asc, col("doc_id").asc)
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"),
              Ops.md5Bits60(concat(col("doc_id").cast("string"), lit(":gs")))
                .as("h"))
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= GroupSampleK)
      .select(col("lang"), col("rn"), col("doc_id"))
      .orderBy(col("lang"), col("rn"))
  }

  val qGroupSampleSql: String =
    s"""WITH h AS (
       |  SELECT lang, doc_id,
       |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':gs'), 1, 15))::BIGINT AS h
       |  FROM documents),
       |r AS (
       |  SELECT lang, doc_id,
       |         CAST(row_number() OVER (PARTITION BY lang
       |                                 ORDER BY h ASC, doc_id ASC) AS BIGINT) AS rn
       |  FROM h)
       |SELECT lang, rn, doc_id FROM r WHERE rn <= $GroupSampleK
       |ORDER BY lang, rn""".stripMargin

  // ------------------------------------------------------------------
  // q_source_caps — per-source TOKEN-BUDGET allocation (the domain-cap
  // stage of crawl curation: no single domain/source may contribute
  // more than CapTokens tokens to the mix, the anti-over-representation
  // rule behind C4's and Gopher/MassiveWeb's per-domain limits). Docs
  // are admitted in a deterministic content-free priority order (md5 of
  // doc_id — a uniform shuffle that is identical cross-engine) until
  // the source's running token total would exceed the cap; a document
  // is kept only if it fits WHOLLY within the remaining budget (no
  // partial docs). Emits the per-source admission report: docs/tokens
  // kept vs offered, and the realized budget utilization.
  //
  // Scale shape: one window cumsum per source (source-keyed partitions
  // — the group-sample discipline; a pathologically hot source is
  // still one partition's sort, which is why the priority hash and
  // n_toks ride a SLIM projection, never text) + one source-keyed
  // rollup. Zero joins, zero pair work.
  // ------------------------------------------------------------------
  val CapTokens = 5000L

  val qSourceCaps: Q = (s, d) => sourceCaps(Tables.documents(s, d))

  /** Core of q_source_caps over any (doc_id, source, text) frame —
    * factored for the crafted-corpus spec (exact greedy-fit pins).
    */
  def sourceCaps(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(col("h").asc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("source"), col("doc_id"),
              size(Ops.tokens(col("text"))).cast("bigint").as("n_toks"),
              Ops.md5Bits60(concat(col("doc_id").cast("string"), lit(":cap")))
                .as("h"))
      .withColumn("cum", sum(col("n_toks")).over(w))
      // Greedy prefix admission: kept iff the running total INCLUDING
      // this doc fits the cap. Later (lower-priority) docs may still
      // fit a smaller remainder — greedy-prefix (not best-fit) is the
      // published domain-cap rule and keeps the pass one window.
      .withColumn("kept", when(col("cum") <= CapTokens, 1L).otherwise(0L))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_toks")).as("n_toks_offered"),
           sum(col("kept")).as("n_docs_kept"),
           sum(col("kept") * col("n_toks")).as("n_toks_kept"))
      .select(col("source"), col("n_docs"), col("n_toks_offered"),
              col("n_docs_kept"), col("n_toks_kept"),
              round(col("n_toks_kept").cast("double") / CapTokens.toDouble, 6)
                .as("budget_used"))
      .orderBy(col("source"))
  }

  val qSourceCapsSql: String =
    s"""WITH slim AS (
       |  SELECT source, doc_id,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
       |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':cap'),
       |                         1, 15))::BIGINT AS h
       |  FROM documents),
       |cum AS (
       |  SELECT source, doc_id, n_toks,
       |         SUM(n_toks) OVER (PARTITION BY source
       |                           ORDER BY h ASC, doc_id ASC
       |                           ROWS BETWEEN UNBOUNDED PRECEDING
       |                           AND CURRENT ROW) AS cum
       |  FROM slim),
       |adm AS (
       |  SELECT source, doc_id, n_toks,
       |         CASE WHEN cum <= $CapTokens THEN 1 ELSE 0 END AS kept
       |  FROM cum)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |       CAST(SUM(n_toks) AS BIGINT) AS n_toks_offered,
       |       CAST(SUM(kept) AS BIGINT) AS n_docs_kept,
       |       CAST(SUM(kept * n_toks) AS BIGINT) AS n_toks_kept,
       |       round(CAST(SUM(kept * n_toks) AS DOUBLE) / $CapTokens.0, 6)
       |         AS budget_used
       |FROM adm GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // q_gini_concentration — per-source Gini coefficient of document
  // token mass: how much of a source's token budget is concentrated
  // in a few giant documents. The mixture-design diagnostic next to
  // q_source_caps' admission view — a high-Gini source hits the
  // domain cap with a handful of docs (poor diversity per token),
  // while a low-Gini source spreads its budget. Uses the standard
  // rank formula over ascending sizes:
  //   G = (2·Σ rank·x − (n+1)·Σx) / (n·Σx)
  // which is tie-invariant (swapping equal x between adjacent ranks
  // leaves Σ rank·x unchanged), so no tiebreak can flip the result.
  //
  // Exactness: numerator and denominator are exact BIGINTs; the
  // emitted Gini is one IEEE division of identical integers on both
  // engines — no snapping (the lexical-diversity rule).
  //
  // Scale shape: the slim (source, doc_id, n_toks) projection through
  // ONE source-keyed window sort (text never enters the shuffle; the
  // q_source_caps shape), then a source-keyed rollup. At 100 TB the
  // window sorts each source's doc-size list — rows are 24 bytes, so
  // a billion-doc source sorts ~24 GB spread over its partitions.
  // ------------------------------------------------------------------
  val qGiniConcentration: Q = (s, d) => giniConcentration(Tables.documents(s, d))

  /** Core of q_gini_concentration over any (doc_id, source, text) frame. */
  def giniConcentration(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_toks").asc, col("doc_id").asc)
    docs
      .select(col("source"), col("doc_id"),
              size(Ops.tokens(col("text"))).cast("bigint").as("n_toks"))
      .withColumn("rk", row_number().over(w).cast("bigint"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("total_toks"),
           sum(col("rk") * col("n_toks")).as("srx"))
      .select(col("source"), col("n_docs"), col("total_toks"),
              ((lit(2L) * col("srx")
                  - (col("n_docs") + lit(1L)) * col("total_toks"))
                 .cast("double")
               / (col("n_docs") * col("total_toks")).cast("double"))
                .as("gini"))
      .orderBy(col("source"))
  }

  val qGiniConcentrationSql: String =
    """WITH slim AS (
      |  SELECT source, doc_id,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
      |  FROM documents),
      |ranked AS (
      |  SELECT source, n_toks,
      |         CAST(row_number() OVER (PARTITION BY source
      |                                 ORDER BY n_toks ASC, doc_id ASC)
      |              AS BIGINT) AS rk
      |  FROM slim),
      |agg AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |         CAST(SUM(n_toks) AS BIGINT) AS total_toks,
      |         CAST(SUM(rk * n_toks) AS BIGINT) AS srx
      |  FROM ranked GROUP BY 1)
      |SELECT source, n_docs, total_toks,
      |       CAST(2 * srx - (n_docs + 1) * total_toks AS DOUBLE)
      |         / CAST(n_docs * total_toks AS DOUBLE) AS gini
      |FROM agg ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // q_curriculum_order — GLOBAL training order by round-robin source
  // interleave, with NO global sort: the data-order stage after mixing
  // (every fine-tune/pre-train run wants maximal source interleaving so
  // no batch is a single-domain run). Each doc gets a within-source
  // rank (content-free md5 priority — a uniform deterministic shuffle,
  // the q_group_sample discipline), each source gets a dense index from
  // the BOUNDED distinct-source table, and the global position is
  //   pos = (rank−1)·n_sources + (source_idx−1)
  // — computed map-side from the rank + two broadcast scalars. Unequal
  // source sizes leave gaps in pos once short sources exhaust; the
  // ORDER is still total and interleaved, which is all a data loader
  // consumes. Emits the first CurriculumK positions.
  //
  // Scale shape: one source-partitioned window over a slim (source,
  // doc_id, h) projection; the source-index window runs on ≤|sources|
  // rows (the bounded-input exemption to the single-partition rule)
  // and broadcasts back; the final cut is orderBy().limit() →
  // TakeOrderedAndProject (≤K rows per partition cross the wire).
  // ------------------------------------------------------------------
  val CurriculumK = 40

  val qCurriculumOrder: Q = (s, d) => curriculumOrder(Tables.documents(s, d))

  /** Core of q_curriculum_order over any (doc_id, source) frame. */
  def curriculumOrder(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wSrc = Window.partitionBy(col("source"))
      .orderBy(col("h").asc, col("doc_id").asc)
    // Bounded: one row per source. The orderBy(source) window is a
    // single partition of ≤|sources| rows — the excusable case.
    // Non-foldable empty partition key (the q_textrank tail pattern):
    // same single bounded partition, no WindowExec all-to-one warning.
    val srcIdx = docs.select(col("source")).distinct()
      .withColumn("source_idx",
        row_number().over(Window.partitionBy(substring(col("source"), 1, 0))
          .orderBy(col("source")))
          .cast("bigint"))
    val nSrc = srcIdx.agg(count(lit(1)).as("n_sources"))
    docs
      .select(col("source"), col("doc_id"),
              Ops.md5Bits60(concat(col("doc_id").cast("string"), lit(":cur")))
                .as("h"))
      .withColumn("rn", row_number().over(wSrc).cast("bigint"))
      .join(broadcast(srcIdx), Seq("source"))
      .crossJoin(broadcast(nSrc))
      .select(((col("rn") - 1L) * col("n_sources") + col("source_idx") - 1L)
                .as("pos"),
              col("source"), col("doc_id"))
      .orderBy(col("pos").asc).limit(CurriculumK)
  }

  val qCurriculumOrderSql: String =
    s"""WITH slim AS (
       |  SELECT source, doc_id,
       |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':cur'),
       |                         1, 15))::BIGINT AS h
       |  FROM documents),
       |ranked AS (
       |  SELECT source, doc_id,
       |         CAST(row_number() OVER (PARTITION BY source
       |                                 ORDER BY h ASC, doc_id ASC)
       |              AS BIGINT) AS rn
       |  FROM slim),
       |sidx AS (
       |  SELECT source,
       |         CAST(row_number() OVER (ORDER BY source) AS BIGINT)
       |           AS source_idx
       |  FROM (SELECT DISTINCT source FROM documents)),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n_sources FROM sidx)
       |SELECT (r.rn - 1) * n.n_sources + s.source_idx - 1 AS pos,
       |       r.source, r.doc_id
       |FROM ranked r JOIN sidx s ON r.source = s.source CROSS JOIN n
       |ORDER BY pos ASC LIMIT $CurriculumK""".stripMargin

  // ------------------------------------------------------------------
  // q_pipeline_run — the END-TO-END CURATION RUN: every stage of a real
  // training-data preparation composed into one lineage-accounted pass,
  // emitting the per-stage doc/token attrition table a curation run is
  // actually judged by ("raw 60k docs / 3.1M tokens → 54k after
  // benchmark quarantine → 31k after quality → ... → 412 sequences").
  // Stages, each reusing the EXACT operator the standalone registry row
  // ships (shared code, not re-implementations — the two can never
  // drift):
  //   0_raw          — the corpus as scanned
  //   1_quarantine   — benchmark docs (doc_id % 50 == 0, the
  //                    q_contamination eval set) removed from the
  //                    trainable pool: eval data is never trained on
  //   2_quality      — TextOps.funnelStage first-failing-rule gate,
  //                    keep '5_pass' (q_filter_funnel's rules)
  //   3_exact_dedup  — keep min doc_id per normalized-text md5
  //                    (q_fingerprint / q_training_pipeline rule)
  //   4_near_dedup   — blocking-key component labels over the exact
  //                    survivors (Corpus.clusterLabelsOf), keep the
  //                    component-minimum doc
  //   5_decontam     — drop survivors sharing ANY df-capped word-5-gram
  //                    with the quarantined benchmark (q_contamination's
  //                    capped gram join, threshold = 1 shared gram)
  //   6_source_caps  — greedy per-source token budget (q_source_caps'
  //                    window, CapTokens)
  //   7_pack         — q_pack_sequences' shard-and-fill over the final
  //                    pool; reports the packed-sequence count
  //
  // Scale shape: each stage is the standalone operator's plan (all
  // individually audited). Each stage pool is checkpointed once, in
  // order (it feeds the next stage), and its (n_docs, n_tokens) row is
  // observed on that same checkpoint, so the stage rows are a local
  // relation: counting adds no scan and no job. The report's only
  // corpus-sized work is the pack count over the final pool; the 8-row
  // lag window is a bounded final. A production 100 TB run would
  // checkpoint each pool to the cluster filesystem instead
  // (spark.graft.checkpoint.dir, or the durable chain below), which
  // also gives restartability between stages.
  // ------------------------------------------------------------------
  val qPipelineRun: Q = (s, d) => pipelineRun(Tables.documents(s, d))

  private[graft] val StageNames = Seq("0_raw", "1_quarantine", "2_quality",
    "3_exact_dedup", "4_near_dedup", "5_decontam", "6_source_caps")

  /** The documents-shaped input projected to the run's working columns
    * — stage 0's pool.
    */
  private[graft] def rawPool(docsIn: DataFrame): DataFrame =
    docsIn.select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
                  col("text"),
                  size(Ops.tokens(col("text"))).cast("bigint").as("n_toks"))

  /** In-pool exact collapse: keep the min doc_id per normalized-text md5
    * (q_fingerprint / q_training_pipeline rule). The md5 stays on as
    * `fpr`: the stream keys its admitted-hash ledger on it.
    */
  private[graft] def exactCollapse(pool: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    pool
      .withColumn("fpr", md5(Ops.normalizeText(col("text"))))
      .withColumn("min_id", min(col("doc_id")).over(Window.partitionBy(col("fpr"))))
      .filter(col("doc_id") === col("min_id"))
      .drop("min_id")
  }

  /** One stage transition: the survivor pool of `stage` from the
    * previous pool. `bench` is the quarantined benchmark slice the
    * decontamination stage screens against; `hotGrams` replaces that
    * stage's in-pool hot-gram set (the stream passes a precomputed
    * corpus-wide one). Each case is the standalone registry operator's
    * rule (shared code, see the q_pipeline_run note above), factored
    * per-stage so the in-memory chain, the checkpointed restartable
    * chain and PipelineStream can never drift. The stream keeps its own
    * caps stage: its ledger offset sits inside the cap filter.
    */
  private[graft] def stageStep(stage: String, prev: DataFrame, bench: DataFrame,
                               hotGrams: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    stage match {
      case "1_quarantine" => prev.filter(col("doc_id") % 50 =!= 0)
      case "2_quality" => prev.filter(TextOps.funnelStage === "5_pass")
      case "3_exact_dedup" => exactCollapse(prev).drop("fpr")
      case "4_near_dedup" =>
        prev.join(Corpus.clusterLabelsOf(prev)
                    .filter(col("label") === col("doc_id"))
                    .select(col("doc_id")),
                  Seq("doc_id"))
      case "5_decontam" =>
        val survGrams = prev.select(col("doc_id"),
          explode(Ops.shingles(Ops.tokens(col("text")), Corpus.ContamN))
            .as("gram"))
        val benchGrams = bench.select(
            explode(Ops.shingles(Ops.tokens(col("text")), Corpus.ContamN))
              .as("gram"))
          .distinct()
        // Semi against the (small) benchmark FIRST, then anti against
        // the (tiny Zipf-head) hot set: survivor postings only ever
        // meet broadcastable sides, so the decontamination stage adds
        // no postings-sized shuffle — only the hot set's slim df
        // partials.
        val contaminated = survGrams
          .join(benchGrams, Seq("gram"), "left_semi")
          .join(hotGrams.getOrElse(Corpus.hotGrams(survGrams)), Seq("gram"),
                "left_anti")
          .select(col("doc_id")).distinct()
        prev.join(contaminated, Seq("doc_id"), "left_anti")
      case "6_source_caps" =>
        val wcap = Window.partitionBy(col("source"))
          .orderBy(col("h").asc, col("doc_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        prev
          .withColumn("h",
            Ops.md5Bits60(concat(col("doc_id").cast("string"), lit(":cap"))))
          .withColumn("cum", sum(col("n_toks")).over(wcap))
          .filter(col("cum") <= CapTokens)
          .drop("h", "cum")
    }
  }

  /** The benchmark slice of the raw pool (the quarantine's complement). */
  private def benchmarkOf(d0: DataFrame): DataFrame = d0.filter(col("doc_id") % 50 === 0)

  /** A stage pool with its (n_docs, n_tokens). */
  private[graft] final case class Counted(pool: DataFrame, docs: Long, tokens: Long)

  /** Materialize a stage pool — one checkpoint — and observe its
    * (n_docs, n_tokens) on that same checkpoint. The one stage count of
    * both planes (stagePools here, PipelineStream.ingestBatch).
    *
    * The observation is the pool's top operator, so it runs in the
    * result stage of the checkpoint job, with no exchange between it
    * and the checkpoint root: Spark applies a result task's accumulator
    * update once per partition, where a shuffle-map task's update is
    * applied again when its stage is resubmitted, so the count stays
    * exact under executor loss.
    */
  private[graft] def observedPool(pool: DataFrame): Counted = {
    val (out, row) = graft.PlanMode.checkpointObserved(pool,
      Seq(count(lit(1)), coalesce(sum(col("n_toks")), lit(0L))))
    Counted(out, row.getLong(0), row.getLong(1))
  }

  /** The shared stage-pool chain, each pool counted on its checkpoint.
    *
    * checkpointTail, not persist (round-15): with lazy persist the
    * whole chain first materializes inside the report's one action,
    * where AQE runs the independent attrition/stage branches as
    * CONCURRENT stage-jobs — branches race the unfilled caches, re-scan
    * the input (profiled: repeated full documents reads per branch) and
    * re-optimize the ever-deeper chained plan under every stage-job.
    * Eager checkpoint materializes each pool exactly once, in order,
    * and every consumer — including stage k+1 and the per-source grid —
    * plans against a flat leaf. Same rows per pool by construction.
    */
  private[graft] def stagePools(docsIn: DataFrame): Seq[(String, Counted)] = {
    val d0 = observedPool(rawPool(docsIn))
    val bench = benchmarkOf(d0.pool)
    StageNames.tail.scanLeft("0_raw" -> d0) { case ((_, prev), stage) =>
      stage -> observedPool(stageStep(stage, prev.pool, bench))
    }
  }

  /** The attrition table of the in-memory chain: its observed stage
    * rows are a local relation, no scan and no job.
    */
  private def observedTail(pools: Seq[(String, Counted)]): DataFrame = {
    val pack = pools.last._2.pool
    attritionTail(pack.sparkSession
      .createDataFrame(pools.map { case (st, c) => (st, c.docs, c.tokens) })
      .toDF("stage", "n_docs", "n_tokens"), pack)
  }

  /** The attrition table — (stage, n_docs, n_tokens, docs_dropped,
    * tokens_dropped, n_seqs) — from per-stage (stage, n_docs, n_tokens)
    * rows plus the pack pool, the final stage's (doc_id, n_toks): the
    * one tail of the in-memory chain (observed rows), the checkpointed
    * restartable chain (rows read back from its slim pools) and
    * PipelineStream.attritionView (rows folded from its ledger).
    * Packing drops nothing, so the 7_pack row carries the pool mass of
    * the row before it and its packed-sequence count.
    */
  private[graft] def attritionTail(rows: DataFrame, packPool: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wpack = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val packRow = packPool
      .select(col("doc_id"),
              (Ops.md5Bits60(col("doc_id").cast("string"))
                 % Corpus.NumShards).as("shard"),
              col("n_toks"))
      .withColumn("cum_before",
        coalesce(sum(col("n_toks")).over(wpack), lit(0L)))
      .select(col("shard"), expr(s"cum_before DIV ${Corpus.SeqLen}").as("seq_id"))
      .distinct()
      .agg(count(lit(1)).as("n_seqs"))
      .select(lit("7_pack").as("stage"), lit(null).cast("bigint").as("n_docs"),
              lit(null).cast("bigint").as("n_tokens"), col("n_seqs"))
    // 8 fixed rows: the lag window's single partition is bounded by
    // construction (docs/PLANS.md global-final rule), and it arrives
    // sorted on stage, so the presentation sort adds no exchange.
    val wlag = Window.orderBy(col("stage"))
    val prevDocs = lag(col("n_docs"), 1).over(wlag)
    val prevToks = lag(col("n_tokens"), 1).over(wlag)
    rows.select(col("stage"), col("n_docs"), col("n_tokens"), lit(0L).as("n_seqs"))
      .unionByName(packRow)
      .select(col("stage"),
              coalesce(col("n_docs"), prevDocs).as("n_docs"),
              coalesce(col("n_tokens"), prevToks).as("n_tokens"),
              coalesce(prevDocs - col("n_docs"), lit(0L)).as("docs_dropped"),
              coalesce(prevToks - col("n_tokens"), lit(0L)).as("tokens_dropped"),
              col("n_seqs"))
      .filter(col("n_docs").isNotNull) // no stage rows, no pack row
      .orderBy(col("stage"))
  }

  /** The composed run over any documents-shaped frame (doc_id, source,
    * lang, n_chars, text) — factored for stage-invariant specs. Only
    * the final pool is read by the returned frame, so the others are
    * released here.
    */
  private[graft] def pipelineRun(docsIn: DataFrame): DataFrame = {
    val pools = stagePools(docsIn)
    pools.init.foreach(p => graft.PlanMode.release(p._2.pool))
    observedTail(pools)
  }

  // ------------------------------------------------------------------
  // q_pipeline_by_source — the curation run's attrition PER SOURCE:
  // the lineage table a mixture designer actually reads ("source X
  // loses 60% of its mass at the quality gate; source Y survives
  // everything but the cap"). Same stage pools as q_pipeline_run
  // (shared stagePools — the two can never disagree), grouped by
  // source with a dense (source × stage) grid so zeroed-out sources
  // keep their rows and the per-source lag accounting stays exact.
  //
  // Scale shape: per stage, one partial-agg groupBy(source) to
  // O(sources) rows; the grid fill and lag window run on the
  // O(sources × 7) report — bounded finals per docs/PLANS.md.
  // ------------------------------------------------------------------
  val qPipelineBySource: Q = (s, d) => pipelineBySource(Tables.documents(s, d))

  /** Per-source attrition tail over the stage pools — the
    * q_pipeline_by_source report shape.
    */
  private def bySourceAttritionTail(counted: Seq[(String, Counted)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pools = counted.map { case (st, c) => st -> c.pool }
    val perStage = pools.map { case (name, p) =>
      p.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
             coalesce(sum(col("n_toks")), lit(0L)).as("n_tokens"))
        .select(col("source"), lit(name).as("stage"),
                col("n_docs"), col("n_tokens"))
    }.reduce(_.unionByName(_))
    val stageNames = pools.map(_._1)
    val stageDf = pools.head._2.sparkSession.range(1)
      .select(explode(array(stageNames.map(lit): _*)).as("stage"))
    val grid = pools.head._2.select(col("source")).distinct()
      .crossJoin(stageDf)
    val filled = grid.join(perStage, Seq("source", "stage"), "left")
      .na.fill(0L, Seq("n_docs", "n_tokens"))
    val wlag = Window.partitionBy(col("source")).orderBy(col("stage"))
    filled
      .withColumn("docs_dropped",
        coalesce(lag(col("n_docs"), 1).over(wlag) - col("n_docs"), lit(0L)))
      .withColumn("tokens_dropped",
        coalesce(lag(col("n_tokens"), 1).over(wlag) - col("n_tokens"),
                 lit(0L)))
      .select(col("source"), col("stage"), col("n_docs"), col("n_tokens"),
              col("docs_dropped"), col("tokens_dropped"))
      .orderBy(col("source"), col("stage"))
  }

  private[graft] def pipelineBySource(docsIn: DataFrame): DataFrame =
    bySourceAttritionTail(stagePools(docsIn))

  /** BOTH curation reports — the global attrition table
    * (q_pipeline_run's shape) and the per-source lineage grid
    * (q_pipeline_by_source's shape) — from ONE materialization of the
    * stage-pool chain. The registry rows stay independent (the driver
    * times queries in isolation), but a library caller wanting both
    * reports pays the chain once here, not twice: all three entry
    * points share stagePools and the two tails, so they can never
    * disagree.
    */
  def pipelineReport(docsIn: DataFrame): (DataFrame, DataFrame) = {
    val pools = stagePools(docsIn)
    val global = graft.PlanMode.checkpointTail(observedTail(pools))
    val bySource = graft.PlanMode.checkpointTail(bySourceAttritionTail(pools))
    pools.foreach(p => graft.PlanMode.release(p._2.pool))
    (global, bySource)
  }

  // ------------------------------------------------------------------
  // Checkpointed, RESTARTABLE curation run — the production posture for
  // a 100 TB corpus: each stage's survivor pool is written DURABLY (to
  // the cluster filesystem in production; any Hadoop-FS path here) and
  // a rerun over the same directory resumes at the first stage whose
  // checkpoint is missing, instead of holding seven corpus-scale pools
  // hostage to executor storage for the length of the run.
  //
  // Checkpoints are SLIM — (doc_id, source, n_toks), no text — because
  // (a) both attrition tails need only those columns, and (b) stages
  // that need text to compute (quality, dedup keys, grams) reconstruct
  // their input pool by an id semi-join against the raw corpus, so the
  // durable footprint is O(ids) per stage, not O(corpus text) × 7.
  // Commit is Spark's own _SUCCESS marker: a stage killed mid-write
  // leaves no marker and is recomputed on resume — torn output is
  // overwritten, never read.
  // ------------------------------------------------------------------
  private def slim(pool: DataFrame): DataFrame =
    pool.select(col("doc_id"), col("source"), col("n_toks"))

  private def stageDir(ckptDir: String, stage: String) = s"$ckptDir/$stage"

  private def stageDone(spark: org.apache.spark.sql.SparkSession,
                        dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Materialize stage checkpoints 0..`upTo` (inclusive, indexes into
    * StageNames), computing only the stages whose `_SUCCESS` marker is
    * missing — completed stages are never recomputed OR rewritten.
    * Factored from pipelineRunCheckpointed so the restart spec can
    * simulate a run killed between stages.
    */
  private[graft] def materializeStages(docsIn: DataFrame, ckptDir: String,
                                       upTo: Int): Unit = {
    val spark = docsIn.sparkSession
    // Eager checkpoint per pool here too (round 15): it ADDS one
    // materialization job per stage before the slim write, but the
    // write action then plans against a leaf instead of re-optimizing
    // (and partially recomputing) the whole chained plan — measured
    // 8.1 s / 28.7 cpu-s with persist vs 5.3 s / 2.3 cpu-s checkpointed.
    val d0 = graft.PlanMode.checkpointTail(rawPool(docsIn))
    val bench = benchmarkOf(d0)
    // Walk forward keeping the latest in-memory pool only where the
    // next stage needs computing; a completed stage's pool is
    // reconstructed lazily (id semi-join against d0) ONLY if a later
    // incomplete stage needs it as input.
    var prev: Option[DataFrame] = None // full (with-text) pool of stage i-1
    StageNames.take(upTo + 1).zipWithIndex.foreach { case (stage, i) =>
      val dir = stageDir(ckptDir, stage)
      if (!stageDone(spark, dir)) {
        val pool =
          if (i == 0) d0
          else {
            val input = prev.getOrElse {
              // Resume point: rebuild the previous stage's full pool
              // from its slim checkpoint — one id semi-join.
              val prevIds = spark.read
                .parquet(stageDir(ckptDir, StageNames(i - 1)))
                .select(col("doc_id"))
              d0.join(prevIds, Seq("doc_id"), "left_semi")
            }
            graft.PlanMode.checkpointTail(stageStep(stage, input, bench))
          }
          slim(pool).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(dir)
        prev.filter(_ ne d0).foreach(graft.PlanMode.release)
        prev = Some(pool)
      } else {
        prev.filter(_ ne d0).foreach(graft.PlanMode.release)
        prev = None // next incomplete stage reconstructs from the ckpt
      }
    }
    prev.filter(_ ne d0).foreach(graft.PlanMode.release)
    graft.PlanMode.release(d0)
  }

  /** The restartable curation run: completes any missing stage
    * checkpoints under `ckptDir`, then computes the SAME attrition
    * table as pipelineRun from the durable slim pools (shared tail —
    * hash-identical by construction). Kill it at any point and call it
    * again with the same directory: completed stages are skipped. A
    * resumed run never computed the stages it reads back, so their
    * rows come from one groupBy(stage) over the union of the slim
    * pools; one null row per stage keeps an empty pool's row at zero.
    */
  def pipelineRunCheckpointed(docsIn: DataFrame, ckptDir: String): DataFrame = {
    materializeStages(docsIn, ckptDir, StageNames.length - 1)
    val spark = docsIn.sparkSession
    val pools = StageNames.map(st => spark.read.parquet(stageDir(ckptDir, st))
      .select(lit(st).as("stage"), col("doc_id"), col("n_toks")))
    val rows = pools.reduce(_.unionByName(_))
      .unionByName(spark.createDataFrame(StageNames.map(Tuple1(_))).toDF("stage")
        .select(col("stage"), lit(null).cast("bigint").as("doc_id"),
                lit(null).cast("bigint").as("n_toks")))
      .groupBy(col("stage"))
      .agg(count(col("doc_id")).as("n_docs"),
           coalesce(sum(col("n_toks")), lit(0L)).as("n_tokens"))
    attritionTail(rows, pools.last)
  }

  /** Registry face of the restartable run: a fresh checkpoint dir per
    * invocation under java.io.tmpdir (the q_kv_latest pattern), so the
    * DuckDB oracle — identical to q_pipeline_run's — checks the durable
    * path end to end: stage parquet round-trips, resume-shape reads,
    * and the shared attrition tail over read-back slim pools.
    *
    * REGISTRY-CONVENTION EXCEPTION (documented, deliberate): this row
    * executes at construction — materializeStages writes the stage
    * checkpoints and the 8-row tail is eagerly localCheckpointed —
    * because durability IS the semantics under test; a lazy wrapper
    * would reorder the stage writes out of the timed window.
    * `graft.Probe` reports the stage writes and the tail's checkpoint
    * as executions of this query.
    *
    * The scratch dir embeds a sanitized sfDir slug AND the JVM pid:
    * two concurrent drivers on one box (Bench + Verify, or two users)
    * must never race one another's stage writes against this fresh-run
    * delete, and distinct sfDirs must never collide (a bare hashCode
    * could). Cleanup happens in `finally` once the tail rows are
    * materialized, so repeated Verify/Bench runs leave no parquet
    * residue accumulating under /tmp.
    */
  val qPipelineCheckpointed: Q = (s, d) => {
    val slug = d.replaceAll("[^A-Za-z0-9._-]", "_").takeRight(64)
    val pid = ProcessHandle.current().pid()
    // Scratch root is conf-addressable (spark.graft.scratchDir): on a
    // real cluster executors don't share /tmp, so stage files must land
    // on a cluster FS. Default resolves to java.io.tmpdir — unchanged.
    val dir = s"${graft.GraftConf.scratchDir(s)}/graft_pipeline_ckpt_${slug}_p$pid"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    try graft.PlanMode.checkpointTail(
      pipelineRunCheckpointed(Tables.documents(s, d), dir))
    finally fs.delete(p, true)
  }

  /** Shared oracle CTE chain through pool6 — one definition for the
    * global and the per-source attrition tails.
    */
  private val pipelineCtes: String = {
    val shingleList =
      s"""list_distinct(list_transform(
         |      range(greatest(len(string_split(text, ' ')) - ${Corpus.ContamN - 1}, 1)),
         |      i -> array_to_string(string_split(text, ' ')[i+1:i+${Corpus.ContamN}], ' ')))""".stripMargin
    s"""WITH RECURSIVE d0 AS (
       |  SELECT doc_id, source, lang, n_chars, text,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
       |  FROM documents),
       |pool1 AS (SELECT * FROM d0 WHERE doc_id % 50 <> 0),
       |pool2 AS (
       |  SELECT * FROM pool1
       |  WHERE (${TextOps.funnelStageSqlExpr}) = '5_pass'),
       |pool3 AS (
       |  SELECT * FROM (
       |    SELECT *,
       |           md5(lower(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')))
       |             AS fpr
       |    FROM pool2)
       |  QUALIFY doc_id = min(doc_id) OVER (PARTITION BY fpr)),
       |${Corpus.clusterCtesFrom("pool3")},
       |pool4 AS (
       |  SELECT p.* FROM pool3 p JOIN comp c ON c.doc_id = p.doc_id
       |  WHERE c.component_id = p.doc_id),
       |sg AS (
       |  SELECT doc_id, unnest(grams) AS gram FROM (
       |    SELECT doc_id, $shingleList AS grams FROM pool4)),
       |sgc AS (
       |  SELECT doc_id, gram FROM sg
       |  QUALIFY count(*) OVER (PARTITION BY gram) <= ${Corpus.ContamMaxDf}),
       |bg AS (
       |  SELECT DISTINCT gram FROM (
       |    SELECT unnest(grams) AS gram FROM (
       |      SELECT $shingleList AS grams FROM d0 WHERE doc_id % 50 = 0))),
       |contam AS (SELECT DISTINCT s.doc_id FROM sgc s JOIN bg USING (gram)),
       |pool5 AS (
       |  SELECT * FROM pool4
       |  WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
       |pool6 AS (
       |  SELECT * FROM (
       |    SELECT *,
       |           SUM(n_toks) OVER (
       |             PARTITION BY source
       |             ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)
       |                                          || ':cap'), 1, 15))::BIGINT ASC,
       |                      doc_id ASC
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |    FROM pool5)
       |  WHERE cum <= $CapTokens)""".stripMargin
  }

  // NOTE: pipelineCtes is concatenated, never interpolated into a
  // stripMargin literal — a second stripMargin pass would eat one pipe
  // of its `||` continuation lines.
  val qPipelineRunSql: String = pipelineCtes + ",\n" +
    s"""packed AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_seqs FROM (
       |    SELECT DISTINCT shard, cum_before // ${Corpus.SeqLen} AS seq_id FROM (
       |      SELECT shard,
       |             COALESCE(SUM(n_toks) OVER (PARTITION BY shard ORDER BY doc_id
       |                        ROWS BETWEEN UNBOUNDED PRECEDING
       |                        AND 1 PRECEDING), 0) AS cum_before
       |      FROM (SELECT doc_id,
       |                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
       |                     % ${Corpus.NumShards} AS shard,
       |                   n_toks
       |            FROM pool6)))),
       |stages AS (
       |  SELECT '0_raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(COALESCE(SUM(n_toks), 0) AS BIGINT) AS n_tokens FROM d0
       |  UNION ALL SELECT '1_quarantine', CAST(count(*) AS BIGINT),
       |         CAST(COALESCE(SUM(n_toks), 0) AS BIGINT) FROM pool1
       |  UNION ALL SELECT '2_quality', CAST(count(*) AS BIGINT),
       |         CAST(COALESCE(SUM(n_toks), 0) AS BIGINT) FROM pool2
       |  UNION ALL SELECT '3_exact_dedup', CAST(count(*) AS BIGINT),
       |         CAST(COALESCE(SUM(n_toks), 0) AS BIGINT) FROM pool3
       |  UNION ALL SELECT '4_near_dedup', CAST(count(*) AS BIGINT),
       |         CAST(COALESCE(SUM(n_toks), 0) AS BIGINT) FROM pool4
       |  UNION ALL SELECT '5_decontam', CAST(count(*) AS BIGINT),
       |         CAST(COALESCE(SUM(n_toks), 0) AS BIGINT) FROM pool5
       |  UNION ALL SELECT '6_source_caps', CAST(count(*) AS BIGINT),
       |         CAST(COALESCE(SUM(n_toks), 0) AS BIGINT) FROM pool6
       |  UNION ALL SELECT '7_pack', CAST(count(*) AS BIGINT),
       |         CAST(COALESCE(SUM(n_toks), 0) AS BIGINT) FROM pool6),
       |lagged AS (
       |  SELECT stage, n_docs, n_tokens,
       |         CAST(COALESCE(LAG(n_docs) OVER (ORDER BY stage) - n_docs, 0)
       |              AS BIGINT) AS docs_dropped,
       |         CAST(COALESCE(LAG(n_tokens) OVER (ORDER BY stage) - n_tokens, 0)
       |              AS BIGINT) AS tokens_dropped
       |  FROM stages)
       |SELECT l.stage, l.n_docs, l.n_tokens, l.docs_dropped, l.tokens_dropped,
       |       CAST(CASE WHEN l.stage = '7_pack' THEN p.n_seqs ELSE 0 END
       |            AS BIGINT) AS n_seqs
       |FROM lagged l CROSS JOIN packed p
       |ORDER BY l.stage""".stripMargin

  val qPipelineBySourceSql: String = {
    val stageVals = Seq("0_raw", "1_quarantine", "2_quality",
      "3_exact_dedup", "4_near_dedup", "5_decontam", "6_source_caps")
      .map(s => s"('$s')").mkString(", ")
    val perPool = Seq("d0" -> "0_raw", "pool1" -> "1_quarantine",
      "pool2" -> "2_quality", "pool3" -> "3_exact_dedup",
      "pool4" -> "4_near_dedup", "pool5" -> "5_decontam",
      "pool6" -> "6_source_caps")
      .map { case (cte, st) =>
        s"""  SELECT source, '$st' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
           |         CAST(COALESCE(SUM(n_toks), 0) AS BIGINT) AS n_tokens
           |  FROM $cte GROUP BY 1""".stripMargin
      }.mkString("\n  UNION ALL\n")
    pipelineCtes + ",\n" +
    s"""per AS (
       |$perPool),
       |grid AS (
       |  SELECT s.source, v.stage
       |  FROM (SELECT DISTINCT source FROM d0) s
       |  CROSS JOIN (SELECT * FROM (VALUES $stageVals) AS t(stage)) v),
       |filled AS (
       |  SELECT g.source, g.stage,
       |         COALESCE(p.n_docs, 0) AS n_docs,
       |         COALESCE(p.n_tokens, 0) AS n_tokens
       |  FROM grid g LEFT JOIN per p
       |    ON p.source = g.source AND p.stage = g.stage)
       |SELECT source, stage, n_docs, n_tokens,
       |       CAST(COALESCE(LAG(n_docs) OVER (PARTITION BY source
       |                                       ORDER BY stage) - n_docs, 0)
       |            AS BIGINT) AS docs_dropped,
       |       CAST(COALESCE(LAG(n_tokens) OVER (PARTITION BY source
       |                                         ORDER BY stage) - n_tokens, 0)
       |            AS BIGINT) AS tokens_dropped
       |FROM filled ORDER BY source, stage""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q_curriculum_order"   -> qCurriculumOrder,
    "q_gini_concentration" -> qGiniConcentration,
    "q_pipeline_run"      -> qPipelineRun,
    "q_pipeline_by_source" -> qPipelineBySource,
    "q_pipeline_checkpointed" -> qPipelineCheckpointed,
    "q_training_pipeline" -> qTrainingPipeline,
    "q_stratified_sample" -> qStratifiedSample,
    "q_group_sample"      -> qGroupSample,
    "q_source_caps"       -> qSourceCaps,
  )
  val oracles: Map[String, String] = Map(
    "q_curriculum_order"   -> qCurriculumOrderSql,
    "q_gini_concentration" -> qGiniConcentrationSql,
    "q_pipeline_run"      -> qPipelineRunSql,
    "q_pipeline_by_source" -> qPipelineBySourceSql,
    "q_pipeline_checkpointed" -> qPipelineRunSql,
    "q_training_pipeline" -> qTrainingPipelineSql,
    "q_stratified_sample" -> qStratifiedSampleSql,
    "q_group_sample"      -> qGroupSampleSql,
    "q_source_caps"       -> qSourceCapsSql,
  )
}
