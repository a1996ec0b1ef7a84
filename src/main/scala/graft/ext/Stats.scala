package graft.ext

import graft.Tables
import graft.ops.Ops
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 distributional-statistics operators: the rank-based and
  * change-detection panel a corpus/telemetry pipeline runs on top of the
  * drift tests already in [[Corpus]] (KS, Mann–Whitney, JSD) and the
  * monitoring smoothers in [[Sessions]] (EWMA, Fano).
  *
  * House disciplines carried over:
  *  - ranks/medians NEVER go through a corpus-cardinality window: every
  *    rank is derived from a value HISTOGRAM (support-bounded) with a
  *    group-keyed cumulative sum, then joined back — the q_ks_test /
  *    q_perplexity_buckets funnel;
  *  - exactness by integer carriers: average ranks in half-units
  *    (2·rank is always integral under the tie convention), medians in
  *    half-units, MADs in quarter-units, money in cents — doubles appear
  *    only in a final expression over identical BIGINTs on both engines;
  *  - daily-series work is calendar-bounded after one partial-agg
  *    shuffle (the q_burstiness shape).
  */
object Stats {
  type Q = (SparkSession, String) => DataFrame

  // ------------------------------------------------------------------
  // q_spearman — per-source Spearman rank correlation (average-rank tie
  // convention) between a document's token count and its DISTINCT token
  // count: the monotone-association audit between raw length and
  // vocabulary breadth that complements q_corr_stats' Pearson (Spearman
  // is what a pipeline health check wants on heavy-tailed doc metrics —
  // outlier-robust, scale-free).
  //
  // Average ranks without a global sort: within a source, a value v
  // with count c and F predecessors has average rank F + (c+1)/2, so
  // 2·rank = 2F + c + 1 is ALWAYS integral — ranks are carried in
  // half-units as BIGINTs end-to-end. ρ is then the Pearson formula
  // over the half-unit ranks (invariant to the common ×2 scaling),
  // assembled in ONE double expression over identical BIGINTs on both
  // engines — bit-identical, no snapping.
  //
  // Scale shape: docs collapse to (source, value) histograms in one
  // partial-agg shuffle per axis; cumulative counts run source-keyed
  // over the support-bounded histogram; ranks join back on
  // (source, value); the moment rollup is source-keyed. Nothing
  // corpus-cardinality past the first aggregate.
  // ------------------------------------------------------------------
  val qSpearman: Q = (s, d) => spearman(Tables.documents(s, d))

  /** Core of q_spearman over any (source, text) frame. */
  def spearman(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Ops.tokens(col("text"))
    val perDoc = docs.select(
      col("source"), col("doc_id"),
      size(toks).cast("bigint").as("x"),
      size(array_distinct(toks)).cast("bigint").as("y"))
    // Half-unit average rank of one axis: (source, value, rank2).
    def ranks2(axis: String): DataFrame = {
      val hist = perDoc.groupBy(col("source"), col(axis).as("v"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("source")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hist.withColumn("cum", sum(col("c")).over(w))
        .select(col("source"), col("v").as(axis),
                (lit(2L) * (col("cum") - col("c")) + col("c") + 1L)
                  .as(s"r$axis"))
    }
    val ranked = perDoc
      .join(ranks2("x"), Seq("source", "x"))
      .join(ranks2("y"), Seq("source", "y"))
    val m = ranked.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("rx")).as("sx"), sum(col("ry")).as("sy"),
           sum(col("rx") * col("rx")).as("sxx"),
           sum(col("ry") * col("ry")).as("syy"),
           sum(col("rx") * col("ry")).as("sxy"))
    def dbl(c: String) = col(c).cast("double")
    m.select(col("source"), col("n_docs"),
        ((dbl("n_docs") * dbl("sxy") - dbl("sx") * dbl("sy"))
           / sqrt((dbl("n_docs") * dbl("sxx") - dbl("sx") * dbl("sx"))
                    * (dbl("n_docs") * dbl("syy") - dbl("sy") * dbl("sy"))))
          .as("rho"))
      .orderBy(col("source"))
  }

  val qSpearmanSql: String =
    """WITH perdoc AS (
      |  SELECT source, doc_id,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS x,
      |         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
      |           AS y
      |  FROM documents),
      |hx AS (SELECT source, x AS v, count(*) AS c FROM perdoc GROUP BY 1, 2),
      |rx AS (
      |  SELECT source, v AS x,
      |         2 * (SUM(c) OVER (PARTITION BY source ORDER BY v
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c)
      |           + c + 1 AS rx
      |  FROM hx),
      |hy AS (SELECT source, y AS v, count(*) AS c FROM perdoc GROUP BY 1, 2),
      |ry AS (
      |  SELECT source, v AS y,
      |         2 * (SUM(c) OVER (PARTITION BY source ORDER BY v
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c)
      |           + c + 1 AS ry
      |  FROM hy),
      |m AS (
      |  SELECT p.source, CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(SUM(rx) AS BIGINT) AS sx, CAST(SUM(ry) AS BIGINT) AS sy,
      |         CAST(SUM(rx * rx) AS BIGINT) AS sxx,
      |         CAST(SUM(ry * ry) AS BIGINT) AS syy,
      |         CAST(SUM(rx * ry) AS BIGINT) AS sxy
      |  FROM perdoc p
      |  JOIN rx ON rx.source = p.source AND rx.x = p.x
      |  JOIN ry ON ry.source = p.source AND ry.y = p.y
      |  GROUP BY 1)
      |SELECT source, n_docs,
      |       (CAST(n_docs AS DOUBLE) * CAST(sxy AS DOUBLE)
      |          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |         / sqrt((CAST(n_docs AS DOUBLE) * CAST(sxx AS DOUBLE)
      |                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |                * (CAST(n_docs AS DOUBLE) * CAST(syy AS DOUBLE)
      |                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
      |         AS rho
      |FROM m ORDER BY source""".stripMargin

  // ------------------------------------------------------------------
  // q_robust_zscore — per-source median / MAD location-scale summary of
  // the per-document token count, with a |z| > 3 outlier census under
  // the Gaussian-consistent MAD scaling (1.4826·MAD ≈ σ). The
  // robust-statistics companion to q_anomaly_days' mean/stddev z-score:
  // median/MAD don't move when the tail does, which is exactly what a
  // corpus-quality length filter needs.
  //
  // Exactness: median in HALF-units (m2 = v⌈n/2⌉ + v⌈(n+1)/2⌉ over the
  // cumulative histogram — both order statistics integral), absolute
  // deviations in half-units, their median (the MAD) in QUARTER-units —
  // all BIGINT. The published doubles divide those integers by 2/4; the
  // outlier predicate |2·(2x − m2)| > 3·1.4826·mad4 is evaluated in
  // identical double arithmetic on both engines.
  //
  // Scale shape: two histogram funnels (values, then deviations), each
  // source-keyed cumulative over support-bounded rows; the cut ranks
  // come from a per-source conditional-min aggregate (1 row per
  // source); the census joins docs back on source. Never
  // corpus-cardinality past the first aggregate.
  // ------------------------------------------------------------------
  val qRobustZscore: Q = (s, d) => robustZscore(Tables.documents(s, d))

  /** Median in CARRIER×2 units of `v` grouped by source, via the
    * cumulative-histogram funnel: returns (source, m2).
    */
  private def median2(perSrc: DataFrame, v: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = perSrc.groupBy(col("source"), col(v).as("v"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("source")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("c")).over(w))
    val tot = perSrc.groupBy(col("source")).agg(count(lit(1)).as("n"))
    cum.join(tot, Seq("source"))
      .groupBy(col("source"))
      // expr(... div ...): Column./ is DOUBLE division in Spark — the
      // rank cuts must be integer (the oracle's `//`).
      .agg((min(when(col("cum") >= expr("(n + 1) div 2"), col("v")))
              + min(when(col("cum") >= expr("(n + 2) div 2"), col("v"))))
             .as("m2"))
  }

  /** Core of q_robust_zscore over any (source, text) frame. */
  def robustZscore(docs: DataFrame): DataFrame = {
    val perDoc = docs.select(
      col("source"),
      size(Ops.tokens(col("text"))).cast("bigint").as("x"))
    val med = median2(perDoc, "x")
    // Deviations in half-units; their median is the MAD in quarter-units.
    val dev = perDoc.join(med, Seq("source"))
      .select(col("source"), abs(lit(2L) * col("x") - col("m2")).as("d2"))
    val mad = median2(dev, "d2").withColumnRenamed("m2", "mad4")
    val z = perDoc.join(med, Seq("source")).join(mad, Seq("source"))
      .select(col("source"), col("m2"), col("mad4"),
              // z in identical double arithmetic: (x − med)/(1.4826·MAD)
              // = 2·(2x − m2) / (1.4826·mad4).
              (lit(2.0) * (lit(2L) * col("x") - col("m2")).cast("double")
                 / (lit(1.4826) * col("mad4").cast("double"))).as("z"))
    z.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           (max(col("m2")).cast("double") / 2.0).as("median_toks"),
           (max(col("mad4")).cast("double") / 4.0).as("mad_toks"),
           sum(when(col("mad4") > 0L && abs(col("z")) > 3.0, 1L)
                 .otherwise(0L)).as("n_outliers"))
      .orderBy(col("source"))
  }

  val qRobustZscoreSql: String = {
    def med2(src: String, vcol: String): String =
      s"""(WITH hist AS (SELECT source, $vcol AS v, count(*) AS c
         |               FROM $src GROUP BY 1, 2),
         |     cum AS (SELECT source, v, c,
         |                    SUM(c) OVER (PARTITION BY source ORDER BY v
         |                      ROWS BETWEEN UNBOUNDED PRECEDING
         |                      AND CURRENT ROW) AS cum
         |             FROM hist),
         |     tot AS (SELECT source, count(*) AS n FROM $src GROUP BY 1)
         | SELECT cum.source,
         |        MIN(CASE WHEN cum >= (n + 1) // 2 THEN v END)
         |          + MIN(CASE WHEN cum >= (n + 2) // 2 THEN v END) AS m2
         | FROM cum JOIN tot ON tot.source = cum.source
         | GROUP BY 1)""".stripMargin
    s"""WITH perdoc AS (
       |  SELECT source,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS x
       |  FROM documents),
       |med AS ${med2("perdoc", "x")},
       |dev AS (
       |  SELECT p.source, abs(2 * p.x - m.m2) AS d2
       |  FROM perdoc p JOIN med m ON m.source = p.source),
       |mad AS (SELECT source, m2 AS mad4 FROM ${med2("dev", "d2")} q)
       |SELECT p.source, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(MAX(m.m2) AS DOUBLE) / 2.0 AS median_toks,
       |       CAST(MAX(a.mad4) AS DOUBLE) / 4.0 AS mad_toks,
       |       CAST(SUM(CASE WHEN a.mad4 > 0 AND
       |                abs(2.0 * CAST(2 * p.x - m.m2 AS DOUBLE)
       |                    / (1.4826 * CAST(a.mad4 AS DOUBLE))) > 3.0
       |                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
       |FROM perdoc p
       |JOIN med m ON m.source = p.source
       |JOIN mad a ON a.source = p.source
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ------------------------------------------------------------------
  // q_cusum — CUSUM changepoint detection on the per-event-type daily
  // count series over the zero-filled day grid: the split day t*
  // maximizing |S_t| where S_t = Σ_{i≤t}(c_i − c̄), plus the level on
  // each side. The classic offline single-changepoint locator (Page's
  // CUSUM / binary-segmentation step 1) — the monitoring question
  // "did this event stream shift, and when?" that q_ewma_daily's
  // smoother and q_anomaly_days' pointwise z-score don't answer.
  //
  // Exactness: S_t is carried SCALED BY n — S'_t = n·cum_t − t·T is
  // pure BIGINT (c̄ = T/n never materializes as a double); the argmax
  // runs on integers with earliest-day tie-break; published side means
  // are one double division of identical integers each.
  //
  // Scale shape: events collapse to (type, day) counts in one
  // partial-agg shuffle; everything after runs on the calendar-bounded
  // grid (type-keyed windows, a type-keyed max, a bounded join-back).
  // ------------------------------------------------------------------
  val qCusum: Q = (s, d) => cusum(Tables.events(s, d))

  /** Core of q_cusum over any (event_type, ts) frame. */
  def cusum(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("c"))
    val grid = daily.select(col("day")).distinct()
    val types = daily.select(col("event_type")).distinct()
    val cells = grid.crossJoin(types)
      .join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
              coalesce(col("c"), lit(0L)).as("c"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val tw = Window.partitionBy(col("event_type"))
    val scored = cells
      .withColumn("t", row_number().over(w).cast("bigint"))
      .withColumn("cum", sum(col("c")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", count(lit(1)).over(tw).cast("bigint"))
      .withColumn("total", sum(col("c")).over(tw))
      .withColumn("s", col("n") * col("cum") - col("t") * col("total"))
    val best = scored.groupBy(col("event_type"))
      .agg(max(abs(col("s"))).as("s_abs"))
    scored.join(best, Seq("event_type"))
      .filter(abs(col("s")) === col("s_abs"))
      .groupBy(col("event_type"))
      .agg(min(col("day")).as("cp_day"),
           max(col("n")).as("n_days"), max(col("total")).as("n_events"),
           (max(col("s_abs")).cast("double")
              / max(col("n")).cast("double")).as("cusum_max"),
           min(struct(col("day"), col("t"), col("cum"))).as("at"))
      .select(col("event_type"), col("cp_day"), col("n_days"),
              col("n_events"), col("cusum_max"),
              (col("at.cum").cast("double") / col("at.t").cast("double"))
                .as("mean_before"),
              coalesce(
                (col("n_events") - col("at.cum")).cast("double")
                  / nullif((col("n_days") - col("at.t")).cast("double"),
                           lit(0.0)),
                lit(0.0)).as("mean_after"))
      .orderBy(col("event_type"))
  }

  val qCusumSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS c
      |  FROM events GROUP BY 1, 2),
      |grid AS (SELECT DISTINCT day FROM daily),
      |types AS (SELECT DISTINCT event_type FROM daily),
      |cells AS (
      |  SELECT t.event_type, g.day, COALESCE(d.c, 0) AS c
      |  FROM grid g CROSS JOIN types t
      |  LEFT JOIN daily d ON d.event_type = t.event_type AND d.day = g.day),
      |scored AS (
      |  SELECT event_type, day, c,
      |         CAST(row_number() OVER tw AS BIGINT) AS t,
      |         SUM(c) OVER (PARTITION BY event_type ORDER BY day
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |         CAST(COUNT(*) OVER p AS BIGINT) AS n,
      |         CAST(SUM(c) OVER p AS BIGINT) AS total
      |  FROM cells
      |  WINDOW tw AS (PARTITION BY event_type ORDER BY day),
      |         p AS (PARTITION BY event_type)),
      |s AS (SELECT *, n * cum - t * total AS s FROM scored),
      |best AS (SELECT event_type, MAX(abs(s)) AS s_abs FROM s GROUP BY 1),
      |hit AS (
      |  SELECT s.event_type, s.day, s.t, s.cum, s.n, s.total, b.s_abs,
      |         row_number() OVER (PARTITION BY s.event_type
      |                            ORDER BY s.day) AS rk
      |  FROM s JOIN best b ON b.event_type = s.event_type
      |     AND abs(s.s) = b.s_abs)
      |SELECT event_type, day AS cp_day, n AS n_days, total AS n_events,
      |       CAST(s_abs AS DOUBLE) / CAST(n AS DOUBLE) AS cusum_max,
      |       CAST(cum AS DOUBLE) / CAST(t AS DOUBLE) AS mean_before,
      |       COALESCE(CAST(total - cum AS DOUBLE)
      |                  / nullif(CAST(n - t AS DOUBLE), 0.0), 0.0)
      |         AS mean_after
      |FROM hit WHERE rk = 1 ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------------
  // q_sax_motifs — symbolic-aggregate-approximation motif census of the
  // per-event-type daily value series: each day's value sum maps to a
  // tertile symbol (a = bottom third, b = middle, c = top — cuts at the
  // per-type empirical tertiles, the q_perplexity_buckets rank recipe),
  // and every 3-day sliding window becomes a motif string whose
  // frequencies are counted per type. The SAX/motif-mining primitive
  // (Lin et al. 2003): recurring shapes ("ccc" plateaus, "cac" spikes)
  // in a form a dashboard can group by.
  //
  // Exactness: daily sums are DECIMAL(18,2) carried as integer CENTS
  // (BIGINT); tertile cuts are conditional maxes over the descending
  // cumulative histogram — integers end-to-end; symbols and motifs are
  // strings. Nothing floating anywhere.
  //
  // Scale shape: one (type, day) partial-agg shuffle, then
  // calendar-bounded work: type-keyed cumulative over the per-type
  // daily histogram, a types-cardinality cut table joined back, lead()
  // windows over the bounded series, and a (type, motif) rollup.
  // ------------------------------------------------------------------
  val qSaxMotifs: Q = (s, d) => saxMotifs(Tables.events(s, d))

  /** Core of q_sax_motifs over any (event_type, ts, value) frame. */
  def saxMotifs(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg((sum(col("value").cast("decimal(18,2)")) * 100)
             .cast("bigint").as("cents"))
    val hist = daily.groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("hn"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("cents").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("hn")).over(w))
    val tot = daily.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val cuts = cum.join(tot, Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(max(when(col("cum") >= expr("(n + 2) div 3"), col("cents")))
             .as("t1"),
           max(when(col("cum") >= expr("(2 * n + 2) div 3"),
                    col("cents"))).as("t2"))
    val sw = Window.partitionBy(col("event_type")).orderBy(col("day"))
    daily.join(cuts, Seq("event_type"))
      .withColumn("sym",
        when(col("cents") >= col("t1"), lit("c"))
          .when(col("cents") >= col("t2"), lit("b"))
          .otherwise(lit("a")))
      .withColumn("motif",
        concat(col("sym"), lead(col("sym"), 1).over(sw),
               lead(col("sym"), 2).over(sw)))
      .filter(col("motif").isNotNull)
      .groupBy(col("event_type"), col("motif"))
      .agg(count(lit(1)).as("n_windows"))
      .orderBy(col("event_type"), col("motif"))
  }

  val qSaxMotifsSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |         CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
      |           AS cents
      |  FROM events GROUP BY 1, 2),
      |hist AS (SELECT event_type, cents, count(*) AS hn
      |         FROM daily GROUP BY 1, 2),
      |cum AS (
      |  SELECT event_type, cents, hn,
      |         SUM(hn) OVER (PARTITION BY event_type ORDER BY cents DESC
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM hist),
      |tot AS (SELECT event_type, count(*) AS n FROM daily GROUP BY 1),
      |cuts AS (
      |  SELECT c.event_type,
      |         MAX(CASE WHEN cum >= (n + 2) // 3 THEN cents END) AS t1,
      |         MAX(CASE WHEN cum >= (2 * n + 2) // 3 THEN cents END) AS t2
      |  FROM cum c JOIN tot t ON t.event_type = c.event_type
      |  GROUP BY 1),
      |sym AS (
      |  SELECT d.event_type, d.day,
      |         CASE WHEN d.cents >= c.t1 THEN 'c'
      |              WHEN d.cents >= c.t2 THEN 'b'
      |              ELSE 'a' END AS sym
      |  FROM daily d JOIN cuts c ON c.event_type = d.event_type),
      |mot AS (
      |  SELECT event_type,
      |         sym || lead(sym, 1) OVER sw || lead(sym, 2) OVER sw AS motif
      |  FROM sym WINDOW sw AS (PARTITION BY event_type ORDER BY day))
      |SELECT event_type, motif, count(*) AS n_windows
      |FROM mot WHERE motif IS NOT NULL
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // q_dbscan — density-based clustering (DBSCAN, Ester et al. 1996)
  // over the embedding space: ε-neighbor graph at cosine ≥ DbEps with
  // candidates generated by BANDED sign-LSH buckets (the simhashHamming
  // discipline applied to ext.Similarity's hyperplane family — DbBands
  // bands of DbBandBits sign bits over DbPlanes deterministic planes,
  // with the DbBandMaxDf hot-band cap), core points = ≥ DbMinPts
  // neighbors, clusters = connected components of the core-core
  // subgraph (min-label propagation, the q_dedup_cluster engine),
  // border points adopt the smallest adjacent core cluster, the rest is
  // noise. The clustering family k-means can't cover: arbitrary-shape
  // clusters plus an explicit noise verdict — what an embedding-space
  // curation pass uses to find coherent pockets without fixing k.
  //
  // Candidate generation (the round-8/9 scale defect, fixed): the old
  // within-label all-pairs join grew quadratically in the block; now a
  // pair is a candidate iff the two vectors agree on at least one of
  // the DbBands 2-bit sign bands (plus the hot-band cap). The predicate
  // is mirrored EXACTLY in the oracle (same LCG planes re-derived in
  // SQL, same band extraction, same cap), so both engines compute the
  // identical bucketed ε-graph. On the demo sample the banding is
  // lossless — DbscanBucketSpec pins bucketed candidates ⊇ ALL exact
  // ε-pairs (measured margin: the highest-cosine non-candidate pair
  // sits at cos 0.143 < DbEps = 0.2) and that no demo band bucket nears
  // the cap, so the bucketed result EQUALS exact DBSCAN there. At 100×
  // a hot band bucket is dropped by the cap instead of going quadratic
  // — bounded work for documented recall, the same honest trade as
  // SimBandMaxDf / MaxGramDf in the dedup stack (docs/SCALE.md row).
  //
  // Exactness: cosines snap to 1e-6 before the ε test (the
  // q_dedup_embedding discipline); sign buckets are double-accumulated
  // in-index-order dots on both engines (the q_ann_lsh determinism
  // argument); everything after is integer graph work — degrees,
  // component minima, min-adoption — deterministic on both engines.
  // Oracle CC is a recursive CTE; engine CC is the shared
  // minLabelPropagate fixpoint (identical component minima).
  //
  // Scale shape: the banded explode carries only (vec_id, band) — 24
  // slim rows per vector, never the embedding; the self-join keys on
  // (band_id, band_val) with cap-bounded buckets; embeddings are
  // fetched for DISTINCT candidate pairs only (two vec_id-keyed joins);
  // the ε-graph is edge-keyed from there on (degree partial-agg,
  // star-bounded CC rounds, one min-adoption join). The deterministic
  // sample (vec_id % 4, label < 5) keeps the oracle's
  // correlated-subquery cosine affordable, exactly as q_dedup_embedding
  // documents.
  // ------------------------------------------------------------------
  val DbEps = 0.2
  val DbMinPts = 2
  val DbPlanes = 48
  val DbBandBits = 2
  val DbBands = DbPlanes / DbBandBits // 24
  val DbBandMaxDf = 64

  val qDbscan: Q = (s, d) => dbscan(Tables.embeddings(s, d))

  /** Bucketed ε-candidate pairs (va < vb, distinct) of the demo sample
    * — factored for DbscanBucketSpec's recall pin.
    */
  private[graft] def dbscanBanded(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
        posexplode(array((0 until DbBands).map { j =>
          shiftright(col("sig"), j * DbBandBits)
            .bitwiseAND(lit((1L << DbBandBits) - 1))
        }: _*)))
      .toDF("vec_id", "band_id", "band_val")

  private[graft] def dbscanCandidates(e: DataFrame): DataFrame = {
    val banded = dbscanBanded(e)
    val cool = banded.groupBy(col("band_id"), col("band_val"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") <= graft.GraftConf.dbBandMaxDf(e.sparkSession))
      .select(col("band_id"), col("band_val"))
    val kept = banded.join(cool, Seq("band_id", "band_val"))
    kept.select(col("band_id"), col("band_val"), col("vec_id").as("va"))
      .join(kept.select(col("band_id"), col("band_val"),
                        col("vec_id").as("vb")),
            Seq("band_id", "band_val"))
      .filter(col("va") < col("vb"))
      .select(col("va"), col("vb"))
      .distinct()
  }

  /** Demo sample with norm + DbPlanes-bit sign signature attached
    * (label kept for ext.Dedup's label-blocked consumer).
    */
  private[graft] def dbscanSample(emb: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions
    emb.filter(col("vec_id") % 4 === 0 && col("label") < 5)
      .select(col("vec_id"), col("label"), col("embedding"),
              VectorFunctions.vecNorm(col("embedding")).as("nrm"),
              VectorFunctions.signBucket(col("embedding"),
                Similarity.planesN(DbPlanes).flatten.toArray,
                Similarity.Dim).as("sig"))
  }

  /** Core of q_dbscan over any (vec_id, label, embedding) frame. */
  def dbscan(emb: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions
    val e = dbscanSample(emb).persist()
    val pairs = dbscanCandidates(e)
      .join(e.select(col("vec_id").as("va"), col("embedding").as("ea"),
                     col("nrm").as("na")), Seq("va"))
      .join(e.select(col("vec_id").as("vb"), col("embedding").as("eb"),
                     col("nrm").as("nb")), Seq("vb"))
      .withColumn("cos",
        round(VectorFunctions.vecDot(col("ea"), col("eb")) /
                (col("na") * col("nb")), 6))
      .filter(col("cos") >= DbEps)
      .select(col("va"), col("vb"))
    // Checkpointed leaf (round-15): sym feeds core, cce and border, and
    // its plan is the whole banded-candidate + cosine-verify pipeline —
    // persist() left every consumer re-optimizing that subtree (and the
    // first concurrent materializations racing the unfilled cache).
    val sym = graft.PlanMode.checkpointTail(pairs
      .unionByName(pairs.select(col("vb").as("va"), col("va").as("vb"))))
    val core = sym.groupBy(col("va").as("vec_id"))
      .agg(count(lit(1)).as("n_nbrs"))
      .filter(col("n_nbrs") >= DbMinPts)
      .select(col("vec_id"))
    val cce = sym
      .join(core.withColumnRenamed("vec_id", "va"), Seq("va"), "left_semi")
      .join(core.withColumnRenamed("vec_id", "vb"), Seq("vb"), "left_semi")
      .select(col("va").as("src"), col("vb").as("dst"))
    val comp = Corpus.minLabelPropagate(
      core.withColumnRenamed("vec_id", "doc_id"), cce)
      .select(col("doc_id").as("vec_id"), col("label").as("cluster"))
    val border = sym
      .join(core.withColumnRenamed("vec_id", "va"), Seq("va"), "left_anti")
      .join(comp.withColumnRenamed("vec_id", "vb"), Seq("vb"))
      .groupBy(col("va").as("vec_id"))
      .agg(min(col("cluster")).as("b_cluster"))
    val out = e.select(col("vec_id"))
      .join(comp, Seq("vec_id"), "left")
      .join(border, Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("cluster").isNotNull, lit("core"))
          .when(col("b_cluster").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(col("cluster"), col("b_cluster"), lit(-1L)).as("cluster"))
      .orderBy(col("vec_id"))
    out
  }

  /** The banded sign-LSH candidate generator as bare CTEs (sample `e`
    * with labels → plane dots → signatures → 2-bit bands → hot-band cap
    * → distinct `cand(va, vb)`), shared by the DBSCAN oracle and
    * q_dedup_embedding's (ext.Dedup) — one SQL fragment so the two
    * oracles can never disagree on what a candidate is.
    */
  private[graft] val dbscanBandCtesSql: String =
    s"""e AS (
       |  SELECT label, vec_id, embedding
       |  FROM embeddings WHERE vec_id % 4 = 0 AND label < 5),
       |pd AS (
       |  SELECT e.vec_id, j.j,
       |         (SELECT SUM(CAST(e.embedding[i.i] AS DOUBLE)
       |                     * CAST(${Similarity.planeSqlReal} AS DOUBLE))
       |          FROM generate_series(1, ${Similarity.Dim}) i(i)) AS dot
       |  FROM e CROSS JOIN generate_series(0, ${DbPlanes - 1}) j(j)),
       |sig AS (
       |  SELECT vec_id,
       |         CAST(SUM(CASE WHEN dot >= 0
       |                       THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)
       |              AS BIGINT) AS sig
       |  FROM pd GROUP BY 1),
       |banded AS (
       |  SELECT vec_id, b.b AS band_id,
       |         (sig >> (b.b * $DbBandBits))
       |           & ${(1L << DbBandBits) - 1} AS band_val
       |  FROM sig CROSS JOIN generate_series(0, ${DbBands - 1}) b(b)),
       |cool AS (
       |  SELECT band_id, band_val FROM banded
       |  GROUP BY 1, 2 HAVING count(*) <= $DbBandMaxDf),
       |kept AS (
       |  SELECT b.vec_id, b.band_id, b.band_val
       |  FROM banded b JOIN cool USING (band_id, band_val)),
       |cand AS (
       |  SELECT DISTINCT x.vec_id AS va, y.vec_id AS vb
       |  FROM kept x JOIN kept y
       |    ON x.band_id = y.band_id AND x.band_val = y.band_val
       |   AND x.vec_id < y.vec_id)""".stripMargin

  val qDbscanSql: String =
    s"""WITH RECURSIVE $dbscanBandCtesSql,
       |edges0 AS (
       |  SELECT c.va, c.vb
       |  FROM cand c
       |  JOIN e a ON a.vec_id = c.va
       |  JOIN e b ON b.vec_id = c.vb
       |  WHERE round(
       |    (SELECT SUM(CAST(a.embedding[i.i] AS DOUBLE)
       |                * CAST(b.embedding[i.i] AS DOUBLE))
       |     FROM generate_series(1, 64) i(i)) /
       |    (sqrt((SELECT SUM(CAST(a.embedding[i.i] AS DOUBLE) ** 2)
       |           FROM generate_series(1, 64) i(i))) *
       |     sqrt((SELECT SUM(CAST(b.embedding[i.i] AS DOUBLE) ** 2)
       |           FROM generate_series(1, 64) i(i)))), 6) >= $DbEps),
       |sym AS (SELECT va, vb FROM edges0
       |        UNION ALL SELECT vb, va FROM edges0),
       |core AS (
       |  SELECT va AS vec_id FROM sym GROUP BY 1
       |  HAVING count(*) >= $DbMinPts),
       |cce AS (
       |  SELECT s.va AS src, s.vb AS dst FROM sym s
       |  WHERE s.va IN (SELECT vec_id FROM core)
       |    AND s.vb IN (SELECT vec_id FROM core)),
       |reach(v, l) AS (
       |  SELECT vec_id, vec_id FROM core
       |  UNION
       |  SELECT c.dst, r.l FROM reach r JOIN cce c ON c.src = r.v),
       |comp AS (SELECT v AS vec_id, min(l) AS cluster FROM reach GROUP BY 1),
       |border AS (
       |  SELECT s.va AS vec_id, min(c.cluster) AS b_cluster
       |  FROM sym s JOIN comp c ON c.vec_id = s.vb
       |  WHERE s.va NOT IN (SELECT vec_id FROM core)
       |  GROUP BY 1)
       |SELECT e.vec_id,
       |       CASE WHEN m.cluster IS NOT NULL THEN 'core'
       |            WHEN b.b_cluster IS NOT NULL THEN 'border'
       |            ELSE 'noise' END AS role,
       |       COALESCE(m.cluster, b.b_cluster, -1) AS cluster
       |FROM e
       |LEFT JOIN comp m ON m.vec_id = e.vec_id
       |LEFT JOIN border b ON b.vec_id = e.vec_id
       |ORDER BY e.vec_id""".stripMargin

  // ------------------------------------------------------------------
  // q_knn_classify — leave-one-out k-NN label prediction over the
  // embedding table: a deterministic query sample (vec_id % 16 = 0) is
  // classified by the majority label of its KnnK exact-cosine nearest
  // neighbors (self excluded), and the output is the (label, predicted)
  // confusion census — the standard "are these embeddings any good"
  // probe a pipeline runs before trusting them for semantic dedup or
  // curation. Brute-force scoring is the evaluation baseline (exactly
  // q_similarity_topk's discipline); production retrieval at 100 TB
  // swaps in the IVF/PQ funnel from ext.Similarity unchanged.
  //
  // Exactness: cosines snap to 1e-6 before ranking (vec_id tie-break);
  // majority voting is integer counts with (count desc, label asc)
  // tie-break — argmax deterministic on both engines.
  //
  // Scale shape: the query set is broadcast (bounded sample fraction);
  // scoring is map-side against the broadcast; the top-K cut is the
  // bounded per-group heap (Ops.topKPerGroup); voting and the census
  // are K-bounded aggregates.
  // ------------------------------------------------------------------
  val KnnK = 5

  val qKnnClassify: Q = (s, d) => knnClassify(Tables.embeddings(s, d))

  /** Core of q_knn_classify over any (vec_id, label, embedding) frame. */
  def knnClassify(emb: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions
    val e = emb.select(col("vec_id"), col("label"), col("embedding"),
                       VectorFunctions.vecNorm(col("embedding")).as("nrm"))
    // FIXED query budget (% 16 spread, id-capped): an eval harness
    // measures with a constant probe set, so corpus growth scales the
    // candidate side linearly instead of the probe set with it (the
    // uncapped form measured 22× wall for 30× data; capped, queries
    // stay 125 at every scale and the scan side is the only growth).
    val q = e.filter(col("vec_id") % 16 === 0 && col("vec_id") < 4096)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
              col("embedding").as("qe"), col("nrm").as("qnrm"))
    val cand = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("score",
        round(VectorFunctions.vecDot(col("qe"), col("embedding")) /
                (col("qnrm") * col("nrm")), 6))
    knnTail(cand)
  }

  /** Shared top-K / vote / census tail over scored (qid, qlabel,
    * vec_id, label, score) candidates — one code path for the
    * brute-force demo and the IVF production funnel, so the two can
    * only differ in candidate GENERATION (ProductionPathSpec pins that
    * on the test corpus they don't differ at all).
    */
  private[graft] def knnTail(cand: DataFrame): DataFrame = {
    val top = Ops.topKPerGroup(cand, Seq("qid"), -col("score"),
                               col("vec_id"), KnnK)
    val votes = top.groupBy(col("qid"), col("qlabel"), col("label"))
      .agg(count(lit(1)).as("v"))
    val pred = Ops.topKPerGroup(votes, Seq("qid"), -col("v"),
                                col("label"), 1)
      .select(col("qid"), col("qlabel").as("label"),
              col("label").as("predicted"))
    pred.groupBy(col("label"), col("predicted"))
      .agg(count(lit(1)).as("n_queries"))
      .orderBy(col("label"), col("predicted"))
  }

  /** The production-path variant the docstring promises: identical
    * funnel with the brute-force scan replaced by the trained IVF
    * coarse quantizer (ext.Similarity's codebook) — corpus vectors
    * score only against queries probing their `nprobe` nearest cells.
    * ProductionPathSpec pins two things: with nprobe = NumCells the
    * census EQUALS brute force exactly (the funnel/tail/scoring are the
    * same code, probing everything IS the scan), and at the production
    * nprobe on CLUSTERED embeddings (the realistic geometry,
    * AnnClusteredSpec's twin corpus) it still equals brute force — so
    * the "swaps in unchanged" claim is machine-checked, with recall on
    * adversarially-uniform data priced separately by q_ann_recall.
    */
  private[graft] def knnClassifyIvf(emb: DataFrame,
                                    nprobe: Int = Similarity.NProbe)
      : DataFrame = {
    import graft.functions.VectorFunctions
    val mat = Similarity.trainCodebook(emb)
    val e = emb.select(col("vec_id"), col("label"), col("embedding"),
                       VectorFunctions.vecNorm(col("embedding")).as("nrm"),
                       element_at(
                         VectorFunctions.matrixDotRank(col("embedding"), mat,
                                                       Similarity.Dim), 1)
                         .cast("bigint").as("cell"))
    val q = e.filter(col("vec_id") % 16 === 0 && col("vec_id") < 4096)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
              col("embedding").as("qe"), col("nrm").as("qnrm"),
              explode(slice(
                VectorFunctions.matrixDotRank(col("embedding"), mat,
                                              Similarity.Dim),
                1, nprobe)).as("probe_cell0"))
      .withColumn("probe_cell", col("probe_cell0").cast("bigint"))
      .drop("probe_cell0")
    val cand = e.join(broadcast(q),
                      col("cell") === col("probe_cell") &&
                        col("vec_id") =!= col("qid"))
      .withColumn("score",
        round(VectorFunctions.vecDot(col("qe"), col("embedding")) /
                (col("qnrm") * col("nrm")), 6))
    knnTail(cand)
  }

  val qKnnClassifySql: String =
    s"""WITH q AS (
       |  SELECT vec_id AS qid, label AS qlabel, embedding AS qe
       |  FROM embeddings WHERE vec_id % 16 = 0 AND vec_id < 4096),
       |cand AS (
       |  SELECT q.qid, q.qlabel, e.vec_id, e.label,
       |         round(
       |           (SELECT SUM(CAST(qe[i.i] AS DOUBLE)
       |                       * CAST(e.embedding[i.i] AS DOUBLE))
       |            FROM generate_series(1, 64) i(i)) /
       |           (sqrt((SELECT SUM(CAST(qe[i.i] AS DOUBLE) ** 2)
       |                  FROM generate_series(1, 64) i(i))) *
       |            sqrt((SELECT SUM(CAST(e.embedding[i.i] AS DOUBLE) ** 2)
       |                  FROM generate_series(1, 64) i(i)))), 6) AS score
       |  FROM q, embeddings e WHERE e.vec_id <> q.qid),
       |top AS (
       |  SELECT qid, qlabel, label FROM (
       |    SELECT qid, qlabel, label,
       |           row_number() OVER (PARTITION BY qid
       |             ORDER BY score DESC, vec_id) AS rn
       |    FROM cand) WHERE rn <= $KnnK),
       |votes AS (
       |  SELECT qid, qlabel, label, count(*) AS v
       |  FROM top GROUP BY 1, 2, 3),
       |pred AS (
       |  SELECT qid, qlabel AS label, label AS predicted FROM (
       |    SELECT qid, qlabel, label,
       |           row_number() OVER (PARTITION BY qid
       |             ORDER BY v DESC, label) AS rn
       |    FROM votes) WHERE rn = 1)
       |SELECT label, predicted, count(*) AS n_queries
       |FROM pred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // q_ab_test — two-proportion z-test on the event stream: users split
  // into variants by user_id parity (the deterministic stand-in for an
  // assignment column), conversion = purchase events, and the output is
  // the full experiment readout — counts, rates, pooled z, and the
  // |z| > 1.96 verdict. The experimentation primitive every analytics
  // engine ships; its null result on hash-split synthetic data is
  // itself the A/A sanity check real platforms run first.
  //
  // Exactness: four BIGINT counts; rates and z are each one double
  // expression over identical integers (the ks-test rule, no
  // snapping).
  //
  // Scale shape: one partial-agg over the events scan (conditional
  // sums, no shuffle wider than the 1-row rollup). Nothing else.
  // ------------------------------------------------------------------
  val qAbTest: Q = (s, d) => abTest(Tables.events(s, d))

  /** Core of q_ab_test over any (user_id, event_type) frame. */
  def abTest(events: DataFrame): DataFrame = {
    val agg = events.agg(
      sum(when(col("user_id") % 2 === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("user_id") % 2 === 0 && col("event_type") === "purchase",
               1L).otherwise(0L)).as("s_a"),
      sum(when(col("user_id") % 2 === 1, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("user_id") % 2 === 1 && col("event_type") === "purchase",
               1L).otherwise(0L)).as("s_b"))
    def dbl(c: String) = col(c).cast("double")
    agg.select(col("n_a"), col("s_a"), col("n_b"), col("s_b"),
        (dbl("s_a") / dbl("n_a")).as("p_a"),
        (dbl("s_b") / dbl("n_b")).as("p_b"))
      .withColumn("z",
        (col("p_a") - col("p_b")) /
          sqrt(((dbl("s_a") + dbl("s_b")) / (dbl("n_a") + dbl("n_b")))
                 * (lit(1.0) - (dbl("s_a") + dbl("s_b"))
                                 / (dbl("n_a") + dbl("n_b")))
                 * (lit(1.0) / dbl("n_a") + lit(1.0) / dbl("n_b"))))
      .withColumn("significant", abs(col("z")) > 1.96)
  }

  val qAbTestSql: String =
    """WITH agg AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_a,
      |    CAST(SUM(CASE WHEN user_id % 2 = 0 AND event_type = 'purchase'
      |             THEN 1 ELSE 0 END) AS BIGINT) AS s_a,
      |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_b,
      |    CAST(SUM(CASE WHEN user_id % 2 = 1 AND event_type = 'purchase'
      |             THEN 1 ELSE 0 END) AS BIGINT) AS s_b
      |  FROM events),
      |rates AS (
      |  SELECT *, CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p_a,
      |            CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p_b
      |  FROM agg),
      |zed AS (
      |  SELECT *,
      |    (p_a - p_b) / sqrt(
      |      ((CAST(s_a AS DOUBLE) + CAST(s_b AS DOUBLE))
      |         / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
      |      * (1.0 - (CAST(s_a AS DOUBLE) + CAST(s_b AS DOUBLE))
      |                  / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
      |      * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
      |      AS z
      |  FROM rates)
      |SELECT n_a, s_a, n_b, s_b, p_a, p_b, z, abs(z) > 1.96 AS significant
      |FROM zed""".stripMargin

  // ------------------------------------------------------------------
  // q_decile_lift — the quality-score decile table: every document
  // ranked into 10 global quality bands (cuts at the empirical decile
  // ranks over the snapped-score histogram — the q_perplexity_buckets
  // recipe widened from tertiles), reporting per-decile doc count,
  // mean quality, and mean token count. The monotone lift table is how
  // a pipeline VALIDATES a quality score before filtering on it: if
  // mean length doesn't move across deciles, the score is noise.
  //
  // Exactness: scores snap to 1e-3 quanta (BIGINT qs — quality lives
  // in [0,1], so the histogram support is ≤ ~1000 rows at ANY corpus
  // size); cut ranks are integer `div` arithmetic; the published means
  // divide identical BIGINT sums. A doc equal to a cut value lands in
  // the LOWER decile on both engines (ties never straddle).
  //
  // Scale shape: one quality scan → bounded histogram partial-agg; the
  // cumulative runs over the bounded histogram (non-foldable constant
  // partition key, the house pattern); the 9 cuts come back as one
  // 1-row crossJoin; the decile rollup is 10-row.
  // ------------------------------------------------------------------
  val qDecileLift: Q = (s, d) => decileLift(Tables.documents(s, d))

  /** Core of q_decile_lift over any documents-shaped frame. */
  def decileLift(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = docs.select(
      round(TextOps.qualityColumn * 1000.0, 0).cast("long").as("qs"),
      size(Ops.tokens(col("text"))).cast("bigint").as("toks"))
    val hist = scored.groupBy(col("qs")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(substring(col("qs").cast("string"), 1, 0))
      .orderBy(col("qs"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("c")).over(w))
    val tot = hist.agg(sum(col("c")).as("n"))
    val cutCols = (1 to 9).map(k =>
      min(when(col("cum") >= expr(s"($k * n + 9) div 10"), col("qs")))
        .as(s"t$k"))
    val cuts = cum.crossJoin(tot).agg(cutCols.head, cutCols.tail: _*)
    val decile = (1 to 9).foldLeft(lit(1L)) { (acc, k) =>
      acc + when(col("qs") > col(s"t$k"), 1L).otherwise(0L)
    }
    scored.crossJoin(cuts)
      .withColumn("decile", decile)
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
           (sum(col("qs")).cast("double") / 1000.0
              / count(lit(1)).cast("double")).as("mean_quality"),
           (sum(col("toks")).cast("double")
              / count(lit(1)).cast("double")).as("mean_toks"))
      .orderBy(col("decile"))
  }

  val qDecileLiftSql: String = {
    val cutDefs = (1 to 9).map(k =>
      s"MIN(CASE WHEN cum >= ($k * n + 9) // 10 THEN qs END) AS t$k")
      .mkString(",\n       |         ")
    val decileExpr = (1 to 9).map(k =>
      s"CASE WHEN s.qs > c.t$k THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH scored AS (
       |  SELECT CAST(round(${TextOps.qualitySqlExpr} * 1000.0, 0) AS BIGINT)
       |           AS qs,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
       |  FROM documents),
       |hist AS (SELECT qs, count(*) AS c FROM scored GROUP BY 1),
       |cum AS (
       |  SELECT qs, c, SUM(c) OVER (ORDER BY qs
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM hist),
       |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM hist),
       |cuts AS (
       |  SELECT $cutDefs
       |  FROM cum CROSS JOIN tot)
       |SELECT CAST(1 + $decileExpr AS BIGINT) AS decile,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(SUM(s.qs) AS DOUBLE) / 1000.0
       |         / CAST(count(*) AS DOUBLE) AS mean_quality,
       |       CAST(SUM(s.toks) AS DOUBLE)
       |         / CAST(count(*) AS DOUBLE) AS mean_toks
       |FROM scored s CROSS JOIN cuts c
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ------------------------------------------------------------------
  // q_entropy_rate — per-source conditional bigram entropy
  // H(cur | prev) = −Σ p(prev,cur) ln p(cur | prev): the entropy-RATE
  // estimate that says how predictable each source's text is one token
  // ahead — boilerplate-heavy sources score low, diverse prose scores
  // near the unigram entropy ceiling (q_token_entropy), and the gap is
  // the redundancy a tokenizer/compressor can exploit. The sequence
  // companion to q_jsd's bag-of-words divergence.
  //
  // Exactness: p(cur|prev) = c12/c1 of exact BIGINTs; the one ln per
  // observed bigram type snaps to micro-units, the mass-weighted sum
  // Σ c12·u is BIGINT, and the published rate divides identical
  // integers (the log-odds discipline).
  //
  // Scale shape: bigrams generate MAP-SIDE (token-array zip, no
  // self-join); one (source, w1, w2) partial-agg shuffle; marginals
  // roll up vocab-bounded and join back on (source, w1).
  // ------------------------------------------------------------------
  val qEntropyRate: Q = (s, d) => entropyRate(Tables.documents(s, d))

  /** Core of q_entropy_rate over any (source, text) frame. */
  def entropyRate(docs: DataFrame): DataFrame = {
    val toks = Ops.tokens(col("text"))
    val big = docs
      .select(col("source"), explode(arrays_zip(
        slice(toks, lit(1), size(toks) - 1).as("w1"),
        slice(toks, lit(2), size(toks) - 1).as("w2"))).as("b"))
      .select(col("source"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col("source"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val m1 = big.groupBy(col("source"), col("w1"))
      .agg(sum(col("c12")).as("c1"))
    big.join(m1, Seq("source", "w1"))
      .select(col("source"), col("c12"),
              (col("c12") * round(log(col("c12").cast("double")
                                        / col("c1").cast("double")) * 1e6)
                              .cast("long")).as("mass_u"))
      .groupBy(col("source"))
      .agg(sum(col("c12")).as("n_bigrams"),
           (-(sum(col("mass_u")).cast("double") / 1e6)
              / sum(col("c12")).cast("double")).as("h_cond"))
      .orderBy(col("source"))
  }

  val qEntropyRateSql: String =
    """WITH toks AS (
      |  SELECT source, string_split(text, ' ') AS ws FROM documents),
      |big AS (
      |  SELECT source, ws[i] AS w1, ws[i + 1] AS w2, count(*) AS c12
      |  FROM toks, unnest(range(1, len(ws))) AS t(i)
      |  GROUP BY 1, 2, 3),
      |m1 AS (SELECT source, w1, CAST(SUM(c12) AS BIGINT) AS c1
      |       FROM big GROUP BY 1, 2),
      |mass AS (
      |  SELECT b.source, b.c12,
      |         b.c12 * CAST(round(ln(CAST(b.c12 AS DOUBLE)
      |                               / CAST(m.c1 AS DOUBLE)) * 1000000.0, 0)
      |                      AS BIGINT) AS mass_u
      |  FROM big b JOIN m1 m ON m.source = b.source AND m.w1 = b.w1)
      |SELECT source, CAST(SUM(c12) AS BIGINT) AS n_bigrams,
      |       -(CAST(SUM(mass_u) AS DOUBLE) / 1000000.0)
      |         / CAST(SUM(c12) AS DOUBLE) AS h_cond
      |FROM mass GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // q_hampel — Hampel-filter outliers on the per-event-type daily value
  // series: each day judged against the ROLLING median/MAD of its
  // ±HampelHalf-day neighborhood (shrinking naturally at series edges),
  // flagged when |x − med| > 3·1.4826·MAD. The rolling-robust companion
  // to q_robust_zscore's global census and q_anomaly_days' mean/std
  // z-score — a level SHIFT re-centers the rolling median within
  // HampelHalf days, so Hampel flags spikes, not regimes (exactly what
  // an ops dashboard wants next to q_cusum's regime detector).
  //
  // Exactness: daily sums ride as integer cents; the whole window
  // statistic is array arithmetic over ≤ 2·HampelHalf+1 integers
  // (sorted-array medians in half-units, MADs in quarter-units) —
  // map-side expressions, no doubles until the final z.
  //
  // Scale shape: one (type, day) partial-agg shuffle, then type-keyed
  // lag/lead windows over the calendar-bounded series; everything else
  // is per-row array math.
  // ------------------------------------------------------------------
  val HampelHalf = 3

  val qHampel: Q = (s, d) => hampel(Tables.events(s, d))

  /** Core of q_hampel over any (event_type, ts, value) frame. */
  def hampel(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg((sum(col("value").cast("decimal(18,2)")) * 100)
             .cast("bigint").as("cents"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val withNbrs = (1 to HampelHalf).foldLeft(daily) { (df, k) =>
      df.withColumn(s"l$k", lag(col("cents"), k).over(w))
        .withColumn(s"r$k", lead(col("cents"), k).over(w))
    }
    val nbrCols = ((1 to HampelHalf).map(k => s"l$k") ++ Seq("cents") ++
      (1 to HampelHalf).map(k => s"r$k")).mkString(", ")
    withNbrs
      .withColumn("arr",
        expr(s"array_sort(filter(array($nbrCols), v -> v IS NOT NULL))"))
      .withColumn("nw", expr("size(arr)"))
      .withColumn("med2",
        expr("element_at(arr, CAST((nw + 1) div 2 AS INT))" +
             " + element_at(arr, CAST((nw + 2) div 2 AS INT))"))
      .withColumn("dev",
        expr("array_sort(transform(arr, v -> abs(2 * v - med2)))"))
      .withColumn("mad4",
        expr("element_at(dev, CAST((nw + 1) div 2 AS INT))" +
             " + element_at(dev, CAST((nw + 2) div 2 AS INT))"))
      .withColumn("z",
        expr("2.0D * CAST(2 * cents - med2 AS DOUBLE)" +
             " / (1.4826D * CAST(mad4 AS DOUBLE))"))
      .filter(col("mad4") > 0L && abs(col("z")) > 3.0)
      .select(col("event_type"), col("day"),
              (col("cents").cast("double") / 100.0).as("value_sum"),
              col("z"))
      .orderBy(col("event_type"), col("day"))
  }

  val qHampelSql: String = {
    val nbrDefs = (1 to HampelHalf).map(k =>
      s"lag(cents, $k) OVER tw AS l$k, lead(cents, $k) OVER tw AS r$k")
      .mkString(",\n      |         ")
    val nbrCols = ((1 to HampelHalf).map(k => s"l$k") ++ Seq("cents") ++
      (1 to HampelHalf).map(k => s"r$k")).mkString(", ")
    s"""WITH daily AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day,
       |         CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
       |           AS cents
       |  FROM events GROUP BY 1, 2),
       |nbrs AS (
       |  SELECT event_type, day, cents,
       |         $nbrDefs
       |  FROM daily
       |  WINDOW tw AS (PARTITION BY event_type ORDER BY day)),
       |arrs AS (
       |  SELECT event_type, day, cents,
       |         list_sort(list_filter([$nbrCols], v -> v IS NOT NULL)) AS arr
       |  FROM nbrs),
       |med AS (
       |  SELECT *, len(arr) AS nw,
       |         arr[(len(arr) + 1) // 2] + arr[(len(arr) + 2) // 2] AS med2
       |  FROM arrs),
       |mad AS (
       |  SELECT *,
       |         list_sort(list_transform(arr, v -> abs(2 * v - med2)))
       |           AS dev
       |  FROM med),
       |zed AS (
       |  SELECT event_type, day, cents,
       |         dev[(nw + 1) // 2] + dev[(nw + 2) // 2] AS mad4, med2
       |  FROM mad)
       |SELECT event_type, day,
       |       CAST(cents AS DOUBLE) / 100.0 AS value_sum,
       |       2.0 * CAST(2 * cents - med2 AS DOUBLE)
       |         / (1.4826 * CAST(mad4 AS DOUBLE)) AS z
       |FROM zed
       |WHERE mad4 > 0 AND abs(2.0 * CAST(2 * cents - med2 AS DOUBLE)
       |                       / (1.4826 * CAST(mad4 AS DOUBLE))) > 3.0
       |ORDER BY 1, 2""".stripMargin
  }

  // ------------------------------------------------------------------
  // q_winsorize — per-source winsorized location estimate of the
  // per-document token count: values clamped to the empirical
  // [p5, p95] band (cut ranks over the cumulative histogram — the
  // median2 funnel at asymmetric ranks) and re-averaged. The robust
  // MEAN companion to q_robust_zscore's outlier census: robust_zscore
  // says which docs are extreme, winsorize says what the typical
  // length is once they stop dominating the average.
  //
  // Exactness: cut values are order statistics off the BIGINT
  // histogram (rank = ceil(p·n) in integer `div` arithmetic); clamped
  // values and their sums stay BIGINT; the published mean is one
  // double division of identical integers.
  //
  // Scale shape: the histogram-rank funnel (support-bounded cumsum,
  // sources-cardinality cut table, join-back on source) — never
  // corpus-cardinality past the first aggregate.
  // ------------------------------------------------------------------
  val qWinsorize: Q = (s, d) => winsorize(Tables.documents(s, d))

  /** Core of q_winsorize over any (source, text) frame. */
  def winsorize(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perDoc = docs.select(
      col("source"),
      size(Ops.tokens(col("text"))).cast("bigint").as("x"))
    val hist = perDoc.groupBy(col("source"), col("x"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("source")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("c")).over(w))
    val tot = perDoc.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val cuts = cum.join(tot, Seq("source"))
      .groupBy(col("source"))
      .agg(min(when(col("cum") >= expr("(5 * n + 99) div 100"), col("x")))
             .as("lo"),
           min(when(col("cum") >= expr("(95 * n + 99) div 100"), col("x")))
             .as("hi"))
    perDoc.join(cuts, Seq("source"))
      .withColumn("wx", least(greatest(col("x"), col("lo")), col("hi")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), max(col("lo")).as("p5_toks"),
           max(col("hi")).as("p95_toks"),
           (sum(col("wx")).cast("double") / count(lit(1)).cast("double"))
             .as("winsorized_mean"),
           sum(when(col("x") < col("lo") || col("x") > col("hi"), 1L)
                 .otherwise(0L)).as("n_clamped"))
      .orderBy(col("source"))
  }

  val qWinsorizeSql: String =
    """WITH perdoc AS (
      |  SELECT source,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS x
      |  FROM documents),
      |hist AS (SELECT source, x, count(*) AS c FROM perdoc GROUP BY 1, 2),
      |cum AS (
      |  SELECT source, x, c,
      |         SUM(c) OVER (PARTITION BY source ORDER BY x
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM hist),
      |tot AS (SELECT source, count(*) AS n FROM perdoc GROUP BY 1),
      |cuts AS (
      |  SELECT c.source,
      |         MIN(CASE WHEN cum >= (5 * n + 99) // 100 THEN x END) AS lo,
      |         MIN(CASE WHEN cum >= (95 * n + 99) // 100 THEN x END) AS hi
      |  FROM cum c JOIN tot t ON t.source = c.source
      |  GROUP BY 1)
      |SELECT p.source, CAST(count(*) AS BIGINT) AS n_docs,
      |       MAX(c.lo) AS p5_toks, MAX(c.hi) AS p95_toks,
      |       CAST(SUM(least(greatest(p.x, c.lo), c.hi)) AS DOUBLE)
      |         / CAST(count(*) AS DOUBLE) AS winsorized_mean,
      |       CAST(SUM(CASE WHEN p.x < c.lo OR p.x > c.hi THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_clamped
      |FROM perdoc p JOIN cuts c ON c.source = p.source
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // q_welch_ttest — Welch's unequal-variance t between every source
  // pair over the per-document token count: t statistic plus the
  // Welch–Satterthwaite effective degrees of freedom. The PARAMETRIC
  // sibling of q_mann_whitney (rank shift) and q_ks_test (sup
  // distance) — the three-test drift panel a pipeline dashboard shows
  // together, each sensitive to a different alternative.
  //
  // Exactness: per-source n, Σx, Σx² are exact BIGINTs; means,
  // variances (n−1 denominator), t and df are ONE double expression
  // over identical integers on both engines — no snapping (the
  // ks-test rule). Variance terms use the numerically-stable
  // (n·Σx² − (Σx)²)/(n·(n−1)) form evaluated identically.
  //
  // Scale shape: one source-keyed partial-agg over the scan, then a
  // sources² pair fan-out of 3-number rows. Nothing else.
  // ------------------------------------------------------------------
  val qWelchTtest: Q = (s, d) => welchTtest(Tables.documents(s, d))

  /** Core of q_welch_ttest over any (source, text) frame. */
  def welchTtest(docs: DataFrame): DataFrame = {
    val m = docs
      .select(col("source"),
              size(Ops.tokens(col("text"))).cast("bigint").as("x"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
           sum(col("x") * col("x")).as("sxx"))
    def dbl(c: Column) = c.cast("double")
    val a = m.select(col("source").as("src_a"), col("n").as("n_a"),
                     col("sx").as("sx_a"), col("sxx").as("sxx_a"))
    val b = m.select(col("source").as("src_b"), col("n").as("n_b"),
                     col("sx").as("sx_b"), col("sxx").as("sxx_b"))
    val j = a.crossJoin(b).filter(col("src_a") < col("src_b"))
      .withColumn("mean_a", dbl(col("sx_a")) / dbl(col("n_a")))
      .withColumn("mean_b", dbl(col("sx_b")) / dbl(col("n_b")))
      // se2 = s²/n in the stable integer-numerator form:
      // (n·Σx² − (Σx)²) / (n·(n−1)) / n.
      .withColumn("se2_a",
        (dbl(col("n_a")) * dbl(col("sxx_a")) - dbl(col("sx_a")) * dbl(col("sx_a")))
          / (dbl(col("n_a")) * (dbl(col("n_a")) - 1.0)) / dbl(col("n_a")))
      .withColumn("se2_b",
        (dbl(col("n_b")) * dbl(col("sxx_b")) - dbl(col("sx_b")) * dbl(col("sx_b")))
          / (dbl(col("n_b")) * (dbl(col("n_b")) - 1.0)) / dbl(col("n_b")))
    j.select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        ((col("mean_a") - col("mean_b"))
           / sqrt(col("se2_a") + col("se2_b"))).as("t"),
        (((col("se2_a") + col("se2_b")) * (col("se2_a") + col("se2_b")))
           / (col("se2_a") * col("se2_a") / (dbl(col("n_a")) - 1.0)
                + col("se2_b") * col("se2_b") / (dbl(col("n_b")) - 1.0)))
          .as("df"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val qWelchTtestSql: String =
    """WITH m AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n,
      |         CAST(SUM(x) AS BIGINT) AS sx,
      |         CAST(SUM(x * x) AS BIGINT) AS sxx
      |  FROM (SELECT source,
      |               CAST(len(string_split(text, ' ')) AS BIGINT) AS x
      |        FROM documents)
      |  GROUP BY 1),
      |pairs AS (
      |  SELECT a.source AS src_a, b.source AS src_b,
      |         a.n AS n_a, b.n AS n_b,
      |         CAST(a.sx AS DOUBLE) / CAST(a.n AS DOUBLE) AS mean_a,
      |         CAST(b.sx AS DOUBLE) / CAST(b.n AS DOUBLE) AS mean_b,
      |         (CAST(a.n AS DOUBLE) * CAST(a.sxx AS DOUBLE)
      |            - CAST(a.sx AS DOUBLE) * CAST(a.sx AS DOUBLE))
      |           / (CAST(a.n AS DOUBLE) * (CAST(a.n AS DOUBLE) - 1.0))
      |           / CAST(a.n AS DOUBLE) AS se2_a,
      |         (CAST(b.n AS DOUBLE) * CAST(b.sxx AS DOUBLE)
      |            - CAST(b.sx AS DOUBLE) * CAST(b.sx AS DOUBLE))
      |           / (CAST(b.n AS DOUBLE) * (CAST(b.n AS DOUBLE) - 1.0))
      |           / CAST(b.n AS DOUBLE) AS se2_b
      |  FROM m a CROSS JOIN m b WHERE a.source < b.source)
      |SELECT src_a, src_b, n_a, n_b,
      |       (mean_a - mean_b) / sqrt(se2_a + se2_b) AS t,
      |       ((se2_a + se2_b) * (se2_a + se2_b))
      |         / (se2_a * se2_a / (CAST(n_a AS DOUBLE) - 1.0)
      |            + se2_b * se2_b / (CAST(n_b AS DOUBLE) - 1.0)) AS df
      |FROM pairs ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // q_chi2 — chi-square test of independence on the source × lang
  // contingency table: expected counts from the marginals, the χ²
  // statistic, and its degrees of freedom. The CATEGORICAL association
  // test next to the numeric drift panel — "is language composition
  // independent of source?" is the first question a mixture designer
  // asks of a crawl manifest.
  //
  // Exactness: observed counts and marginals are BIGINTs; each cell's
  // (O − E)²/E is one double expression of identical integers and the
  // statistic sums those doubles in a DETERMINISTIC order — the cell
  // contributions are first snapped to nano-units (BIGINT) so the
  // cross-partition sum is order-free (the source_divergence
  // discipline), then divided once.
  //
  // Scale shape: one (source, lang) partial-agg; everything after
  // lives on the contingency table (sources × langs rows).
  // ------------------------------------------------------------------
  val qChi2: Q = (s, d) => chi2(Tables.documents(s, d))

  /** Core of q_chi2 over any (source, lang) frame. */
  def chi2(docs: DataFrame): DataFrame = {
    val obs = docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("o"))
    val rowM = obs.groupBy(col("source")).agg(sum(col("o")).as("nr"))
    val colM = obs.groupBy(col("lang")).agg(sum(col("o")).as("nc"))
    val tot = obs.agg(sum(col("o")).as("n"),
                      count_distinct(col("source")).as("r"),
                      count_distinct(col("lang")).as("c"))
    // Zero-filled grid: absent (source, lang) cells still contribute
    // E = nr·nc/n to the statistic.
    val cells = rowM.crossJoin(colM)
      .join(obs, Seq("source", "lang"), "left")
      .select(col("source"), col("lang"), col("nr"), col("nc"),
              coalesce(col("o"), lit(0L)).as("o"))
    cells.crossJoin(tot)
      .select(col("r"), col("c"),
        // (O − E)²/E with E = nr·nc/n, snapped to nano-units for an
        // order-free sum.
        round(((col("o").cast("double")
                     - col("nr").cast("double") * col("nc").cast("double")
                         / col("n").cast("double"))
                  * (col("o").cast("double")
                       - col("nr").cast("double") * col("nc").cast("double")
                           / col("n").cast("double")))
                 / (col("nr").cast("double") * col("nc").cast("double")
                      / col("n").cast("double")) * 1e9).cast("long")
          .as("contrib_n"))
      .groupBy(col("r"), col("c"))
      .agg((sum(col("contrib_n")).cast("double") / 1e9).as("chi2"))
      .select(col("chi2"), ((col("r") - 1L) * (col("c") - 1L)).as("df"))
  }

  val qChi2Sql: String =
    """WITH obs AS (
      |  SELECT source, lang, count(*) AS o FROM documents GROUP BY 1, 2),
      |rm AS (SELECT source, CAST(SUM(o) AS BIGINT) AS nr
      |       FROM obs GROUP BY 1),
      |cm AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS nc FROM obs GROUP BY 1),
      |tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
      |               CAST(COUNT(DISTINCT source) AS BIGINT) AS r,
      |               CAST(COUNT(DISTINCT lang) AS BIGINT) AS c FROM obs),
      |cells AS (
      |  SELECT rm.source, cm.lang, rm.nr, cm.nc,
      |         COALESCE(o.o, 0) AS o
      |  FROM rm CROSS JOIN cm
      |  LEFT JOIN obs o ON o.source = rm.source AND o.lang = cm.lang),
      |contrib AS (
      |  SELECT t.r, t.c,
      |         CAST(round(
      |           (CAST(ce.o AS DOUBLE)
      |                 - CAST(ce.nr AS DOUBLE) * CAST(ce.nc AS DOUBLE)
      |                     / CAST(t.n AS DOUBLE))
      |             * (CAST(ce.o AS DOUBLE)
      |                 - CAST(ce.nr AS DOUBLE) * CAST(ce.nc AS DOUBLE)
      |                     / CAST(t.n AS DOUBLE))
      |             / (CAST(ce.nr AS DOUBLE) * CAST(ce.nc AS DOUBLE)
      |                  / CAST(t.n AS DOUBLE)) * 1000000000.0, 0)
      |           AS BIGINT) AS contrib_n
      |  FROM cells ce CROSS JOIN tot t)
      |SELECT CAST(SUM(contrib_n) AS DOUBLE) / 1000000000.0 AS chi2,
      |       (r - 1) * (c - 1) AS df
      |FROM contrib GROUP BY r, c""".stripMargin

  // ------------------------------------------------------------------
  // q_assoc_rules — association rules over per-user event-type baskets:
  // for every directed type pair a → b, support P(a,b), confidence
  // P(b|a) and lift P(a,b)/(P(a)P(b)) over the user population, under
  // a minimum co-occurrence floor. The market-basket classic (Agrawal
  // et al.) on the behavioral axis the sequence-based
  // q_transition_matrix doesn't cover: "users who ever do A also do
  // B", order-free.
  //
  // Exactness: all four counts (n_ab, n_a, n_b, N) are BIGINTs off
  // distinct user sets; support/confidence/lift are single double
  // expressions of identical integers (the ks-test rule).
  //
  // Scale shape: baskets collapse to DISTINCT (user, type) in one
  // partial-agg shuffle; the within-user pair join fans out at most
  // |types|² per user (items-per-basket bounded — the standard basket
  // assumption; a retail-cardinality itemset would first cap to the
  // per-user top-K items); marginals are type-bounded and broadcast
  // back.
  // ------------------------------------------------------------------
  val AssocMinCount = 5L

  val qAssocRules: Q = (s, d) => assocRules(Tables.events(s, d))

  /** Core of q_assoc_rules over any (user_id, event_type) frame. */
  def assocRules(events: DataFrame): DataFrame = {
    val baskets = events.select(col("user_id"), col("event_type")).distinct()
    val nUsers = baskets.select(col("user_id")).distinct()
      .agg(count(lit(1)).as("n_users"))
    val marg = baskets.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_item"))
    val pairs = baskets.select(col("user_id"), col("event_type").as("a"))
      .join(baskets.select(col("user_id"), col("event_type").as("b")),
            Seq("user_id"))
      .filter(col("a") =!= col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= AssocMinCount)
    def dbl(c: Column) = c.cast("double")
    pairs
      .join(marg.select(col("event_type").as("a"), col("n_item").as("n_a")),
            Seq("a"))
      .join(marg.select(col("event_type").as("b"), col("n_item").as("n_b")),
            Seq("b"))
      .crossJoin(nUsers)
      .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
              (dbl(col("n_ab")) / dbl(col("n_users"))).as("support"),
              (dbl(col("n_ab")) / dbl(col("n_a"))).as("confidence"),
              (dbl(col("n_ab")) * dbl(col("n_users"))
                 / (dbl(col("n_a")) * dbl(col("n_b")))).as("lift"))
      .orderBy(col("a"), col("b"))
  }

  val qAssocRulesSql: String =
    s"""WITH baskets AS (
       |  SELECT DISTINCT user_id, event_type FROM events),
       |nu AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
       |       FROM baskets),
       |marg AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_item
       |         FROM baskets GROUP BY 1),
       |pairs AS (
       |  SELECT x.event_type AS a, y.event_type AS b,
       |         CAST(count(*) AS BIGINT) AS n_ab
       |  FROM baskets x JOIN baskets y ON y.user_id = x.user_id
       |  WHERE x.event_type <> y.event_type
       |  GROUP BY 1, 2 HAVING count(*) >= $AssocMinCount)
       |SELECT p.a, p.b, p.n_ab, ma.n_item AS n_a, mb.n_item AS n_b,
       |       CAST(p.n_ab AS DOUBLE) / CAST(n.n_users AS DOUBLE) AS support,
       |       CAST(p.n_ab AS DOUBLE) / CAST(ma.n_item AS DOUBLE)
       |         AS confidence,
       |       CAST(p.n_ab AS DOUBLE) * CAST(n.n_users AS DOUBLE)
       |         / (CAST(ma.n_item AS DOUBLE) * CAST(mb.n_item AS DOUBLE))
       |         AS lift
       |FROM pairs p
       |JOIN marg ma ON ma.event_type = p.a
       |JOIN marg mb ON mb.event_type = p.b
       |CROSS JOIN nu n
       |ORDER BY 1, 2""".stripMargin

  val queries: Map[String, Q] = Map(
    "q_assoc_rules"   -> qAssocRules,
    "q_welch_ttest"   -> qWelchTtest,
    "q_chi2"          -> qChi2,
    "q_hampel"        -> qHampel,
    "q_winsorize"     -> qWinsorize,
    "q_knn_classify"  -> qKnnClassify,
    "q_ab_test"       -> qAbTest,
    "q_decile_lift"   -> qDecileLift,
    "q_entropy_rate"  -> qEntropyRate,
    "q_dbscan"        -> qDbscan,
    "q_spearman"      -> qSpearman,
    "q_robust_zscore" -> qRobustZscore,
    "q_cusum"         -> qCusum,
    "q_sax_motifs"    -> qSaxMotifs,
  )

  val oracles: Map[String, String] = Map(
    "q_assoc_rules"   -> qAssocRulesSql,
    "q_welch_ttest"   -> qWelchTtestSql,
    "q_chi2"          -> qChi2Sql,
    "q_hampel"        -> qHampelSql,
    "q_winsorize"     -> qWinsorizeSql,
    "q_knn_classify"  -> qKnnClassifySql,
    "q_ab_test"       -> qAbTestSql,
    "q_decile_lift"   -> qDecileLiftSql,
    "q_entropy_rate"  -> qEntropyRateSql,
    "q_dbscan"        -> qDbscanSql,
    "q_spearman"      -> qSpearmanSql,
    "q_robust_zscore" -> qRobustZscoreSql,
    "q_cusum"         -> qCusumSql,
    "q_sax_motifs"    -> qSaxMotifsSql,
  )
}
