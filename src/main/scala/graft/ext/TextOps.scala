package graft.ext

import graft.Tables
import graft.ops.Ops
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over `documents`:
  * corpus stats, BPE-ish token counting, language-ID heuristic, quality
  * scoring, content fingerprinting. All pure `functions._` column math —
  * embarrassingly parallel scans, no shuffles except the final group-bys.
  */
object TextOps {
  type Q = (SparkSession, String) => DataFrame

  // Corpus statistics per language: doc/token/char totals (exact integer
  // arithmetic) + tokens-per-doc as a deterministic double division.
  val qTextStats: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(size(Ops.tokens(col("text"))).cast("bigint")).as("total_tokens"),
           sum(col("n_chars")).as("total_chars"))
      .withColumn("avg_tokens", col("total_tokens").cast("double") / col("n_docs"))
      .orderBy(col("lang"))

  val qTextStatsSql: String =
    """SELECT lang, count(*) AS n_docs,
      |       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
      |       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |       CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / count(*) AS avg_tokens
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  // BPE-ish token counting: runs of letters, runs of digits, or single
  // non-alphanumeric marks — the classic pre-tokenizer regex shape.
  // Identical pattern semantics in Java regex and DuckDB's RE2 for this
  // ASCII-class-only pattern.
  private val TokenPattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"

  val qTokenCount: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("source"),
              expr(s"size(regexp_extract_all(text, '$TokenPattern', 0))")
                .cast("bigint").as("n_toks"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_toks")).as("total_bpe_tokens"),
           max(col("n_toks")).as("max_bpe_tokens"))
      .orderBy(col("source"))

  val qTokenCountSql: String =
    s"""SELECT source, count(*) AS n_docs,
       |       CAST(SUM(len(regexp_extract_all(text, '$TokenPattern'))) AS BIGINT)
       |         AS total_bpe_tokens,
       |       CAST(MAX(len(regexp_extract_all(text, '$TokenPattern'))) AS BIGINT)
       |         AS max_bpe_tokens
       |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  // Language-ID heuristic: per-language stopword-evidence scores with a
  // deterministic argmax (ties broken by the fixed language order below,
  // mirrored exactly in the oracle SQL). Output is the (true lang ×
  // predicted) confusion matrix — how a pipeline would evaluate the
  // heuristic against labeled data. The synthetic corpus shares an
  // English-ish vocabulary across langs, so the matrix mostly shows
  // en/other; the operator shape is what matters.
  /** How many of `words` occur in `c` as space-delimited tokens — ONE
    * compiled byte scan (graftshim.StopWordHits, spec-pinned equal to
    * the Σ contains(' '||c||' ', ' w ') form below). The contains stack
    * evaluated |words| padded COPIES of the text plus |words| scans per
    * row; withLangScores ran 24 of them — measured as the top CPU item
    * of the pipeline family (guide §1.2 "per-task work").
    */
  private[graft] def hits(c: Column, words: Seq[String]): Column = {
    import org.apache.spark.sql.graftshim.{Shim, StopWordHits}
    Shim.column(StopWordHits(Shim.expression(c), words))
  }

  /** The replaced formulation, kept as the spec oracle for StopWordHits
    * (TokenTextExprsSpec pins native == this on crafted + fixture text).
    */
  private[graft] def hitsContainsForm(c: Column, words: Seq[String]): Column =
    words.map(w => when(contains(concat(lit(" "), c, lit(" ")), lit(s" $w ")), 1)
                     .otherwise(0))
      .reduce(_ + _)

  /** Tiny per-language stopword evidence sets, in tie-break priority
    * order.
    */
  val StopSets: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "es" -> Seq("el", "los", "las", "que", "y", "es"),
    "fr" -> Seq("le", "les", "des", "et", "est", "une"))

  val EnStop: Seq[String] = StopSets.head._2

  val MinEvidence = 2

  /** Add one `s_<lang>` evidence column per stopword set. Shared with
    * the composed pipeline (ext.Pipeline) so routing can't drift.
    */
  def withLangScores(df: DataFrame): DataFrame =
    StopSets.foldLeft(df) {
      case (acc, (l, words)) => acc.withColumn(s"s_$l", hits(col("text"), words))
    }

  /** Deterministic fixed-priority argmax over the `s_<lang>` columns: a
    * language wins iff it meets the evidence floor and no
    * earlier-priority language ties or beats it.
    */
  def predictedLang: Column =
    StopSets.zipWithIndex.foldRight(lit("other")) {
      case (((l, _), i), elseCol) =>
        val beatsLater = StopSets.drop(i + 1)
          .map { case (m, _) => col(s"s_$l") >= col(s"s_$m") }
          .foldLeft(lit(true))(_ && _)
        when(col(s"s_$l") >= MinEvidence && beatsLater, lit(l)).otherwise(elseCol)
    }

  val qLangId: Q = (s, d) =>
    withLangScores(Tables.documents(s, d))
      .withColumn("predicted", predictedLang)
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("predicted"))

  val qLangIdSql: String = {
    def scoreExpr(words: Seq[String]) = words
      .map(w => s"CASE WHEN ' ' || text || ' ' LIKE '% $w %' THEN 1 ELSE 0 END")
      .mkString("(", " + ", ")")
    val scores = StopSets.map { case (l, ws) => s"${scoreExpr(ws)} AS s_$l" }
    val branches = StopSets.zipWithIndex.map { case ((l, _), i) =>
      val beatsLater = StopSets.drop(i + 1).map { case (m, _) => s"s_$l >= s_$m" }
      val cond = (s"s_$l >= $MinEvidence" +: beatsLater).mkString(" AND ")
      s"WHEN $cond THEN '$l'"
    }
    s"""WITH scored AS (SELECT lang, ${scores.mkString(", ")} FROM documents)
       |SELECT lang,
       |       CASE ${branches.mkString(" ")} ELSE 'other' END AS predicted,
       |       count(*) AS n_docs
       |FROM scored GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // Quality scoring: length factor, punctuation-free ratio, stopword
  // presence — deterministic per-row double arithmetic (no re-association,
  // bit-identical to the oracle). Output per doc.
  //
  // The expression is factored out (Spark Column + DuckDB SQL in
  // lockstep) because it doubles as the SURVIVOR POLICY of
  // q_dedup_keep_best: "keep the best duplicate" means exactly the
  // published quality score, not a second ad-hoc metric.
  /** Per-row quality over a `documents`-shaped frame (text, n_chars). */
  def qualityColumn: Column = {
    val toks = size(Ops.tokens(col("text"))).cast("double")
    // Native byte-scan count (== length(regexp_replace(text,
    // "[^a-zA-Z0-9 ]", "")), spec-pinned): the regex formulation was
    // 499 s of this column's ~515 s executor CPU at 100×-diverse.
    val alnum = Ops.alnumSpaceCount(col("text")).cast("double")
    val lenScore = least(toks / 100.0, lit(1.0))
    val cleanRatio = alnum / col("n_chars").cast("double")
    val stopScore = least(hits(col("text"), EnStop).cast("double") / 3.0, lit(1.0))
    (lenScore + cleanRatio + stopScore) / 3.0
  }

  /** The same expression in DuckDB SQL, scoped to a `documents` row. */
  val qualitySqlExpr: String = {
    val scoreExpr = EnStop
      .map(w => s"CASE WHEN ' ' || text || ' ' LIKE '% $w %' THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""(least(len(string_split(text, ' ')) / 100.0, 1.0)
       |        + CAST(length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
       |            / CAST(n_chars AS DOUBLE)
       |        + least(($scoreExpr) / 3.0, 1.0)) / 3.0""".stripMargin
  }

  val qQualityScore: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), qualityColumn.as("quality"))
    // No final orderBy: corpus-sized output; the gate sorts rows.

  val qQualityScoreSql: String =
    s"""SELECT doc_id,
       |       $qualitySqlExpr AS quality
       |FROM documents ORDER BY doc_id""".stripMargin

  // Gopher-style rule-funnel quality filter: every document is attributed
  // to the FIRST rule it fails (token-count bounds, mean word length,
  // stopword evidence) or to the surviving pass bucket, with doc and token
  // totals per stage — the per-rule rejection report a pre-training
  // pipeline publishes before committing a corpus. Stage labels carry a
  // numeric prefix so the natural string order IS the funnel order.
  // Pure per-row integer/single-division math → exact cross-engine; one
  // scan, one partial-aggregated groupBy.
  val MinFunnelToks = 25
  val MaxFunnelToks = 90
  val MinMeanWordLen = 4.0
  val MaxMeanWordLen = 10.0

  val qFilterFunnel: Q = (s, d) => filterFunnel(Tables.documents(s, d))

  /** The first-failing-rule stage label over `text` — one definition
    * shared by q_filter_funnel and the composed pipeline's quality gate
    * so the two can never disagree on what "passes".
    */
  private[graft] def funnelStage: org.apache.spark.sql.Column = {
    val toks = size(Ops.tokens(col("text")))
    // chars excluding separators / token count: one IEEE division, no
    // re-association anywhere, so the rule boundary is bit-identical in
    // both engines.
    // translate, not regexp_replace: same removed-spaces length (the
    // oracle's replace(text, ' ', '')) without the regex engine.
    val meanWordLen =
      length(translate(col("text"), " ", "")).cast("double") /
        toks.cast("double")
    when(toks < MinFunnelToks, lit("1_too_short"))
      .when(toks > MaxFunnelToks, lit("2_too_long"))
      .when(meanWordLen < MinMeanWordLen || meanWordLen > MaxMeanWordLen,
            lit("3_word_len"))
      .when(hits(col("text"), EnStop) < MinEvidence, lit("4_low_stopword"))
      .otherwise(lit("5_pass"))
  }

  /** funnelStage's DuckDB face, inlined over a relation exposing
    * `text` (no precomputed helper columns, so it can sit in any CTE).
    */
  private[graft] def funnelStageSqlExpr: String = {
    val stopHits = EnStop
      .map(w => s"CASE WHEN ' ' || text || ' ' LIKE '% $w %' THEN 1 ELSE 0 END")
      .mkString("(", " + ", ")")
    s"""CASE WHEN len(string_split(text, ' ')) < $MinFunnelToks THEN '1_too_short'
       |     WHEN len(string_split(text, ' ')) > $MaxFunnelToks THEN '2_too_long'
       |     WHEN CAST(length(replace(text, ' ', '')) AS DOUBLE)
       |            / len(string_split(text, ' ')) < CAST($MinMeanWordLen AS DOUBLE)
       |       OR CAST(length(replace(text, ' ', '')) AS DOUBLE)
       |            / len(string_split(text, ' ')) > CAST($MaxMeanWordLen AS DOUBLE)
       |       THEN '3_word_len'
       |     WHEN $stopHits < $MinEvidence THEN '4_low_stopword'
       |     ELSE '5_pass' END""".stripMargin
  }

  /** The transform itself, over any (text) frame — shared with the
    * crafted-corpus spec so invariants pin the same code path.
    */
  def filterFunnel(docs: DataFrame): DataFrame = {
    val toks = size(Ops.tokens(col("text")))
    docs
      .select(funnelStage.as("stage"), toks.cast("bigint").as("n_toks"))
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
      .orderBy(col("stage"))
  }

  val qFilterFunnelSql: String = {
    val stopHits = EnStop
      .map(w => s"CASE WHEN ' ' || text || ' ' LIKE '% $w %' THEN 1 ELSE 0 END")
      .mkString("(", " + ", ")")
    s"""WITH x AS (
       |  SELECT len(string_split(text, ' ')) AS n_toks,
       |         CAST(length(replace(text, ' ', '')) AS DOUBLE)
       |           / len(string_split(text, ' ')) AS mwl,
       |         $stopHits AS stop_hits
       |  FROM documents)
       |SELECT CASE WHEN n_toks < $MinFunnelToks THEN '1_too_short'
       |            WHEN n_toks > $MaxFunnelToks THEN '2_too_long'
       |            WHEN mwl < CAST($MinMeanWordLen AS DOUBLE)
       |              OR mwl > CAST($MaxMeanWordLen AS DOUBLE) THEN '3_word_len'
       |            WHEN stop_hits < $MinEvidence THEN '4_low_stopword'
       |            ELSE '5_pass' END AS stage,
       |       count(*) AS n_docs,
       |       CAST(SUM(n_toks) AS BIGINT) AS n_tokens
       |FROM x GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // Content fingerprint: MD5 of whitespace-normalized lowercase text —
  // the oracle-able face of fingerprinting (the polynomial rolling hash
  // rides in q_dedup_simhash). Grouped to expose collision multiplicity.
  val qFingerprint: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy(md5(Ops.normalizeText(col("text"))).as("fingerprint"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_docs"))
      .orderBy(col("canonical_id"))

  val qFingerprintSql: String =
    """SELECT md5(lower(regexp_replace(text, '[ \t\n\x0B\f\r]+', ' ', 'g'))) AS fingerprint,
      |       min(doc_id) AS canonical_id, count(*) AS n_docs
      |FROM documents GROUP BY 1 ORDER BY 2""".stripMargin

  // ------------------------------------------------------------------
  // q_vocab_coverage — tokenizer-prep vocabulary audit: take the top
  // VocabSize terms by corpus frequency as the working vocabulary and
  // report each document's out-of-vocabulary token count/rate (the
  // signal that decides whether a vocab is big enough, and a per-doc
  // noise filter: high OOV ≈ garbled text). The vocabulary selection is
  // a total order (count desc, term asc), so the V-boundary is
  // deterministic in both engines.
  //
  // Scale shape: term counts are one partial-aggregated shuffle over
  // the (bounded, Zipf-light) distinct-term table; top-V is
  // TakeOrderedAndProject (no global sort materialization); the
  // per-doc OOV count is a broadcast-joinable lookup against V rows.
  // ------------------------------------------------------------------
  val VocabSize = 20

  val qVocabCoverage: Q = (s, d) => {
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), explode(Ops.tokens(col("text"))).as("term"))
    val vocab = tok.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term").asc)
      .limit(VocabSize)
      .select(col("term"), lit(1).as("in_vocab"))
    tok.join(broadcast(vocab), Seq("term"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"),
           sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_toks"), col("n_oov"),
              round(col("n_oov").cast("double") /
                      col("n_toks").cast("double"), 6).as("oov_rate"))
      .orderBy(col("doc_id"))
  }

  val qVocabCoverageSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |  FROM documents),
       |tf AS (SELECT term, COUNT(*) AS cnt FROM tok GROUP BY 1),
       |vocab AS (SELECT term FROM tf ORDER BY cnt DESC, term ASC
       |          LIMIT $VocabSize)
       |SELECT t.doc_id, COUNT(*) AS n_toks,
       |       CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_oov,
       |       round(CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |               / CAST(COUNT(*) AS DOUBLE), 6) AS oov_rate
       |FROM tok t LEFT JOIN vocab v ON v.term = t.term
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // q_zipf_fit — corpus-health diagnostic: least-squares slope of the
  // log-log term rank-frequency curve per language (natural text sits
  // near -1; machine-generated or templated corpora flatten or steepen
  // visibly). Fit is over the per-language top-ZipfHead terms — the
  // standard head fit, and the reason this scales: ranking happens on
  // the (bounded, distinct-term) frequency table and the regression
  // sees <= ZipfHead rows per language.
  //
  // Cross-engine exactness: ln() per (rank, cnt) is scalar libm (same
  // values both engines); each product term is snapped to integer
  // micro-units BEFORE summing, so the sufficient sums are order-free
  // BIGINTs and the closed-form slope/intercept is one deterministic
  // double expression over them.
  // ------------------------------------------------------------------
  val ZipfHead = 100

  val qZipfFit: Q = (s, d) => {
    val tf = Tables.documents(s, d)
      .select(col("lang"), explode(Ops.tokens(col("text"))).as("term"))
      .groupBy(col("lang"), col("term")).agg(count(lit(1)).as("cnt"))
    val ranked = Ops.topKPerGroup(tf, Seq("lang"), -col("cnt"), col("term"),
                                  ZipfHead)
      .select(col("lang"),
              log(col("rn").cast("double")).as("x"),
              log(col("cnt").cast("double")).as("y"))
    val micro = (c: Column) => round(c * 1e6).cast("long")
    val sums = ranked.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
           sum(micro(col("x"))).as("sx_u"),
           sum(micro(col("y"))).as("sy_u"),
           sum(micro(col("x") * col("y"))).as("sxy_u"),
           sum(micro(col("x") * col("x"))).as("sxx_u"))
      .filter(col("n") >= 2)
    val n = col("n").cast("double")
    val sx = col("sx_u").cast("double") / 1e6
    val sy = col("sy_u").cast("double") / 1e6
    val sxy = col("sxy_u").cast("double") / 1e6
    val sxx = col("sxx_u").cast("double") / 1e6
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    sums.select(col("lang"), col("n").as("n_terms"),
                round(slope, 6).as("slope"),
                round((sy - slope * sx) / n, 6).as("intercept"))
      .orderBy(col("lang"))
  }

  val qZipfFitSql: String =
    s"""WITH tf AS (
       |  SELECT lang, term, COUNT(*) AS cnt
       |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS term
       |        FROM documents)
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT lang,
       |         ln(CAST(row_number() OVER (PARTITION BY lang
       |                   ORDER BY cnt DESC, term ASC) AS DOUBLE)) AS x,
       |         ln(CAST(cnt AS DOUBLE)) AS y,
       |         row_number() OVER (PARTITION BY lang
       |                   ORDER BY cnt DESC, term ASC) AS rn
       |  FROM tf QUALIFY rn <= $ZipfHead),
       |sums AS (
       |  SELECT lang, COUNT(*) AS n,
       |         SUM(CAST(round(x * 1000000.0, 0) AS BIGINT)) AS sx_u,
       |         SUM(CAST(round(y * 1000000.0, 0) AS BIGINT)) AS sy_u,
       |         SUM(CAST(round(x * y * 1000000.0, 0) AS BIGINT)) AS sxy_u,
       |         SUM(CAST(round(x * x * 1000000.0, 0) AS BIGINT)) AS sxx_u
       |  FROM ranked GROUP BY 1 HAVING COUNT(*) >= 2)
       |SELECT lang, n AS n_terms,
       |       round((CAST(n AS DOUBLE) * (CAST(sxy_u AS DOUBLE) / 1000000.0)
       |               - (CAST(sx_u AS DOUBLE) / 1000000.0)
       |                 * (CAST(sy_u AS DOUBLE) / 1000000.0))
       |             / (CAST(n AS DOUBLE) * (CAST(sxx_u AS DOUBLE) / 1000000.0)
       |               - (CAST(sx_u AS DOUBLE) / 1000000.0)
       |                 * (CAST(sx_u AS DOUBLE) / 1000000.0)), 6) AS slope,
       |       round(((CAST(sy_u AS DOUBLE) / 1000000.0)
       |               - ((CAST(n AS DOUBLE) * (CAST(sxy_u AS DOUBLE) / 1000000.0)
       |                   - (CAST(sx_u AS DOUBLE) / 1000000.0)
       |                     * (CAST(sy_u AS DOUBLE) / 1000000.0))
       |                  / (CAST(n AS DOUBLE) * (CAST(sxx_u AS DOUBLE) / 1000000.0)
       |                   - (CAST(sx_u AS DOUBLE) / 1000000.0)
       |                     * (CAST(sx_u AS DOUBLE) / 1000000.0)))
       |                 * (CAST(sx_u AS DOUBLE) / 1000000.0)) / CAST(n AS DOUBLE),
       |             6) AS intercept
       |FROM sums ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // q_feature_hash — hashing-trick document embeddings (the classic
  // feature-hashing / "hashing vectorizer" stage): every token maps to
  // one of FhDim buckets, contributes a ±1 sign, and the document's
  // vector is the per-bucket signed count, L2-normalized. Bridges the
  // text and embedding pillars: the output IS an embedding derived
  // from text by pure deterministic hash math, so the raw components
  // are exact integers and even the unit vector hash-matches (one
  // sqrt + one division per component).
  //
  // ONE md5 digest per token supplies both coordinates — low bits pick
  // the bucket, the next bit picks the sign (the r4 shape spent two
  // digests per token, doubling hash CPU in the hottest per-token
  // scan). FhDim=256 is real hashing-vectorizer width, not toy.
  //
  // Scale shape: explode → one partial-aggregated (doc, bucket) shuffle
  // → one tiny per-doc norm aggregate; no joins, no driver state.
  // Zero-valued buckets are omitted (they carry no norm mass and no
  // information) so the output stays sparse.
  // ------------------------------------------------------------------
  val FhDim = 256
  // The sign bit is the bit just above the bucket bits: (h div FhDim) % 2
  // on both engines. Deriving the shift from FhDim (not a hardcoded 8)
  // keeps Spark and the oracle in lockstep if FhDim ever changes; the
  // modulo-as-bit-slice reading requires a power-of-two width.
  require(Integer.bitCount(FhDim) == 1, s"FhDim must be a power of 2: $FhDim")
  private val FhShift = Integer.numberOfTrailingZeros(FhDim)

  val qFeatureHash: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), explode(Ops.tokens(col("text"))).as("term"))
      .withColumn("h", Ops.md5Bits60(concat(col("term"), lit(":fh"))))
      .select(col("doc_id"),
              (col("h") % FhDim).as("dim"),
              when(shiftright(col("h"), FhShift) % 2 === 0, 1L).otherwise(-1L)
                .as("sgn"))
    val perDim = tok.groupBy(col("doc_id"), col("dim"))
      .agg(sum(col("sgn")).as("raw"))
      .filter(col("raw") =!= 0L)
    // The norm is a window sum over the doc, so perDim is read once.
    val ss = sum(col("raw") * col("raw")).over(Window.partitionBy(col("doc_id")))
    perDim.select(col("doc_id"), col("dim"), col("raw"),
                  round(col("raw").cast("double") /
                          sqrt(ss.cast("double")), 6).as("unit"))
    // No final orderBy: O(docs × dims) output; the gate sorts rows.
  }

  val qFeatureHashSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |  FROM documents),
       |hashed AS (
       |  SELECT doc_id,
       |         ('0x' || substr(md5(term || ':fh'), 1, 15))::BIGINT AS h
       |  FROM tok),
       |dims AS (
       |  SELECT doc_id, h % $FhDim AS dim,
       |         CASE WHEN (h // $FhDim) % 2 = 0 THEN 1 ELSE -1 END AS sgn
       |  FROM hashed),
       |perdim AS (
       |  SELECT doc_id, dim, CAST(SUM(sgn) AS BIGINT) AS raw
       |  FROM dims GROUP BY 1, 2 HAVING SUM(sgn) <> 0),
       |norms AS (SELECT doc_id, SUM(raw * raw) AS ss FROM perdim GROUP BY 1)
       |SELECT p.doc_id, p.dim, p.raw,
       |       round(CAST(p.raw AS DOUBLE) / sqrt(CAST(n.ss AS DOUBLE)), 6)
       |         AS unit
       |FROM perdim p JOIN norms n USING (doc_id)""".stripMargin

  // ------------------------------------------------------------------
  // q_quality_classifier — a text-quality classifier TRAINED IN-ENGINE
  // (the fastText-style weak-supervision stage real curation pipelines
  // run at corpus scale): logistic-style gradient descent on hashed
  // bag-of-words features, weak labels = the lang=='en' slice, QcSteps
  // full-batch steps, then every document scored with the learned
  // weights. Completes the trained-model family (k-means codebooks,
  // PQ sub-codebooks, BPE merges, unigram LMs) with a supervised
  // member.
  //
  // Exactness (the Lloyd-funnel discipline, supervised edition):
  //  - features are md5-bucket token-count RATIOS (cnt/n_toks — one
  //    int/int division, identical both engines);
  //  - the squash is a RATIONAL sigmoid p = 0.5 + z/(2(1+|z|)) — pure
  //    +,*,/,abs, so no transcendental whose last ulp could differ
  //    (exp is the one libm call the repo has never leaned on);
  //  - every cross-row sum (per-doc z, per-bucket gradient, bias
  //    gradient) snaps its per-row term to integer micro-units first —
  //    order-free BIGINT at any parallelism;
  //  - weight updates are one identical double expression per step:
  //    w' = w - Lr*(g_u/1e6)/N. The oracle unrolls QcSteps as
  //    MATERIALIZED CTE stages.
  //
  // Scale shape: one (doc, bucket) partial-agg shuffle builds features;
  // each step is one bounded-key aggregate (QcDim+1 gradient cells
  // collected to the driver — the trainCodebook pattern) over the
  // persisted feature table; scoring is a map over the same table.
  // ------------------------------------------------------------------
  val QcDim = 64
  val QcSteps = 2
  val QcLr = 4.0
  val QcTargetLang = "en"

  val qQualityClassifier: Q = (s, d) =>
    qualityClassifier(Tables.documents(s, d))

  /** Core of q_quality_classifier over any (doc_id, lang, text) frame.
    *
    * Round-15 shape (same numbers, far less plumbing): features are ONE
    * dense count vector per document, built map-side by a compiled
    * single-pass expression (graftshim.TokenBucketCounts) — the former
    * explode → per-token hex-md5 → (doc, bucket) partial-agg shuffle →
    * n_toks re-aggregate → join is gone, and with it every exchange of
    * the feature build. Each training pass is then a pure per-row map
    * (z via graftshim.QcZMicro), so only the ≤QcDim+2-cell gradient
    * aggregate ever shuffles. Bit-identical by construction: identical
    * salted-md5 buckets, identical per-term doubles, order-free BIGINT
    * micro-unit sums (dense 0-count buckets contribute round(0) = 0);
    * pinned by TokenTextExprsSpec and the unchanged oracle.
    */
  def qualityClassifier(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftshim.{Shim, TokenBucketCounts}
    // text-notNull filter preserves the old explode semantics (a null
    // token array produced no posting rows, dropping the doc).
    // Eagerly CHECKPOINTED, not persisted: the per-step gradient union
    // has three branches over this frame inside one fused stage, and a
    // lazily-persisted cache raced/re-derived the whole per-token hash
    // pass per branch at 100×-diverse (profiled: 3× full parquet input
    // bytes and 194 cpu-s in one stage). The leaf makes the token pass
    // run exactly once at any scale.
    val f = graft.PlanMode.checkpointTail(docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
              Shim.column(TokenBucketCounts(
                Shim.expression(Ops.tokens(col("text"))), ":qc", QcDim))
                .as("bc"),
              // every token lands in exactly one bucket, so the old
              // n_toks (Σ bucket counts) is the token-array length
              size(Ops.tokens(col("text"))).cast("long").as("n_toks"),
              when(col("lang") === QcTargetLang, 1.0).otherwise(0.0).as("y")))
    // AQE stays on (round 15): with the map-side dense features the
    // training steps are a ≤QcDim+2-cell aggregate each — AQE coalesces
    // their exchanges to one task instead of 32 sort/agg micro-tasks
    // (the minLabelPropagate finding; measured equal-or-better here).
    qcTrainScore(f)
  }

  private def qcTrainScore(f: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftshim.{QcZMicro, Shim}

    def zOf(w: Array[Double], bias: Double): DataFrame =
      f.select(col("doc_id"), col("bc"), col("n_toks"), col("y"),
               Shim.column(QcZMicro(Shim.expression(col("bc")),
                                    Shim.expression(col("n_toks")),
                                    w.toIndexedSeq)).as("z_u"))
        .withColumn("z", col("z_u") / 1e6 + bias)
        .withColumn("p",
          lit(0.5) + col("z") / (lit(2.0) * (lit(1.0) + abs(col("z")))))

    var w = Array.fill(QcDim)(0.0)
    var bias = 0.0
    var n = -1L // doc count, learned from step 1's aggregate
    for (_ <- 1 to QcSteps) {
      // ONE bounded aggregate per step, ONE branch: per-document the
      // native QcGradMicro emits the QcDim per-bucket gradient terms
      // PLUS the bias term (slot QcDim → sentinel bucket -1) and the
      // doc-count 1 (slot QcDim+1 → sentinel -2), so `err` — whose
      // per-document logit is the expensive part — is evaluated exactly
      // once per doc per step. The old three-branch unionAll
      // re-evaluated the logit subtree per branch (profiled at
      // 100×-diverse: 3× input bytes and ~380 executor-cpu-s of
      // re-derived BigDecimal rounding). Identical g_u per cell: same
      // per-term round/cast semantics (QcRound == Spark Round, spec-
      // pinned), same order-free BIGINT sums, 0-count buckets add 0.
      val gradArr = {
        import org.apache.spark.sql.graftshim.{QcGradMicro, Shim}
        Shim.column(QcGradMicro(Shim.expression(col("bc")),
                                Shim.expression(col("n_toks")),
                                Shim.expression(col("err")), QcDim))
      }
      val cells = zOf(w, bias)
        .select(col("bc"), col("n_toks"), (col("p") - col("y")).as("err"))
        .select(posexplode(gradArr).as(Seq("pos", "g")))
        .select(when(col("pos") === QcDim, lit(-1L))
                  .when(col("pos") === QcDim + 1, lit(-2L))
                  .otherwise(col("pos").cast("long")).as("bucket"),
                col("g"))
        .groupBy(col("bucket")).agg(sum(col("g")).as("g_u"))
        .collect() // bounded: <= QcDim + 2 rows
      // getOrElse(1): on an EMPTY feature table every gradient cell is
      // absent, all updates below are no-ops, and scoring returns an
      // empty frame — n's value is then never observable (it only
      // scales updates), so any nonzero default avoids the div-by-zero.
      if (n < 0) n = cells.find(_.getLong(0) == -2L).map(_.getLong(1))
                      .getOrElse(1L)
      val gbU = cells.find(_.getLong(0) == -1L).map(_.getLong(1)).getOrElse(0L)
      val nw = w.clone()
      cells.filter(_.getLong(0) >= 0L).foreach { r =>
        val bkt = r.getLong(0).toInt
        nw(bkt) = nw(bkt) - QcLr * (r.getLong(1).toDouble / 1e6) / n
      }
      w = nw
      bias = bias - QcLr * (gbU.toDouble / 1e6) / n
    }

    val out = zOf(w, bias)
      .select(col("doc_id"), col("y").cast("bigint").as("label"),
              round(col("p"), 6).as("score"),
              when(col("p") >= 0.5, 1L).otherwise(0L).as("pred"))
      .withColumn("correct",
        when(col("pred") === col("label"), 1L).otherwise(0L))
      .orderBy(col("doc_id"))
    out
  }

  /** The full train-then-score CTE chain through `pf` (per-doc final
    * probabilities), shared by the classifier oracle and the
    * threshold-sweep oracle — one definition of the trained model.
    */
  private val qcChainCtes: String = {
    // One gradient step: score with (prevW, prevB), aggregate micro-unit
    // gradients, emit (nextW, nextB).
    def step(pw: String, pb: String, k: Int): String =
      s"""z$k AS MATERIALIZED (
         |  SELECT f.doc_id, max(f.y) AS y,
         |         CAST(SUM(CAST(round(w.w * f.cnt / f.n_toks * 1000000.0, 0)
         |                       AS BIGINT)) AS BIGINT) AS z_u
         |  FROM f JOIN $pw w USING (bucket) GROUP BY 1),
         |p$k AS MATERIALIZED (
         |  SELECT doc_id, y, 0.5 + z / (2.0 * (1.0 + abs(z))) AS p
         |  FROM (SELECT doc_id, y,
         |               CAST(z_u AS DOUBLE) / 1000000.0 + b.b AS z
         |        FROM z$k CROSS JOIN $pb b)),
         |g$k AS (
         |  SELECT f.bucket,
         |         CAST(SUM(CAST(round((p.p - p.y) * f.cnt / f.n_toks
         |                              * 1000000.0, 0) AS BIGINT)) AS BIGINT)
         |           AS g_u
         |  FROM f JOIN p$k p USING (doc_id) GROUP BY 1),
         |gb$k AS (
         |  SELECT CAST(SUM(CAST(round((p - y) * 1000000.0, 0) AS BIGINT))
         |              AS BIGINT) AS gb_u
         |  FROM p$k),
         |w$k AS MATERIALIZED (
         |  SELECT w.bucket,
         |         w.w - $QcLr * (CAST(COALESCE(g.g_u, 0) AS DOUBLE)
         |                          / 1000000.0) / CAST(n.n AS DOUBLE) AS w
         |  FROM $pw w LEFT JOIN g$k g USING (bucket) CROSS JOIN nn n),
         |b$k AS (
         |  SELECT b.b - $QcLr * (CAST(gb.gb_u AS DOUBLE) / 1000000.0)
         |                  / CAST(n.n AS DOUBLE) AS b
         |  FROM $pb b CROSS JOIN gb$k gb CROSS JOIN nn n)""".stripMargin
    s"""WITH tok AS (
       |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
       |  FROM documents),
       |feat AS MATERIALIZED (
       |  SELECT doc_id, lang,
       |         ('0x' || substr(md5(term || ':qc'), 1, 15))::BIGINT % $QcDim
       |           AS bucket,
       |         COUNT(*) AS cnt
       |  FROM tok GROUP BY 1, 2, 3),
       |nt AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_toks
       |       FROM feat GROUP BY 1),
       |f AS MATERIALIZED (
       |  SELECT feat.doc_id, bucket, cnt, n_toks,
       |         CASE WHEN lang = '$QcTargetLang' THEN 1.0 ELSE 0.0 END AS y
       |  FROM feat JOIN nt USING (doc_id)),
       |nn AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM f),
       |w0 AS (SELECT CAST(unnest(range($QcDim)) AS BIGINT) AS bucket,
       |              0.0 AS w),
       |b0 AS (SELECT 0.0 AS b),
       |${step("w0", "b0", 1)},
       |${step("w1", "b1", 2)},
       |zf AS (
       |  SELECT f.doc_id, max(f.y) AS y,
       |         CAST(SUM(CAST(round(w.w * f.cnt / f.n_toks * 1000000.0, 0)
       |                       AS BIGINT)) AS BIGINT) AS z_u
       |  FROM f JOIN w2 w USING (bucket) GROUP BY 1),
       |pf AS (
       |  SELECT doc_id, y, 0.5 + z / (2.0 * (1.0 + abs(z))) AS p
       |  FROM (SELECT doc_id, y,
       |               CAST(z_u AS DOUBLE) / 1000000.0 + b.b AS z
       |        FROM zf CROSS JOIN b2 b))""".stripMargin
  }

  val qQualityClassifierSql: String =
    qcChainCtes + s"""
       |SELECT doc_id, CAST(y AS BIGINT) AS label, round(p, 6) AS score,
       |       CAST(CASE WHEN p >= 0.5 THEN 1 ELSE 0 END AS BIGINT) AS pred,
       |       CAST(CASE WHEN (CASE WHEN p >= 0.5 THEN 1 ELSE 0 END)
       |                      = CAST(y AS BIGINT) THEN 1 ELSE 0 END AS BIGINT)
       |         AS correct
       |FROM pf ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  // q_threshold_sweep — precision/recall over a grid of 20 score
  // cutoffs for the in-engine-trained quality classifier: the report a
  // curation pipeline reads to CHOOSE its filter threshold (keep-rate
  // vs purity trade). Thresholds are k/20 for k ∈ [0, 20); both
  // engines build them as CAST(k AS DOUBLE)/20 and compare against the
  // same 6-dp-rounded score the classifier already hash-matches, so
  // every comparison is between identical doubles. Precision/recall
  // are unrounded int/int divisions (the house ratio rule).
  //
  // Scale shape: one constant ×20 fan-out of the scored table into a
  // partial-aggregated per-threshold count — bounded output (20 rows),
  // no new corpus-cardinality surface beyond the classifier itself.
  // ------------------------------------------------------------------
  val SweepCuts = 20

  val qThresholdSweep: Q = (s, d) => {
    val scored = qualityClassifier(Tables.documents(s, d))
      .select(col("label"), col("score"))
    val thr = s.range(0, SweepCuts)
      .select((col("id").cast("double") / SweepCuts.toDouble).as("t"))
    // n_pos is NOT a separate scored.agg branch: that would re-run the
    // whole classifier train+score a second time (no exchange to reuse
    // — the global agg plans its own subtree; measured ~2× the query).
    // The t=0 row already counts every positive (score ≥ 0 always), so
    // recover n_pos from the 20-row aggregate with one bounded window
    // (non-foldable empty key — the q_textrank tail pattern).
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(substring(col("t").cast("string"), 1, 0))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
                   org.apache.spark.sql.expressions.Window.unboundedFollowing)
    scored.crossJoin(thr)
      .groupBy(col("t"))
      .agg(sum(when(col("score") >= col("t"), 1L).otherwise(0L))
             .as("n_pred"),
           sum(when(col("score") >= col("t") && col("label") === 1L, 1L)
                 .otherwise(0L)).as("tp"))
      .withColumn("n_pos", max(when(col("t") === 0.0, col("tp"))).over(wAll))
      .select(col("t"), col("n_pred"), col("tp"),
              when(col("n_pred") === 0L, lit(1.0))
                .otherwise(col("tp").cast("double")
                             / col("n_pred").cast("double")).as("prec"),
              when(col("n_pos") === 0L, lit(1.0))
                .otherwise(col("tp").cast("double")
                             / col("n_pos").cast("double")).as("rec"))
      .orderBy(col("t"))
  }

  val qThresholdSweepSql: String =
    qcChainCtes + s""",
       |scored AS (SELECT CAST(y AS BIGINT) AS label, round(p, 6) AS score
       |           FROM pf),
       |npos AS (SELECT CAST(SUM(label) AS BIGINT) AS n_pos FROM scored),
       |thr AS (SELECT CAST(k AS DOUBLE) / $SweepCuts AS t
       |        FROM (SELECT unnest(range($SweepCuts)) AS k)),
       |agg AS (
       |  SELECT t,
       |         CAST(SUM(CASE WHEN score >= t THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_pred,
       |         CAST(SUM(CASE WHEN score >= t AND label = 1 THEN 1 ELSE 0
       |                  END) AS BIGINT) AS tp
       |  FROM scored CROSS JOIN thr GROUP BY 1)
       |SELECT t, n_pred, tp,
       |       CASE WHEN n_pred = 0 THEN 1.0
       |            ELSE CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE) END
       |         AS prec,
       |       CASE WHEN n_pos = 0 THEN 1.0
       |            ELSE CAST(tp AS DOUBLE) / CAST(n_pos AS DOUBLE) END
       |         AS rec
       |FROM agg CROSS JOIN npos ORDER BY t""".stripMargin

  // ------------------------------------------------------------------
  // q_readability — Flesch-style reading-ease per document, the classic
  // rule-based quality signal (Gopher's readability band, pre-neural
  // CCNet-era filtering). Components are pure per-row counts: alphabetic
  // words (the corpus tokenizer's ^[a-z]+$ discipline), sentence
  // boundaries (runs of [.!?], floored at 1 so punctuation-free docs
  // stay defined), and a syllable proxy (vowel-group runs per word,
  // floored at 1 — the standard heuristic). The score is the Flesch
  // formula in MILLI-units over BIGINT floor divisions — no doubles
  // anywhere, so the oracle matches bit-for-bit at any parallelism:
  //   flesch_milli = 206835 − 1015·words∕sentences − 84600·syll∕words.
  //
  // Scale shape: a single scan, zero joins, zero shuffles before the
  // final per-doc projection — every count folds into one codegen'd
  // per-row expression (the HOF sum is per-row, vocabulary-free).
  // ------------------------------------------------------------------
  val qReadability: Q = (s, d) => readability(Tables.documents(s, d))

  /** Flesch-milli readability over any frame with (doc_id, text) —
    * factored for crafted-corpus specs.
    */
  def readability(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        expr("filter(split(text, ' '), w -> w rlike '^[a-z]+$')").as("ws"),
        greatest(lit(1),
          size(expr("regexp_extract_all(text, '[.!?]+', 0)")))
          .cast("bigint").as("n_sentences"))
      .select(col("doc_id"),
        size(col("ws")).cast("bigint").as("n_words"),
        col("n_sentences"),
        expr("""aggregate(ws, 0L, (acc, w) ->
                  acc + greatest(1L, bigint(size(
                    regexp_extract_all(w, '[aeiouy]+', 0)))))""")
          .as("n_syllables"))
      .filter(col("n_words") >= 1)
      .select(col("doc_id"), col("n_words"), col("n_sentences"),
              col("n_syllables"),
              expr("""206835L - (1015L * n_words) DIV n_sentences
                      - (84600L * n_syllables) DIV n_words""")
                .as("flesch_milli"))
      // No final orderBy: corpus-sized output; the gate sorts rows.

  val qReadabilitySql: String =
    """WITH f AS (
      |  SELECT doc_id,
      |         list_filter(string_split(text, ' '),
      |                     w -> regexp_matches(w, '^[a-z]+$')) AS ws,
      |         CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
      |              AS BIGINT) AS n_sentences
      |  FROM documents),
      |c AS (
      |  SELECT doc_id,
      |         CAST(len(ws) AS BIGINT) AS n_words,
      |         n_sentences,
      |         CAST(coalesce(list_sum(list_transform(ws,
      |                w -> greatest(1, len(regexp_extract_all(w, '[aeiouy]+'))))),
      |              0) AS BIGINT) AS n_syllables
      |  FROM f)
      |SELECT doc_id, n_words, n_sentences, n_syllables,
      |       206835 - (1015 * n_words) // n_sentences
      |              - (84600 * n_syllables) // n_words AS flesch_milli
      |FROM c WHERE n_words >= 1 ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  // q_token_entropy — per-document Shannon entropy of the unigram
  // distribution: H = ln n − (1/n)·Σ_type cnt·ln cnt. The classic
  // repetitiveness/diversity quality signal (templated or looping text
  // scores far below its length class; complements q_repetition_score's
  // gram-level view with the distributional one).
  //
  // Exactness (the bigram-logprob ln discipline): each per-TYPE ln cnt
  // snaps to integer micro-units — so the cross-row sum is an
  // order-free BIGINT at any parallelism — and ln n snaps the same
  // way; the emitted entropy is then one identical (u_n − sum_u/n)/1e6
  // double expression over identical integers on both engines.
  // cnt = 1 types contribute exactly 0 (ln 1 = 0), so single-use words
  // cost nothing in either engine — no rounding asymmetry.
  //
  // Scale shape: one (doc, token-digest) partial-agg shuffle (8-byte
  // xxhash64 keys, never token text) + a doc-keyed rollup. No joins.
  // ------------------------------------------------------------------
  val qTokenEntropy: Q = (s, d) => tokenEntropy(Tables.documents(s, d))

  /** Core of q_token_entropy over any (doc_id, text) frame. */
  def tokenEntropy(docs: DataFrame): DataFrame = {
    val types = docs
      .select(col("doc_id"), explode(Ops.tokens(col("text"))).as("w"))
      .select(col("doc_id"), xxhash64(col("w")).as("hw"))
      .groupBy(col("doc_id"), col("hw")).agg(count(lit(1)).as("cnt"))
    types
      .select(col("doc_id"), col("cnt"),
              round(log(col("cnt").cast("double")) * 1e6).cast("long")
                .as("u"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_toks"), count(lit(1)).as("n_types"),
           sum(col("cnt") * col("u")).as("sum_u"))
      .select(col("doc_id"), col("n_toks"), col("n_types"),
              ((round(log(col("n_toks").cast("double")) * 1e6).cast("long")
                  .cast("double")
                - col("sum_u").cast("double") / col("n_toks").cast("double"))
               / 1e6).as("entropy"))
      .orderBy(col("doc_id"))
  }

  val qTokenEntropySql: String =
    """WITH types AS (
      |  SELECT doc_id, w, COUNT(*) AS cnt
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |        FROM documents)
      |  GROUP BY 1, 2),
      |perdoc AS (
      |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_toks,
      |         CAST(COUNT(*) AS BIGINT) AS n_types,
      |         CAST(SUM(cnt * CAST(round(ln(CAST(cnt AS DOUBLE))
      |                                   * 1000000.0, 0) AS BIGINT))
      |              AS BIGINT) AS sum_u
      |  FROM types GROUP BY 1)
      |SELECT doc_id, n_toks, n_types,
      |       (CAST(CAST(round(ln(CAST(n_toks AS DOUBLE)) * 1000000.0, 0)
      |                  AS BIGINT) AS DOUBLE)
      |        - CAST(sum_u AS DOUBLE) / CAST(n_toks AS DOUBLE))
      |         / 1000000.0 AS entropy
      |FROM perdoc ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // q_lexical_diversity — per-document lexical-richness panel: type-
  // token ratio (distinct words / words), hapax rate (share of types
  // used exactly once), and Yule's K = 10⁴·(Σ cnt² − n)/n² — the
  // length-robust repeated-use constant. The vocabulary-side quality
  // signal next to q_token_entropy's distributional one: templated
  // or keyword-stuffed text shows low TTR and high K at any length
  // class, and hapax rate is the classic OCR-noise / gibberish tell
  // (noisy text mints endless one-off "types").
  //
  // Exactness: every emitted ratio is ONE IEEE division of identical
  // BIGINTs on both engines (the ks-test rule: identical inputs +
  // identical expression ⇒ identical bits) — no transcendentals, so
  // no snapping at all.
  //
  // Scale shape: identical to q_token_entropy — one (doc, token-
  // digest) partial-agg shuffle (8-byte xxhash64 keys, never token
  // text) + a doc-keyed rollup. No joins, nothing corpus-bounded
  // past the first aggregate.
  // ------------------------------------------------------------------
  val qLexicalDiversity: Q = (s, d) => lexicalDiversity(Tables.documents(s, d))

  /** Core of q_lexical_diversity over any (doc_id, text) frame. */
  def lexicalDiversity(docs: DataFrame): DataFrame = {
    val types = docs
      .select(col("doc_id"), explode(Ops.tokens(col("text"))).as("w"))
      .select(col("doc_id"), xxhash64(col("w")).as("hw"))
      .groupBy(col("doc_id"), col("hw")).agg(count(lit(1)).as("cnt"))
    types
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_toks"), count(lit(1)).as("n_types"),
           sum(when(col("cnt") === 1L, 1L).otherwise(0L)).as("n_hapax"),
           sum(col("cnt") * col("cnt")).as("s2"))
      .select(col("doc_id"), col("n_toks"), col("n_types"), col("n_hapax"),
              (col("n_types").cast("double") / col("n_toks").cast("double"))
                .as("ttr"),
              (col("n_hapax").cast("double") / col("n_types").cast("double"))
                .as("hapax_rate"),
              (lit(10000.0) * (col("s2") - col("n_toks")).cast("double")
                 / (col("n_toks") * col("n_toks")).cast("double"))
                .as("yule_k"))
      .orderBy(col("doc_id"))
  }

  val qLexicalDiversitySql: String =
    """WITH types AS (
      |  SELECT doc_id, w, COUNT(*) AS cnt
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |        FROM documents)
      |  GROUP BY 1, 2),
      |perdoc AS (
      |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_toks,
      |         CAST(COUNT(*) AS BIGINT) AS n_types,
      |         CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |           AS n_hapax,
      |         CAST(SUM(cnt * cnt) AS BIGINT) AS s2
      |  FROM types GROUP BY 1)
      |SELECT doc_id, n_toks, n_types, n_hapax,
      |       CAST(n_types AS DOUBLE) / CAST(n_toks AS DOUBLE) AS ttr,
      |       CAST(n_hapax AS DOUBLE) / CAST(n_types AS DOUBLE) AS hapax_rate,
      |       10000.0 * CAST(s2 - n_toks AS DOUBLE)
      |         / CAST(n_toks * n_toks AS DOUBLE) AS yule_k
      |FROM perdoc ORDER BY 1""".stripMargin

  val queries: Map[String, Q] = Map(
    "q_lexical_diversity" -> qLexicalDiversity,
    "q_token_entropy" -> qTokenEntropy,
    "q_readability" -> qReadability,
    "q_threshold_sweep" -> qThresholdSweep,
    "q_quality_classifier" -> qQualityClassifier,
    "q_feature_hash"   -> qFeatureHash,
    "q_zipf_fit"       -> qZipfFit,
    "q_vocab_coverage" -> qVocabCoverage,
    "q_text_stats"    -> qTextStats,
    "q_token_count"   -> qTokenCount,
    "q_lang_id"       -> qLangId,
    "q_quality_score" -> qQualityScore,
    "q_fingerprint"   -> qFingerprint,
    "q_filter_funnel" -> qFilterFunnel,
  )

  val oracles: Map[String, String] = Map(
    "q_lexical_diversity" -> qLexicalDiversitySql,
    "q_token_entropy" -> qTokenEntropySql,
    "q_readability" -> qReadabilitySql,
    "q_threshold_sweep" -> qThresholdSweepSql,
    "q_quality_classifier" -> qQualityClassifierSql,
    "q_feature_hash"   -> qFeatureHashSql,
    "q_zipf_fit"       -> qZipfFitSql,
    "q_vocab_coverage" -> qVocabCoverageSql,
    "q_text_stats"    -> qTextStatsSql,
    "q_token_count"   -> qTokenCountSql,
    "q_lang_id"       -> qLangIdSql,
    "q_quality_score" -> qQualityScoreSql,
    "q_fingerprint"   -> qFingerprintSql,
    "q_filter_funnel" -> qFilterFunnelSql,
  )
}
