package graft.ext

import graft.Tables
import graft.ops.Ops
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for a large-scale training-data pipeline, over
  * the `documents` table: exact (hash group-by), blocking-signature
  * near-dup, word-n-gram Jaccard within blocks, MinHash+LSH, SimHash.
  *
  * Scale posture: every variant is a shuffle-on-signature group-by or a
  * bucket-equi-join — never an all-pairs cross join. MinHash candidate
  * generation is the classic shingle → signature → band → bucket-join
  * pipeline; verification only touches candidate pairs.
  */
object Dedup {
  type Q = (SparkSession, String) => DataFrame

  // Exact dedup: content hash → canonical representative (min doc_id) +
  // multiplicity. The 100 TB path: one shuffle on a 256-bit hash,
  // perfectly balanced keys.
  val qDedupExact: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy(sha2(col("text"), 256).as("text_hash"))
      .agg(min(col("doc_id")).as("canonical_id"),
           count(lit(1)).as("n_copies"))
      .orderBy(col("canonical_id"))

  val qDedupExactSql: String =
    """SELECT sha256(text) AS text_hash, min(doc_id) AS canonical_id,
      |       count(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY 2""".stripMargin

  // ------------------------------------------------------------------
  // q_dup_profile — the dedup REPORT: the distribution of exact-
  // duplicate cluster sizes (how many clusters of size k, how many
  // documents they hold, what fraction of the corpus that is, and how
  // many documents dedup would remove) — the headline table corpus
  // papers publish (C4/CCNet/RefinedWeb all report duplicate-mass
  // profiles) and the number that decides whether exact dedup is worth
  // a pass at all before the near-dup stages run.
  //
  // Scale shape: one partial-aggregated scan to hash-clusters, a
  // second partial agg over cluster SIZES (output = distinct sizes, a
  // handful of rows at any corpus scale — the 100×-copy stressor's
  // whole profile is one row at csize≈100), and the total as a window
  // sum over those rows. Every aggregate is a BIGINT; doc_frac is one
  // division of identical integers rounded identically.
  // ------------------------------------------------------------------
  val qDupProfile: Q = (s, d) => dupProfile(Tables.documents(s, d))

  /** Core of q_dup_profile over any (doc_id, text) frame — split out so
    * specs can pin the multi-size distribution on a crafted corpus (the
    * sf gates carry no exact duplicates, so their profile is one row).
    */
  def dupProfile(docs: DataFrame): DataFrame =
    sizeProfile(docs
      .groupBy(sha2(col("text"), 256).as("text_hash"))
      .agg(count(lit(1)).as("csize")))

  /** The cluster-size histogram fold over any one-row-per-cluster frame
    * with a `csize` column — shared by q_dup_profile (exact-hash
    * clusters) and q_cc_profile (near-dup components), so both reports
    * carry identical semantics.
    */
  def sizeProfile(clusters: DataFrame): DataFrame = {
    val dist = clusters.groupBy(col("csize"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("csize"), col("n_clusters"),
              (col("csize") * col("n_clusters")).as("n_docs"),
              ((col("csize") - 1) * col("n_clusters")).as("removable"))
    // tot_docs is a whole-frame window sum over dist (one row per
    // distinct size, bounded at any scale): its single partition arrives
    // sorted on csize, so the presentation sort adds no exchange.
    val all = Window.orderBy(col("csize"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    dist.select(col("csize"), col("n_clusters"), col("n_docs"),
                col("removable"),
                round(col("n_docs").cast("double")
                        / sum(col("n_docs")).over(all).cast("double"), 6)
                  .as("doc_frac"))
      .orderBy(col("csize"))
  }

  val qDupProfileSql: String =
    """WITH c AS (
      |  SELECT sha256(text) AS text_hash,
      |         CAST(count(*) AS BIGINT) AS csize
      |  FROM documents GROUP BY 1),
      |dist AS (
      |  SELECT csize, CAST(count(*) AS BIGINT) AS n_clusters
      |  FROM c GROUP BY 1),
      |t AS (SELECT CAST(SUM(csize * n_clusters) AS BIGINT) AS tot_docs
      |      FROM dist)
      |SELECT csize, n_clusters, csize * n_clusters AS n_docs,
      |       (csize - 1) * n_clusters AS removable,
      |       ROUND(CAST(csize * n_clusters AS DOUBLE)
      |             / CAST(tot_docs AS DOUBLE), 6) AS doc_frac
      |FROM dist CROSS JOIN t ORDER BY csize""".stripMargin

  // ------------------------------------------------------------------
  // q_soft_dedup — duplication DOWN-WEIGHTING instead of removal (the
  // SoftDeDup idea: keep every copy but give each duplicate cluster a
  // total weight of one, i.e. per-doc weight 1/cluster_size), reported
  // as per-source raw vs effective doc counts and token mass. The
  // number a mixture designer reads: "source X is 40 M docs but only
  // 9 M effective docs after duplication re-weighting".
  //
  // Exactness: the per-doc weight is snapped to integer micro-units
  // (1e6 DIV csize) so the per-source sums are pure BIGINT on both
  // engines; eff_docs / eff_tokens are a single double division of
  // identical integers, rounded identically. The DIV truncates, so a
  // cluster's total mass is csize·(1e6 DIV csize) ≤ 1e6 — "weight of
  // one" holds only up to a downward bias bounded by (csize-1)
  // micro-units per cluster (a csize-3 cluster totals 0.999999).
  // Accepted: the bias is ≤1e-6 relative and both engines truncate
  // identically, which is what keeps the row exact-oracle-able. (eff_tokens_micro peaks
  // at n_toks·1e6 per row — a 1e12-token source stays far below
  // BIGINT range after division-by-csize re-weighting.)
  //
  // Scale shape: the cluster size arrives by a window over the same
  // sha-256 digest shuffle q_dedup_exact rides (perfectly balanced
  // keys, no join back), then one partial agg funnels to O(sources)
  // rows. Nothing pairwise anywhere.
  // ------------------------------------------------------------------
  val qSoftDedup: Q = (s, d) => softDedup(Tables.documents(s, d))

  /** Core of q_soft_dedup over any (source, text) frame — split out so
    * specs can pin the cross-source cluster weighting on a crafted
    * corpus (the sf gates carry no exact duplicates).
    */
  def softDedup(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byHash = Window.partitionBy(sha2(col("text"), 256))
    docs
      .select(col("source"),
              size(Ops.tokens(col("text"))).cast("bigint").as("n_toks"),
              count(lit(1)).over(byHash).as("csize"))
      .withColumn("w_micro", expr("CAST(1000000 AS BIGINT) DIV csize"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_toks")).as("n_tokens"),
           round(sum(col("w_micro")).cast("double") / 1e6, 6).as("eff_docs"),
           round(sum(col("n_toks") * col("w_micro")).cast("double") / 1e6, 6)
             .as("eff_tokens"))
      .orderBy(col("source"))
  }

  val qSoftDedupSql: String =
    """WITH c AS (
      |  SELECT source,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
      |         COUNT(*) OVER (PARTITION BY sha256(text)) AS csize
      |  FROM documents)
      |SELECT source, COUNT(*) AS n_docs,
      |       CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
      |       ROUND(CAST(SUM(1000000 // csize) AS DOUBLE) / 1e6, 6) AS eff_docs,
      |       ROUND(CAST(SUM(n_toks * (1000000 // csize)) AS DOUBLE) / 1e6, 6)
      |         AS eff_tokens
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  // Blocking-signature near-dup: cheap deterministic signature
  // (lang, length bucket, normalized 40-char prefix) groups likely
  // duplicates without any pairwise work — the first stage of a
  // candidate-generation funnel.
  val qDedupBlock: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy(col("lang"),
               floor(col("n_chars") / 100.0).cast("bigint").as("len_bucket"),
               substring(Ops.normalizeText(col("text")), 1, 40).as("prefix"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical_id"))
      .filter(col("n_docs") > 1)
      .orderBy(col("canonical_id"))

  val qDedupBlockSql: String =
    """SELECT lang, CAST(FLOOR(n_chars / 100.0) AS BIGINT) AS len_bucket,
      |       substring(lower(regexp_replace(text, '[ \t\n\x0B\f\r]+', ' ', 'g')), 1, 40) AS prefix,
      |       count(*) AS n_docs, min(doc_id) AS canonical_id
      |FROM documents GROUP BY 1, 2, 3 HAVING count(*) > 1
      |ORDER BY canonical_id""".stripMargin

  // Shared by the Jaccard and containment funnels below; declared ahead
  // of both because eager `val` SQL strings interpolate it at object
  // init (declaration order matters — a forward reference reads 0).
  val MaxGramDf = 16L

  // ------------------------------------------------------------------
  // q_dedup_editdist — EDIT-DISTANCE verification of blocked candidate
  // pairs: the third verifier in the near-dup family (Jaccard counts
  // shared grams, MinHash approximates it, Levenshtein measures the
  // actual character-level rewrite cost — the metric that separates
  // "same doc, small patch" from "same template, different content").
  // Candidates come from the same deterministic blocking signature as
  // q_dedup_block (lang, 100-char length bucket, normalized prefix);
  // the expensive O(len²) DP runs ONLY inside blocks, on a bounded
  // 160-char normalized prefix, so per-pair cost is a constant.
  //
  // Scale shape: one scan → partial-aggregated block census → census
  // equi-join back (drops singleton docs AND caps pathological blocks
  // at MaxEdBlock before any pairing, the MaxGramDf discipline) → an
  // in-block self-join whose pair count is ≤ MaxEdBlock × docs, linear
  // in corpus size by construction. levenshtein() is a codegen'd
  // built-in on both engines with identical unicode-codepoint DP
  // semantics, so the distance — and therefore the ≤ MaxEditDist cut —
  // is exact cross-engine.
  // ------------------------------------------------------------------
  val EdPrefixLen = 160
  val MaxEditDist = 40L
  val MaxEdBlock = 32L

  val qDedupEditdist: Q = (s, d) => dedupEditdist(Tables.documents(s, d))

  /** The blocked-pair Levenshtein verifier over any `documents`-shaped
    * frame (doc_id, text, lang, n_chars) — factored for crafted-corpus
    * specs.
    */
  def dedupEditdist(docsIn: DataFrame): DataFrame = {
    val docs = docsIn.select(
      col("doc_id"), col("lang"),
      floor(col("n_chars") / 100.0).cast("bigint").as("len_bucket"),
      substring(Ops.normalizeText(col("text")), 1, EdPrefixLen).as("np"))
      .withColumn("pk", substring(col("np"), 1, 16))
    val census = docs.groupBy(col("lang"), col("len_bucket"), col("pk"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2 && col("n_docs") <= MaxEdBlock)
    val blocked = docs.join(census, Seq("lang", "len_bucket", "pk"))
    val a = blocked.select(col("lang"), col("len_bucket"), col("pk"),
                           col("doc_id").as("doc_a"), col("np").as("np_a"))
    val b = blocked.select(col("lang"), col("len_bucket"), col("pk"),
                           col("doc_id").as("doc_b"), col("np").as("np_b"))
    // The DP must run EXACTLY ONCE per pair, in parallel. Left to the
    // optimizer, the threshold filter is pushed into the broadcast-join
    // CONDITION, evaluating levenshtein three times per candidate (two
    // predicate copies + the projection) inside the join stage — whose
    // parallelism is the probe side's input split count, not the
    // cluster's. So: repartition the slim pairs 32-way (the candidate
    // shuffle is a few MiB — AQE would otherwise coalesce the CPU-heavy
    // stage to ~1 partition), score ONCE into a persisted
    // (doc_a, doc_b, edit_dist) table (24 B/row, block-cap-bounded),
    // and filter the cache — the persist is the barrier that keeps the
    // predicate from reaching back into the join. Banded DP with early
    // abandon (3-arg levenshtein, O(len × MaxEditDist) per pair,
    // -1 above threshold — surviving distances equal the exact DP, so
    // the oracle's full-DP filter matches). Measured on the 10×-copy
    // corpus (235k in-block pairs): 36 s → 5.5 s.
    val scored = a.join(b, Seq("lang", "len_bucket", "pk"))
      .filter(col("doc_a") < col("doc_b"))
      .repartition(col("doc_a"), col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
              levenshtein(col("np_a"), col("np_b"), MaxEditDist.toInt)
                .cast("bigint").as("edit_dist"))
      .transform(graft.PlanMode.checkpointTail)
    val out = scored
      .filter(col("edit_dist") >= 0L && col("edit_dist") <= MaxEditDist)
      .orderBy(col("doc_a"), col("doc_b"))
    out
  }

  val qDedupEditdistSql: String =
    s"""WITH docs AS (
       |  SELECT doc_id, lang, CAST(FLOOR(n_chars / 100.0) AS BIGINT) AS len_bucket,
       |         substring(lower(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')),
       |                   1, $EdPrefixLen) AS np
       |  FROM documents),
       |blocked AS (
       |  SELECT doc_id, lang, len_bucket, np, substring(np, 1, 16) AS pk
       |  FROM docs
       |  QUALIFY count(*) OVER (PARTITION BY lang, len_bucket, substring(np, 1, 16))
       |          BETWEEN 2 AND $MaxEdBlock)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       CAST(levenshtein(a.np, b.np) AS BIGINT) AS edit_dist
       |FROM blocked a JOIN blocked b
       |  ON a.lang = b.lang AND a.len_bucket = b.len_bucket
       | AND a.pk = b.pk AND a.doc_id < b.doc_id
       |WHERE levenshtein(a.np, b.np) <= $MaxEditDist
       |ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // q_containment — asymmetric shingle CONTAINMENT (Broder's c(A,B) =
  // |A∩B| / min(|A|,|B|)): the quote/subset detector Jaccard misses.
  // A short document wholly quoted inside a long one scores near 1.0
  // containment but low Jaccard (the union is dominated by the long
  // doc), so this is the operator a curation pipeline runs to catch
  // excerpt-level duplication across length classes — which is exactly
  // why it does NOT block on a length bucket, only on lang.
  //
  // Scale shape: identical inverted-index funnel to q_ngram_jaccard —
  // per-lang gram document-frequency cap (≤ MaxGramDf) before the
  // self-join bounds candidate pairs at MaxGramDf × postings; df=1
  // postings never enter the join; 5-word shingles (rarer than the
  // Jaccard 3-grams) keep the rare-gram set discriminative. The final
  // containment is an int/int division — bit-identical cross-engine.
  // ------------------------------------------------------------------
  val ContainShingleK = 5

  val qContainment: Q = (s, d) => containmentPairs(Tables.documents(s, d))

  /** Asymmetric shingle containment over any `documents`-shaped frame
    * (doc_id, text, lang) — factored for crafted-corpus specs.
    */
  def containmentPairs(docsIn: DataFrame): DataFrame = {
    val docs = docsIn
      .select(col("doc_id"), col("lang"),
              Ops.shingles(Ops.tokens(col("text")), ContainShingleK).as("grams"))
    val inv0 = docs.select(col("lang"), col("doc_id"),
                           explode(col("grams")).as("gram_text"))
      .select(col("lang"), col("doc_id"), xxhash64(col("gram_text")).as("gram"))
    val dfreq = inv0.groupBy(col("lang"), col("gram"))
      .agg(count(lit(1)).as("gram_df"))
      .filter(col("gram_df") <= graft.GraftConf.maxGramDf(docsIn.sparkSession))
    // rare feeds nRare AND both sides of the pair self-join —
    // unpersisted, the shingle-explode + df-filter subtree computes
    // three times. The persisted frame is slim (lang, 8-byte gram
    // digest, doc_id, df — no text).
    val rare = graft.PlanMode.checkpointTail(
      inv0.join(dfreq, Seq("lang", "gram")))
    val nRare = rare.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    val shared = rare.filter(col("gram_df") >= 2)
    val a = shared.select(col("lang"), col("gram"), col("doc_id").as("doc_a"))
    val b = shared.select(col("lang"), col("gram"), col("doc_id").as("doc_b"))
    val pairs = a.join(b, Seq("lang", "gram"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    val out = pairs
      .join(nRare.select(col("doc_id").as("doc_a"), col("n_grams").as("n_a")),
            Seq("doc_a"))
      .join(nRare.select(col("doc_id").as("doc_b"), col("n_grams").as("n_b")),
            Seq("doc_b"))
      .withColumn("containment",
        col("n_common").cast("double") / least(col("n_a"), col("n_b")))
      .filter(col("containment") >= 0.6)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("containment"))
    // No final orderBy (gate sorts rows; range sampling would re-run
    // the pair aggregation).
    out
  }

  val qContainmentSql: String =
    s"""WITH sh AS (
       |  SELECT doc_id, lang,
       |         list_distinct(list_transform(
       |           range(greatest(len(string_split(text, ' ')) - ${ContainShingleK - 1}, 1)),
       |           i -> array_to_string(string_split(text, ' ')[i+1:i+$ContainShingleK], ' '))) AS grams
       |  FROM documents),
       |inv AS (
       |  SELECT doc_id, lang, unnest(grams) AS gram FROM sh),
       |rare AS (
       |  SELECT doc_id, lang, gram FROM inv
       |  QUALIFY count(*) OVER (PARTITION BY lang, gram) <= $MaxGramDf),
       |n AS (SELECT doc_id, count(*) AS n_grams FROM rare GROUP BY 1),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
       |  FROM rare a JOIN rare b
       |    ON a.lang = b.lang AND a.gram = b.gram AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, n_common,
       |       CAST(p.n_common AS DOUBLE) / least(na.n_grams, nb.n_grams)
       |         AS containment
       |FROM pairs p
       |JOIN n na ON p.doc_a = na.doc_id
       |JOIN n nb ON p.doc_b = nb.doc_id
       |WHERE CAST(p.n_common AS DOUBLE) / least(na.n_grams, nb.n_grams) >= 0.6""".stripMargin

  // Word-3-gram Jaccard near-dup within deterministic blocks
  // (lang, n_chars/20): all-pairs only *inside* a block, so the pair count
  // stays linear-ish in corpus size as long as blocks stay bounded.
  //
  // Hot-gram cap: a gram shared by k docs in one block contributes k(k−1)/2
  // candidate pairs, so one boilerplate gram makes the self-join quadratic
  // in per-block duplicate density. Grams with per-block doc-frequency
  // above MaxGramDf are dropped BEFORE the self-join — a gram that common
  // carries no discriminative signal — and the Jaccard is computed over
  // each doc's RARE gram set. Total candidate pairs are then bounded by
  // MaxGramDf × total postings: linear in corpus size by construction.
  // (MaxGramDf itself is declared above the containment block.)

  val qNgramJaccard: Q = (s, d) => {
    // Inverted-index formulation: explode each doc's (distinct) grams and
    // count shared grams per candidate pair via a gram-keyed equi-join —
    // the shuffle carries single grams, not whole gram arrays duplicated
    // per pair, and pairs sharing no gram never materialize. |A∪B| =
    // |A|+|B|−|A∩B| since gram sets are distinct. A pair's jaccard is an
    // int/int division — bit-identical in Spark and DuckDB, so no
    // rounding (which would risk half-up vs half-even divergence).
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
              floor(col("n_chars") / 20.0).cast("bigint").as("len_bucket"),
              Ops.shingles(Ops.tokens(col("text")), 3).as("grams"))
    // Digest shuffle keys here too: the df shuffle, the postings join,
    // and the pair self-join all key on xxhash64(gram) instead of the
    // 3-gram text (5.5 → 3.9 MiB shuffled at sf0.1, docs/SCALE.md);
    // the pair output never contained grams, so the oracle stands.
    // NOT persisted, deliberately: the plan audits at 8 corpus scans,
    // but each is a pruned-parquet scan + codegen'd explode that Spark
    // pipelines straight into map-side partial aggregation — measured
    // 30×-diverse/100× wall REGRESSED ~25% when the exploded postings
    // were persisted instead (materializing 10s of millions of postings
    // to storage costs more than re-deriving them; contrast
    // qDedupMinhash, where the re-derived stage is an expensive
    // md5+32-hash signature and persist wins).
    val inv0 = docs.select(col("lang"), col("len_bucket"), col("doc_id"),
                           explode(col("grams")).as("gram_text"))
      .select(col("lang"), col("len_bucket"), col("doc_id"),
              xxhash64(col("gram_text")).as("gram"))
    // Per-block gram document-frequency; partial-aggregating shuffle, then
    // an equi-join back (k postings × 1 df row — no blowup even for the
    // hot grams this exists to drop).
    val dfreq = inv0.groupBy(col("lang"), col("len_bucket"), col("gram"))
      .agg(count(lit(1)).as("gram_df"))
      .filter(col("gram_df") <= graft.GraftConf.maxGramDf(s))
    val rare = inv0.join(dfreq, Seq("lang", "len_bucket", "gram"))
    val nRare = rare.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    // Only grams held by >= 2 docs can form a pair — df=1 postings (the
    // overwhelming majority on an organically diverse corpus) stay in
    // each doc's n_grams denominator above but never enter the self-
    // join. Semantics-preserving; on the 30x diverse stress corpus this
    // is the difference between joining all postings and joining almost
    // none (docs/SCALE.md).
    val shared = rare.filter(col("gram_df") >= 2)
    val a = shared.select(col("lang"), col("len_bucket"), col("gram"),
                          col("doc_id").as("doc_a"))
    val b = shared.select(col("lang"), col("len_bucket"), col("gram"),
                          col("doc_id").as("doc_b"))
    val pairs = a.join(b, Seq("lang", "len_bucket", "gram"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    val out = pairs
      .join(nRare.select(col("doc_id").as("doc_a"), col("n_grams").as("n_a")),
            Seq("doc_a"))
      .join(nRare.select(col("doc_id").as("doc_b"), col("n_grams").as("n_b")),
            Seq("doc_b"))
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    // No final orderBy: its range sampling re-executed the whole
    // unpersisted pipeline (measured 3507 MiB read vs 1759 written at
    // 100×-diverse — exactly 2×); the gate sorts rows.
    out
  }

  val qNgramJaccardSql: String =
    s"""WITH sh AS (
       |  SELECT doc_id, lang, CAST(FLOOR(n_chars / 20.0) AS BIGINT) AS len_bucket,
       |         list_distinct(list_transform(
       |           range(greatest(len(string_split(text, ' ')) - 2, 1)),
       |           i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' '))) AS grams
       |  FROM documents),
       |inv AS (
       |  SELECT doc_id, lang, len_bucket, unnest(grams) AS gram FROM sh),
       |rare AS (
       |  SELECT doc_id, lang, len_bucket, gram FROM inv
       |  QUALIFY count(*) OVER (PARTITION BY lang, len_bucket, gram) <= ${MaxGramDf}),
       |n AS (SELECT doc_id, count(*) AS n_grams FROM rare GROUP BY 1),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
       |  FROM rare a JOIN rare b
       |    ON a.lang = b.lang AND a.len_bucket = b.len_bucket
       |   AND a.gram = b.gram AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |       CAST(p.n_common AS DOUBLE) / (na.n_grams + nb.n_grams - p.n_common)
       |         AS jaccard
       |FROM pairs p
       |JOIN n na ON p.doc_a = na.doc_id
       |JOIN n nb ON p.doc_b = nb.doc_id
       |WHERE CAST(p.n_common AS DOUBLE) / (na.n_grams + nb.n_grams - p.n_common)
       |        >= 0.5""".stripMargin

  // ------------------------------------------------------------------
  // q_prefix_jaccard — LOSSLESS set-similarity self-join via prefix
  // filtering (the AllPairs/PPJoin candidate principle: Bayardo et al.
  // WWW'07; Xiao et al. WWW'08 Lemma 1): all pairs with shingle-set
  // Jaccard ≥ t = 0.8, with NO recall trade. Order every doc's distinct
  // 3-gram shingles by ONE global canonical order (ascending corpus
  // document-frequency, ties by gram text — rarest first); a pair can
  // reach J ≥ t only if the two docs share a gram inside their first
  // |x| − ⌈t·|x|⌉ + 1 grams in that order, so ONLY those prefixes are
  // indexed and self-joined. The guarantee is the complement of the
  // dedup stack's capped generators: q_ngram_jaccard's MaxGramDf cap
  // trades bounded recall loss for a hard work bound, while the prefix
  // filter is exact — every qualifying pair survives, by theorem
  // (PrefixJaccardSpec machine-checks it against brute force at the
  // gate: sf0.01 has 124,750 doc pairs, 11,533 share ≥ 1 shingle, the
  // prefix index emits exactly the 25 true pairs — zero false
  // candidates on this corpus).
  //
  // Exactness: prefix length uses pure integer math
  // (n − ((8·n + 9) div 10) + 1 = n − ⌈0.8n⌉ + 1, identical in Spark
  // `div` and DuckDB `//`); the canonical order key (gram_df, gram) is
  // unique per doc (distinct grams) and binary-collated identically in
  // both engines; verification is exact |A∩B| via array_intersect on
  // the distinct gram arrays and an int/int IEEE division — no
  // rounding anywhere.
  //
  // Scale shape: the prefix index holds ⌊(1−t)·n⌋+1 ≈ 20% of postings,
  // and those are each doc's RAREST grams by construction, so prefix
  // bucket df is far below raw gram df (hot boilerplate grams rank
  // last and never enter the index). The self-join is gram-keyed
  // equi; verification fetches gram arrays for candidate pairs only
  // (two doc_id-keyed joins, the dbscan embedding-fetch shape). Work
  // is candidate-bounded, candidates are output-plus-theorem-bounded —
  // on a dup-saturated corpus candidates ARE the true pairs, which the
  // query must emit anyway. The window rank is one doc_id-keyed
  // shuffle with doc-bounded partitions.
  // ------------------------------------------------------------------
  val PrefixJacT = 0.8 // threshold; prefix math uses the exact 8/10 form

  val qPrefixJaccard: Q = (s, d) => prefixJaccard(Tables.documents(s, d))

  /** Distinct-shingle frame (doc_id, grams, n) shared by the index and
    * the verification fetches.
    */
  private def prefixJacDocs(docsIn: DataFrame): DataFrame =
    docsIn.select(col("doc_id"),
        Ops.shingles(Ops.tokens(col("text")), 3).as("grams"))
      .select(col("doc_id"), col("grams"),
              size(col("grams")).cast("bigint").as("n"))

  /** Prefix-filtered candidate pairs (doc_a < doc_b, distinct) —
    * factored for PrefixJaccardSpec's losslessness pin. Input must be
    * a prefixJacDocs frame.
    *
    * Three LOSSLESS pruning layers beyond the bare 1-prefix index (all
    * from the public set-similarity-join literature; the first
    * formulation — emit on any shared prefix gram, then distinct —
    * measured 60.4M candidates and a 357 s verify for ZERO output
    * pairs on the 30× tiny-vocab stressor, because with a 31-token
    * vocabulary every possible 3-gram exists and even each doc's
    * rarest grams are shared by hundreds of docs):
    *
    *  1. LENGTH filter (Arasu et al. VLDB'06): J ≥ t ⟹
    *     t·n_a ≤ n_b ≤ n_a/t, exact in integers for t = 8/10 as
    *     8·n_a ≤ 10·n_b ∧ 8·n_b ≤ 10·n_a — applied inside the gram
    *     self-join, before any per-pair state exists.
    *  2. k-PREFIX count filter, k = 2 (Wang et al. SIGMOD'12 §3: the
    *     ℓ-prefix scheme): index each doc's first
    *     n − ⌈t·n⌉ + k grams in canonical (gram_df, gram) order.
    *     If J(A,B) ≥ t then O = |A∩B| ≥ ⌈t·n_a⌉ (since n_b ≥ t·n_a),
    *     so the k smallest common grams w_1..w_k each sit at canonical
    *     rank ≤ k + n − ⌈t·n⌉ in BOTH docs — a qualifying pair shares
    *     ≥ min(k, O_min) grams inside the two k-prefixes, where
    *     O_min = ⌈t·(n_a+n_b)/(1+t)⌉ = (4·(n_a+n_b)+8) div 9. The
    *     min(k, ·) guard keeps the n_a = n_b = 1 edge (O = 1 < k)
    *     lossless. Requiring the pair to collide on ≥ 2 prefix grams
    *     is the big lever on tiny-vocab corpora: a random colliding
    *     pair shares a 2nd prefix gram with probability
    *     ≈ (ℓ_a·ℓ_b)/|vocab| ≈ 0.5% on the stressor.
    *  3. POSITIONAL filter (Xiao et al. WWW'08 Lemma 2, aggregated
    *     form): every common gram outside the shared-prefix set ranks
    *     after the LAST shared prefix gram in both docs (canonical
    *     order is global), so O ≤ c + min(n_a − pmax_a, n_b − pmax_b);
    *     prune when that bound < O_min. Free — it reads the same
    *     (count, max-rank) aggregate the k-prefix filter needs.
    *
    * The groupBy(doc_a, doc_b) replaces the old `.distinct()` — the
    * same pair-keyed shuffle now also carries the filter state.
    *
    * CANONICAL ORDER (round 13): (bucket_df, gram), where bucket_df is
    * the posting count of the gram's 64-bit-hash bucket — a
    * BROADCASTABLE document-frequency surrogate (PrefixOrderBuckets
    * longs, corpus-size-independent), computed by one slim partial-agg
    * shuffle and folded into a single map row. The prefix theorems
    * above hold for ANY fixed total order on grams — ascending df is
    * purely a candidate-minimization heuristic — so losslessness is
    * untouched (both specs machine-check it), and hot grams, the
    * blowup the order exists to push out of prefixes, have bucket
    * counts ≥ their own df and still rank last. The EXACT-df
    * formulation this replaces (dfreq groupBy + postings⋈dfreq join +
    * per-doc rank window) cost THREE postings-sized exchanges — 7.9
    * GiB shuffle and 96% of the operator's 100×-diverse wall
    * (docs/SCALE.md round-13 split); the surrogate order costs zero:
    * the per-doc prefix becomes an array_sort + slice inside the scan,
    * and the only remaining corpus-scale shuffle is the prefix
    * self-join itself. Candidate inflation from order noise among
    * equally-rare grams is bounded by the k-prefix and positional
    * filters (measured at 100×-diverse: docs/SCALE.md).
    */
  private[graft] val PrefixOrderBuckets = 65536L

  /** The bucket posting counts backing the canonical order — one slim
    * partial-agg shuffle, bounded driver collect (PrefixOrderBuckets
    * longs — the Similarity codebook discipline).
    */
  private def prefixOrderCounts(docs: DataFrame): Array[Long] = {
    val counts = new Array[Long](PrefixOrderBuckets.toInt)
    docs.select(explode(col("grams")).as("gram"))
      .groupBy(pmod(xxhash64(col("gram")), lit(PrefixOrderBuckets)).as("b"))
      .agg(count(lit(1)).as("c"))
      .collect().foreach(r => counts(r.getLong(0).toInt) = r.getLong(1))
    counts
  }

  /** The per-doc PROBE prefix (k = 2 scheme): each doc's first
    * n − ⌈t·n⌉ + 2 grams in canonical (bucket_df, gram) order. The
    * counts array rides the plan as a DENSE array literal (the ScaleGen
    * vocab-literal pattern): element_at on an array is O(1), where a
    * single-row MAP probed per gram is an O(buckets) linear scan inside
    * MapData — measured 13.6k s executor CPU at 100×-diverse before
    * this form. The packed (n << 20 | rn) column lets the pair
    * aggregation carry (doc, length, rank) in ONE long: n is constant
    * per doc, so max(packed) ≡ (n, max(rn)) — the emitted pair row
    * shrinks from 7 fields to 4 on the operator's dominant exchange.
    */
  private def prefixProbe(docs: DataFrame,
                                 counts: Array[Long]): DataFrame = {
    val nB = lit(PrefixOrderBuckets)
    val bdf = typedLit(counts.toSeq)
    docs
      .select(col("doc_id"), col("n"),
        posexplode(slice(
          array_sort(transform(col("grams"), g =>
            struct(element_at(bdf,
                     (pmod(xxhash64(g), nB) + lit(1L)).cast("int")).as("df"),
                   g.as("gram")))),
          lit(1),
          (col("n") - expr("(8 * n + 9) div 10") + lit(2)).cast("int"))))
      .select(col("col.gram").as("gram"), col("doc_id"), col("n"),
              (col("pos") + 1).as("rn"))
      .withColumn("pk", col("n") * lit(1048576L) + col("rn"))
  }

  private[graft] def prefixJacCandidates(docs: DataFrame): DataFrame =
    prefixPairAgg(prefixProbe(docs, prefixOrderCounts(docs)))

  // --- Filter arithmetic of the emitting self-join (t = 8/10) ---------

  /** Index-prefix restriction of a probe frame — the small-role side of
    * the emitting self-join only needs each doc's first
    * n − ⌈(8/9)·n⌉ + 2 grams (Xiao et al. WWW'08 §4).
    */
  private def prefixIndexSide(pref: DataFrame): DataFrame =
    pref.filter(col("rn") <= expr("n - ((8 * n + 8) div 9) + 2"))

  /** Role + lower-length-bound predicate of the self-join: small =
    * lexicographically (n, doc_id) lesser, and 10·n_s ≥ 8·n_l (the
    * upper bound is implied by n_l ≥ n_s). Expects columns
    * (n_s, n_l, doc_s, doc_l).
    */
  private def prefixRoleLengthFilter: Column =
    (col("n_s") < col("n_l") ||
     (col("n_s") === col("n_l") && col("doc_s") < col("doc_l"))) &&
      col("n_s") * 10 >= col("n_l") * 8

  /** O_min = ⌈t·(n_s+n_l)/(1+t)⌉, exact in integers for t = 8/10.
    * Expects columns (n_s, n_l).
    */
  private def prefixOMin: Column = expr("(4 * (n_s + n_l) + 8) div 9")

  /** The emitting self-join + pair aggregation over a probe-prefix
    * frame — factored so prefixJaccard can PERSIST the probe frame
    * first: the self-join consumes pref on both sides, and the
    * unpersisted form both recomputes it twice and (without stats)
    * plans the join worse — measured 67.6 s vs 35 s for the same
    * candidate stage at 100×-diverse (docs/SCALE.md round 13).
    */
  private def prefixPairAgg(pref: DataFrame): DataFrame = {
    // INDEX-prefix reduction (Xiao et al. WWW'08 §4): for a qualifying
    // pair with n_s ≤ n_l, o_min = ⌈(t/(1+t))(n_s+n_l)⌉ ≥ ⌈(2t/(1+t))·n_s⌉,
    // so the two smallest common grams sit within the SMALLER doc's
    // first n − ⌈(8/9)·n⌉ + 2 grams — the emitting join only needs the
    // index prefix (≈ half the probe prefix) on the small-role side.
    // The count and positional filters stay sound on the asymmetric
    // (ℓi+2, ℓp+2) windows: canonical order is GLOBAL, so any common
    // gram outside either window ranks after every counted common gram
    // in BOTH docs (positions within a doc follow the global order),
    // which is exactly what the aggregated positional bound needs.
    val idx = prefixIndexSide(pref)
    idx.select(col("gram"), col("doc_id").as("doc_s"), col("n").as("n_s"),
               col("pk").as("pk_s"))
      .join(pref.select(col("gram"), col("doc_id").as("doc_l"),
                        col("n").as("n_l"), col("pk").as("pk_l")),
            Seq("gram"))
      // Role predicate: small = lexicographically (n, doc_id) lesser —
      // a deterministic unique role per unordered pair; plus the lower
      // length bound (the upper is implied by n_l >= n_s).
      .filter(prefixRoleLengthFilter)
      .select(col("doc_s"), col("doc_l"), col("pk_s"), col("pk_l"))
      .groupBy(col("doc_s"), col("doc_l"))
      .agg(count(lit(1)).as("c"),
           max(col("pk_s")).as("mx_s"), max(col("pk_l")).as("mx_l"))
      .withColumn("n_s", expr("mx_s div 1048576"))
      .withColumn("n_l", expr("mx_l div 1048576"))
      .withColumn("pmax_s", col("mx_s") % lit(1048576L))
      .withColumn("pmax_l", col("mx_l") % lit(1048576L))
      .withColumn("o_min", prefixOMin)
      .filter(col("c") >= least(lit(2L), col("o_min")) &&
        col("c") + least(col("n_s") - col("pmax_s"),
                         col("n_l") - col("pmax_l")) >= col("o_min"))
      .select(least(col("doc_s"), col("doc_l")).as("doc_a"),
              greatest(col("doc_s"), col("doc_l")).as("doc_b"))
  }

  /** Core of q_prefix_jaccard over any (doc_id, text) frame. */
  def prefixJaccard(docsIn: DataFrame): DataFrame = {
    val docs = graft.PlanMode.checkpointTail(prefixJacDocs(docsIn)) // index + 2 verify fetches
    val pref = graft.PlanMode.checkpointTail(
      prefixProbe(docs, prefixOrderCounts(docs)))
    val out = prefixPairAgg(pref)
      .join(docs.select(col("doc_id").as("doc_a"), col("grams").as("ga"),
                        col("n").as("n_a")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("grams").as("gb"),
                        col("n").as("n_b")), Seq("doc_b"))
      .withColumn("n_common",
        size(array_intersect(col("ga"), col("gb"))).cast("bigint"))
      .withColumn("jaccard", col("n_common").cast("double") /
        (col("n_a") + col("n_b") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= PrefixJacT)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    // No final orderBy: the gate sorts rows, and a global sort's range
    // sampling re-executes the verify subtree — measured +1.1 GiB
    // shuffle read (the pair-agg exchange read twice) at 100×-diverse.
    out
  }

  val qPrefixJaccardSql: String =
    s"""WITH sh AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |           range(greatest(len(string_split(text, ' ')) - 2, 1)),
       |           i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' ')))
       |           AS grams
       |  FROM documents),
       |tk AS (SELECT doc_id, grams, CAST(len(grams) AS BIGINT) AS n FROM sh),
       |inv AS (SELECT doc_id, n, unnest(grams) AS gram FROM tk),
       |dfq AS (SELECT gram, count(*) AS gram_df FROM inv GROUP BY 1),
       |pref AS (
       |  SELECT doc_id, gram FROM (
       |    SELECT i.doc_id, i.gram, i.n,
       |           row_number() OVER (PARTITION BY i.doc_id
       |                              ORDER BY d.gram_df, i.gram) AS rn
       |    FROM inv i JOIN dfq d USING (gram))
       |  WHERE rn <= n - ((8 * n + 9) // 10) + 1),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM pref a JOIN pref b ON a.gram = b.gram AND a.doc_id < b.doc_id),
       |pairs AS (
       |  SELECT c.doc_a, c.doc_b,
       |         CAST(len(list_intersect(ta.grams, tb.grams)) AS BIGINT)
       |           AS n_common,
       |         ta.n AS n_a, tb.n AS n_b
       |  FROM cand c JOIN tk ta ON ta.doc_id = c.doc_a
       |              JOIN tk tb ON tb.doc_id = c.doc_b)
       |SELECT doc_a, doc_b,
       |       CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) AS jaccard
       |FROM pairs
       |WHERE CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) >= $PrefixJacT""".stripMargin

  // MinHash + LSH near-dup (non-SQL-expressible → rows-only check):
  // shingle → 32-hash MinHash signature → 8 bands × 4 rows → bucket
  // equi-join for candidates → Jaccard verification on candidates only.
  // Output is one row per document with its dedup decision.
  val NumHashes = 32
  val NumBands = 8
  val RowsPerBand = NumHashes / NumBands

  /** The MinHash funnel's per-doc compute: (doc_id, grams, sig) — word
    * 3-gram shingles and their 32-hash signature. One md5 per gram
    * (engine-portable 60-bit digest), then 32 cheap affine min-hashes
    * over the pre-hashed values — not 32 re-hashes of every gram. Shared
    * by q_dedup_minhash, q_minhash_eval and the recall block of
    * q_dedup_recall / q_band_sweep; callers checkpoint it, since grams +
    * signature feed the banding pass and both sides of the candidate
    * gram join.
    */
  private def minhashDocs(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
              Ops.shingles(Ops.tokens(col("text")), 3).as("grams"))
      .withColumn("sig", Ops.minHashSignatureMod(
        transform(col("grams"), g => Ops.md5Bits60(g) % Ops.HashModP), NumHashes))

  val qDedupMinhash: Q = (s, d) => {
    val docs = minhashDocs(Tables.documents(s, d))
      .transform(graft.PlanMode.checkpointTail)
    // Banded star-edge candidates (see starCandidates) on (ids, bucket)
    // only; grams join back exactly once, for the unique candidate pairs.
    val candidateIds = starCandidates(docs, NumBands, RowsPerBand)
    val gramsOf = docs.select(col("doc_id"), col("grams"))
    val pairs = candidateIds
      .join(gramsOf.select(col("doc_id").as("doc_a"), col("grams").as("grams_a")),
            Seq("doc_a"))
      .join(gramsOf.select(col("doc_id").as("doc_b"), col("grams").as("grams_b")),
            Seq("doc_b"))
      .withColumn("jaccard",
        size(array_intersect(col("grams_a"), col("grams_b"))).cast("double") /
        size(array_union(col("grams_a"), col("grams_b"))))
    // Each verified pair is read once: it fans out to its two docs —
    // the b side flagged a duplicate when the pair is ≥ 0.9 similar —
    // and one doc-keyed aggregation yields every per-doc stat.
    val ends = explode(array(
      struct(col("doc_a").as("doc_id"), col("jaccard"), lit(0L).as("dup")),
      struct(col("doc_b").as("doc_id"), col("jaccard"),
             (col("jaccard") >= 0.9).cast("bigint").as("dup"))))
    val partners = pairs.select(ends.as("e"))
      .groupBy(col("e.doc_id").as("doc_id"))
      .agg(count(lit(1)).as("n_candidates"),
           max(col("e.jaccard")).as("max_jaccard"),
           max(col("e.dup")).as("is_dup"))
    val out = Tables.documents(s, d).select(col("doc_id"))
      .join(partners, Seq("doc_id"), "left")
      .select(col("doc_id"),
              coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
              round(coalesce(col("max_jaccard"), lit(0.0)), 6).as("max_jaccard"),
              coalesce(col("is_dup"), lit(0L)).as("is_dup"))
    // No final orderBy: corpus-sized output; the gate sorts rows.
    out
  }

  /** The DuckDB side of the MinHash pipeline, re-derived relationally:
    * same md5-60-bit gram digests, same affine hash family, same packed
    * band buckets — so candidate generation and the verified jaccards
    * hash-match the Spark plan exactly.
    */
  val qDedupMinhashSql: String = {
    val gramsSql =
      """list_distinct(list_transform(
        |           range(greatest(len(string_split(text, ' ')) - 2, 1)),
        |           i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' ')))""".stripMargin
    s"""WITH docs AS (
       |  SELECT doc_id, $gramsSql AS grams
       |  FROM documents),
       |sigs AS (
       |  SELECT doc_id, grams,
       |         list_transform(range($NumHashes), k -> list_min(list_transform(
       |           list_transform(grams, g -> ('0x' || substr(md5(g), 1, 15))::BIGINT % 1000000007),
       |           x -> ((2*k+1)*x + (1000003*k + 12345)) % 1000000007))) AS sig
       |  FROM docs),
       |banded AS (
       |  SELECT doc_id, b.b AS band_id,
       |         array_to_string(sig[b.b*$RowsPerBand+1 : b.b*$RowsPerBand+$RowsPerBand], ':') AS bucket
       |  FROM sigs CROSS JOIN generate_series(0, ${NumBands - 1}) b(b)),
       |reps AS (
       |  SELECT band_id, bucket, min(doc_id) AS rep
       |  FROM banded GROUP BY 1, 2),
       |candidates AS (
       |  SELECT DISTINCT r.rep AS doc_a, b2.doc_id AS doc_b
       |  FROM banded b2 JOIN reps r
       |    ON r.band_id = b2.band_id AND r.bucket = b2.bucket
       |  WHERE b2.doc_id <> r.rep),
       |pairs AS (
       |  SELECT c.doc_a, c.doc_b,
       |         CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE) /
       |           len(list_distinct(list_concat(ga.grams, gb.grams))) AS jaccard
       |  FROM candidates c
       |  JOIN sigs ga ON ga.doc_id = c.doc_a
       |  JOIN sigs gb ON gb.doc_id = c.doc_b),
       |partners AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_candidates, max(jaccard) AS max_jaccard
       |  FROM (SELECT doc_a AS doc_id, jaccard FROM pairs
       |        UNION ALL SELECT doc_b, jaccard FROM pairs)
       |  GROUP BY 1),
       |dup AS (SELECT DISTINCT doc_b AS doc_id, CAST(1 AS BIGINT) AS is_dup
       |        FROM pairs WHERE jaccard >= 0.9)
       |SELECT d.doc_id,
       |       CAST(COALESCE(p.n_candidates, 0) AS BIGINT) AS n_candidates,
       |       round(COALESCE(p.max_jaccard, 0.0), 6) AS max_jaccard,
       |       CAST(COALESCE(u.is_dup, 0) AS BIGINT) AS is_dup
       |FROM documents d
       |LEFT JOIN partners p ON p.doc_id = d.doc_id
       |LEFT JOIN dup u ON u.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // q_minhash_eval — sketch-quality audit of the MinHash pipeline: on
  // the SAME star-edge candidate pairs q_dedup_minhash verifies, compare
  // the signature's Jaccard ESTIMATE (matching positions / NumHashes)
  // against the exact gram Jaccard, bucketed by match count. The
  // calibration table that justifies the sketch: if the estimator is
  // honest, mean_true rises with n_matches and mean_abs_err stays near
  // the 1/√32 ≈ 0.18 binomial bound. Run it after changing NumHashes /
  // banding before trusting the new config on 100 TB.
  //
  // Exactness: est_micro = matches · (1e6/32) is EXACT integer
  // arithmetic (31250 per match); true Jaccard snaps to micro-units;
  // the per-bucket error sums are BIGINT and the published means are
  // single divisions of identical integers.
  //
  // Scale shape: identical to q_dedup_minhash through candidate
  // generation (persisted signature scan, star-edge buckets); the
  // audit adds one 32-position signature comparison per candidate pair
  // and a ≤33-row rollup.
  // ------------------------------------------------------------------
  val qMinhashEval: Q = (s, d) => {
    val docs = minhashDocs(Tables.documents(s, d))
      .transform(graft.PlanMode.checkpointTail)
    val candidateIds = starCandidates(docs, NumBands, RowsPerBand)
    val side = docs.select(col("doc_id"), col("grams"), col("sig"))
    val scored = candidateIds
      .join(side.select(col("doc_id").as("doc_a"), col("grams").as("grams_a"),
                        col("sig").as("sig_a")), Seq("doc_a"))
      .join(side.select(col("doc_id").as("doc_b"), col("grams").as("grams_b"),
                        col("sig").as("sig_b")), Seq("doc_b"))
      .select(
        expr("size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v))")
          .cast("bigint").as("n_matches"),
        round(size(array_intersect(col("grams_a"), col("grams_b")))
                .cast("double")
                / size(array_union(col("grams_a"), col("grams_b"))) * 1e6)
          .cast("long").as("true_u"))
      .withColumn("est_u", col("n_matches") * lit(1000000L / NumHashes))
    val out = scored.groupBy(col("n_matches"))
      .agg(count(lit(1)).as("n_pairs"),
           (sum(col("true_u")).cast("double") / 1e6
              / count(lit(1)).cast("double")).as("mean_true"),
           (sum(abs(col("true_u") - col("est_u"))).cast("double") / 1e6
              / count(lit(1)).cast("double")).as("mean_abs_err"))
      .orderBy(col("n_matches"))
    out
  }

  val qMinhashEvalSql: String = {
    val gramsSql =
      """list_distinct(list_transform(
        |           range(greatest(len(string_split(text, ' ')) - 2, 1)),
        |           i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' ')))""".stripMargin
    s"""WITH docs AS (
       |  SELECT doc_id, $gramsSql AS grams
       |  FROM documents),
       |sigs AS (
       |  SELECT doc_id, grams,
       |         list_transform(range($NumHashes), k -> list_min(list_transform(
       |           list_transform(grams, g -> ('0x' || substr(md5(g), 1, 15))::BIGINT % 1000000007),
       |           x -> ((2*k+1)*x + (1000003*k + 12345)) % 1000000007))) AS sig
       |  FROM docs),
       |banded AS (
       |  SELECT doc_id, b.b AS band_id,
       |         array_to_string(sig[b.b*$RowsPerBand+1 : b.b*$RowsPerBand+$RowsPerBand], ':') AS bucket
       |  FROM sigs CROSS JOIN generate_series(0, ${NumBands - 1}) b(b)),
       |reps AS (
       |  SELECT band_id, bucket, min(doc_id) AS rep
       |  FROM banded GROUP BY 1, 2),
       |candidates AS (
       |  SELECT DISTINCT r.rep AS doc_a, b2.doc_id AS doc_b
       |  FROM banded b2 JOIN reps r
       |    ON r.band_id = b2.band_id AND r.bucket = b2.bucket
       |  WHERE b2.doc_id <> r.rep),
       |scored AS (
       |  SELECT
       |    CAST((SELECT count(*) FROM generate_series(1, $NumHashes) k(k)
       |          WHERE sa.sig[k.k] = sb.sig[k.k]) AS BIGINT) AS n_matches,
       |    CAST(round(CAST(len(list_intersect(sa.grams, sb.grams)) AS DOUBLE)
       |                 / len(list_distinct(list_concat(sa.grams, sb.grams)))
       |                 * 1000000.0, 0) AS BIGINT) AS true_u
       |  FROM candidates c
       |  JOIN sigs sa ON sa.doc_id = c.doc_a
       |  JOIN sigs sb ON sb.doc_id = c.doc_b)
       |SELECT n_matches, CAST(count(*) AS BIGINT) AS n_pairs,
       |       CAST(SUM(true_u) AS DOUBLE) / 1000000.0
       |         / CAST(count(*) AS DOUBLE) AS mean_true,
       |       CAST(SUM(abs(true_u - n_matches * ${1000000L / NumHashes}))
       |            AS DOUBLE) / 1000000.0
       |         / CAST(count(*) AS DOUBLE) AS mean_abs_err
       |FROM scored GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ------------------------------------------------------------------
  // q_dedup_recall — candidate-generation recall of the banded
  // star-edge MinHash generator against the EXACT Jaccard-threshold
  // pair set, on a deterministic demo block (doc_id % 2): the dedup
  // family's analogue of the q_ann_recall / q_lsh_recall / q_pq_recall
  // panel. Both of the generator's documented recall trades are what
  // this query prices — banding itself (a true pair may collide in no
  // band) and the star-edge rule (two non-rep members of a bucket are
  // never paired directly) — surfaced as one honest number a pipeline
  // reads before trusting the generator's output at 100 TB.
  //
  // Exactness: the exact side is the same size(intersect)/size(union)
  // rational both engines evaluate identically (q_dedup_minhash's
  // verification arithmetic); candidates are the identical star-edge
  // rule on identical md5-affine signatures; every published count is
  // a BIGINT and recall is one division of identical integers.
  //
  // Scale shape: the candidate side is the production generator on the
  // block (signature scan, 8 slim band rows per doc, star edges); the
  // exact side is all-pairs BY DESIGN — ground truth has no sublinear
  // shortcut, so the eval runs on a FIXED-budget block exactly as
  // q_knn_classify caps its probe set: % 2 spread AND id-capped at
  // DedupRecallIdCap, so the block stays ≤ 500 docs at every corpus
  // scale and only the per-doc signature cost grows with data. (The
  // cap is a no-op at the sf0.01 correctness gate, whose doc_ids all
  // sit below it; the uncapped % 2 form measured 77 s at sf0.1 —
  // all-pairs ground truth over a corpus-growing block.)
  // ------------------------------------------------------------------
  val DedupRecallJacT = 0.5
  val DedupRecallIdCap = 1000L

  /** The recall-eval block: capped demo docs with grams + full MinHash
    * signature — shared by q_dedup_recall and q_band_sweep (persist at
    * the call site).
    */
  private def recallBlock(s: SparkSession, d: String): DataFrame =
    minhashDocs(Tables.documents(s, d)
      .filter(col("doc_id") % 2 === 0 && col("doc_id") < DedupRecallIdCap))

  /** Star-edge banded candidates (doc_a < doc_b) over a (doc_id, sig)
    * frame for a (bands × rowsPer = NumHashes) split — the MinHash
    * funnel's generator, shared by q_dedup_minhash, q_minhash_eval,
    * q_dedup_recall and q_band_sweep (which prices the split on the same
    * signatures). Band buckets are the packed signature slice itself (a
    * ':'-joined string): equality on the slice is what LSH needs, no
    * second hash required, and it stays byte-identical across engines.
    * Banding and the pair distinct carry (ids, bucket) only — gram
    * arrays through the explode and self-join would multiply shuffle
    * bytes by ~bands× the array size at scale.
    *
    * STAR edges per bucket, not cliques: every member pairs with its
    * bucket's min doc_id only, so a bucket of m near-identical docs
    * contributes m−1 candidate pairs instead of m(m−1)/2 — each doc
    * generates ≤ bands member-side candidates, linear at any duplicate
    * density. (The clique form measured 443 s / 22 GiB shuffled on the
    * 100× duplicate-saturated corpus — the exact hot-bucket blowup the
    * n-gram/aHash caps defend against; star edges are the qDedupCluster
    * recipe applied to LSH buckets.) This is an intentional RECALL
    * trade, like banding itself: only rep–member edges are verified, so
    * two non-rep members of a bucket are never compared directly — a
    * true near-dup pair whose shared bucket rep is a dissimilar
    * band-collision is missed, and q_dedup_minhash's partner stats
    * (n_candidates/max_jaccard) reflect rep-edges only. In the common
    * case the trade is free — near-dups collide in SOME band with their
    * cluster's true rep — and the oracles apply the identical star-edge
    * rule, so both engines rank the same pairs.
    */
  private def starCandidates(docs: DataFrame, bands: Int,
                             rowsPer: Int): DataFrame = {
    val banded = docs.select(
      col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        j => array_join(transform(
               slice(col("sig"), j * rowsPer + 1, lit(rowsPer)),
               _.cast("string")), ":"))))
      .withColumnRenamed("pos", "band_id")
      .withColumnRenamed("col", "bucket")
    val bucketRep = banded.groupBy(col("band_id"), col("bucket"))
      .agg(min(col("doc_id")).as("rep"))
    // rep = bucket min, so star edges are already (doc_a < doc_b).
    banded.join(bucketRep, Seq("band_id", "bucket"))
      .filter(col("doc_id") =!= col("rep"))
      .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"))
      .distinct()
  }

  /** Exact Jaccard-threshold ground-truth pairs over the recall block —
    * all-pairs BY DESIGN on the fixed-budget frame (ground truth has no
    * sublinear shortcut; the block cap is what keeps it affordable).
    */
  private def exactPairs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("doc_a"), col("grams").as("grams_a"))
      // The block is ≤500 docs in ONE scan split (a tiny file is one
      // partition), so the O(block²) intersect/union compute of the
      // BroadcastNestedLoopJoin below otherwise runs on a single core —
      // measured 3.9 s on one task at sf0.1 while 31 cores idle, and the
      // sweep's other stages block behind the shared `exact` cache fill.
      // Round-robin repartition of the STREAMED side costs one ≤500-row
      // shuffle of gram arrays (<1 MB) and buys full-width CPU — the
      // small-bytes/heavy-CPU regime (the q_recommend repartition note).
      // Pair SET is unchanged: the a<b filter and the downstream counts
      // are partition-order-free.
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .crossJoin(docs.select(col("doc_id").as("doc_b"),
                             col("grams").as("grams_b")))
      .filter(col("doc_a") < col("doc_b"))
      // Measured non-win: the Arasu length filter prunes 40% of the
      // block's 125k intersects but moves wall not at all — the cost
      // here is crossJoin row materialization (2 KB gram arrays), not
      // intersect compute, and the filter runs after rows materialize.
      // Kept in prefixJaccard where it gates a corpus-sized GENERATOR;
      // pointless on a capped eval block.
      .filter(size(array_intersect(col("grams_a"), col("grams_b")))
                .cast("double")
                / size(array_union(col("grams_a"), col("grams_b")))
                >= DedupRecallJacT)
      .select(col("doc_a"), col("doc_b"))

  /** One row (n_exact, n_candidates, n_hits, recall) of a candidate set
    * against the exact pairs, each count a 1-row aggregate; recall is 1
    * when there is nothing to find. `prefix` columns lead the row.
    */
  private def recallRow(exact: DataFrame, cand: DataFrame,
                        prefix: Column*): DataFrame = {
    // two consumers of cand: volume count + hit semi-join
    val hits = exact.join(cand, Seq("doc_a", "doc_b"), "left_semi")
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(cand.agg(count(lit(1)).as("n_candidates")))
      .crossJoin(hits.agg(count(lit(1)).as("n_hits")))
      .select(prefix ++ Seq(col("n_exact"), col("n_candidates"), col("n_hits"),
              when(col("n_exact") > 0L,
                   col("n_hits").cast("double") /
                     col("n_exact").cast("double"))
                .otherwise(lit(1.0)).as("recall")): _*)
  }

  val qDedupRecall: Q = (s, d) => {
    val docs = graft.PlanMode.checkpointTail(recallBlock(s, d))
    val cand = graft.PlanMode.checkpointTail(
      starCandidates(docs, NumBands, RowsPerBand))
    recallRow(graft.PlanMode.checkpointTail(exactPairs(docs)), cand)
  }

  val qDedupRecallSql: String = {
    val gramsSql =
      """list_distinct(list_transform(
        |           range(greatest(len(string_split(text, ' ')) - 2, 1)),
        |           i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' ')))""".stripMargin
    s"""WITH docs AS (
       |  SELECT doc_id, $gramsSql AS grams
       |  FROM documents WHERE doc_id % 2 = 0 AND doc_id < $DedupRecallIdCap),
       |sigs AS (
       |  SELECT doc_id, grams,
       |         list_transform(range($NumHashes), k -> list_min(list_transform(
       |           list_transform(grams, g -> ('0x' || substr(md5(g), 1, 15))::BIGINT % 1000000007),
       |           x -> ((2*k+1)*x + (1000003*k + 12345)) % 1000000007))) AS sig
       |  FROM docs),
       |banded AS (
       |  SELECT doc_id, b.b AS band_id,
       |         array_to_string(sig[b.b*$RowsPerBand+1 : b.b*$RowsPerBand+$RowsPerBand], ':') AS bucket
       |  FROM sigs CROSS JOIN generate_series(0, ${NumBands - 1}) b(b)),
       |reps AS (
       |  SELECT band_id, bucket, min(doc_id) AS rep
       |  FROM banded GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT r.rep AS doc_a, b2.doc_id AS doc_b
       |  FROM banded b2 JOIN reps r
       |    ON r.band_id = b2.band_id AND r.bucket = b2.bucket
       |  WHERE b2.doc_id <> r.rep),
       |exact AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM docs a JOIN docs b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
       |          / len(list_distinct(list_concat(a.grams, b.grams)))
       |          >= $DedupRecallJacT),
       |hits AS (
       |  SELECT e.doc_a, e.doc_b FROM exact e
       |  JOIN cand c ON c.doc_a = e.doc_a AND c.doc_b = e.doc_b)
       |SELECT (SELECT CAST(count(*) AS BIGINT) FROM exact) AS n_exact,
       |       (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
       |       (SELECT CAST(count(*) AS BIGINT) FROM hits) AS n_hits,
       |       CASE WHEN (SELECT count(*) FROM exact) > 0
       |            THEN CAST((SELECT count(*) FROM hits) AS DOUBLE)
       |                   / CAST((SELECT count(*) FROM exact) AS DOUBLE)
       |            ELSE 1.0 END AS recall""".stripMargin
  }

  // ------------------------------------------------------------------
  // q_band_sweep — the LSH BANDING CURVE: candidate volume and recall
  // for every (bands × rows_per_band = NumHashes) split of the SAME
  // 32-hash MinHash signatures, against the same exact ground truth as
  // q_dedup_recall. The b/r split is THE tuning knob of every
  // MinHash-LSH deployment (the S-curve threshold sits near (1/b)^(1/r):
  // more/narrower bands catch lower similarities at more candidate
  // cost) — this query prices the knob empirically on the corpus's own
  // signatures instead of trusting the analytic curve. The
  // q_threshold_sweep / q_ivf_sweep discipline applied to dedup.
  //
  // Exactness: signatures, star-edge rule, and ground truth are
  // q_dedup_recall's verbatim (shared recallBlock / starCandidates /
  // exactPairs); every count is a BIGINT; recall is one division.
  //
  // Scale shape: the signature scan and the exact all-pairs ground
  // truth (fixed-budget block, the documented eval cap) are computed
  // ONCE and persisted across the whole curve; each sweep point adds
  // only its banded shuffle over the persisted signatures — 8 slim
  // rows per doc regardless of the split — and two bounded counts.
  // ------------------------------------------------------------------
  val BandConfigs = Seq((4, 8), (8, 4), (16, 2)) // b × r = NumHashes

  val qBandSweep: Q = (s, d) => {
    val docs = graft.PlanMode.checkpointTail(recallBlock(s, d))
    val exact = graft.PlanMode.checkpointTail(exactPairs(docs))
    // Lazy final tail (round 16): the cached per-config/exact/docs
    // frames are leaf inputs of the returned plan and are freed by the
    // harness sweep / ContextCleaner after the one consumer runs.
    BandConfigs.map { case (b, r) =>
      recallRow(exact, graft.PlanMode.checkpointTail(starCandidates(docs, b, r)),
                lit(b.toLong).as("n_bands"), lit(r.toLong).as("rows_per_band"))
    }.reduce(_.unionByName(_))
      .orderBy(col("n_bands"))
  }

  val qBandSweepSql: String = {
    val gramsSql =
      """list_distinct(list_transform(
        |           range(greatest(len(string_split(text, ' ')) - 2, 1)),
        |           i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' ')))""".stripMargin
    val per = BandConfigs.map { case (b, r) =>
      s"""banded_$b AS (
         |  SELECT doc_id, bb.b AS band_id,
         |         array_to_string(sig[bb.b*$r+1 : bb.b*$r+$r], ':') AS bucket
         |  FROM sigs CROSS JOIN generate_series(0, ${b - 1}) bb(b)),
         |reps_$b AS (
         |  SELECT band_id, bucket, min(doc_id) AS rep
         |  FROM banded_$b GROUP BY 1, 2),
         |cand_$b AS (
         |  SELECT DISTINCT rr.rep AS doc_a, b2.doc_id AS doc_b
         |  FROM banded_$b b2 JOIN reps_$b rr
         |    ON rr.band_id = b2.band_id AND rr.bucket = b2.bucket
         |  WHERE b2.doc_id <> rr.rep),
         |srow_$b AS (
         |  SELECT CAST($b AS BIGINT) AS n_bands,
         |         CAST($r AS BIGINT) AS rows_per_band,
         |         (SELECT CAST(count(*) AS BIGINT) FROM exact) AS n_exact,
         |         (SELECT CAST(count(*) AS BIGINT) FROM cand_$b)
         |           AS n_candidates,
         |         (SELECT CAST(count(*) AS BIGINT) FROM exact e
         |          JOIN cand_$b c ON c.doc_a = e.doc_a AND c.doc_b = e.doc_b)
         |           AS n_hits)""".stripMargin
    }
    s"""WITH docs AS (
       |  SELECT doc_id, $gramsSql AS grams
       |  FROM documents WHERE doc_id % 2 = 0 AND doc_id < $DedupRecallIdCap),
       |sigs AS (
       |  SELECT doc_id, grams,
       |         list_transform(range($NumHashes), k -> list_min(list_transform(
       |           list_transform(grams, g -> ('0x' || substr(md5(g), 1, 15))::BIGINT % 1000000007),
       |           x -> ((2*k+1)*x + (1000003*k + 12345)) % 1000000007))) AS sig
       |  FROM docs),
       |exact AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM docs a JOIN docs b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
       |          / len(list_distinct(list_concat(a.grams, b.grams)))
       |          >= $DedupRecallJacT),
       |${per.mkString(",\n")}
       |SELECT n_bands, rows_per_band, n_exact, n_candidates, n_hits,
       |       CASE WHEN n_exact > 0
       |            THEN CAST(n_hits AS DOUBLE) / CAST(n_exact AS DOUBLE)
       |            ELSE 1.0 END AS recall
       |FROM (${BandConfigs.map { case (b, _) => s"SELECT * FROM srow_$b" }
                 .mkString(" UNION ALL ")})
       |ORDER BY n_bands""".stripMargin
  }

  // SimHash: 60-bit signature where bit i is the sign of
  // Σ_tokens (±1 by bit i of the token's md5-60-bit digest). 60 bits, not
  // 64: 15 hex chars of md5 are the widest slice that fits a signed
  // BIGINT in both engines, which is what makes the signature
  // exact-oracle-able. Computed as an explode + single group-by with 60
  // partial-aggregating sums — map-side combine keeps the shuffle at one
  // row per (doc, 60 counters). Also carries the polynomial rolling-hash
  // fingerprint (Ops.rollingHash).
  val SimhashBits = 60

  /** The 60-bit SimHash signature of every document: (doc_id, simhash).
    * Shared by q_dedup_simhash (signature dump + fingerprint) and
    * q_simhash_hamming (banded near-dup retrieval over the signatures).
    */
  def simhashSig(docs: DataFrame): DataFrame = {
    // Round-15 shape: ONE compiled pass per document
    // (graftshim.SimHash60) instead of explode → per-token hex-md5 →
    // groupBy(doc_id) with 60 conditional SUM columns. The signature is
    // now computed map-side with NO exchange (the old aggregate's
    // shuffle disappears from every consumer: q_dedup_simhash,
    // q_simhash_hamming, simhashEdges → pagerank/triangle census).
    // Bit-identical: same md5-60-bit digests, exact integer counters,
    // same sign rule — pinned by TokenTextExprsSpec against this old
    // formulation (kept below) and by the unchanged oracles.
    import org.apache.spark.sql.graftshim.{Shim, SimHash60}
    // text-notNull preserves the explode semantics (null token array
    // produced no rows, dropping the doc from the signature set).
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
              Shim.column(SimHash60(Shim.expression(Ops.tokens(col("text")))))
                .as("simhash"))
  }

  /** The replaced 60-sum aggregate formulation — TokenTextExprsSpec's
    * oracle for SimHash60 (and the transliteration the DuckDB CTEs use).
    */
  private[graft] def simhashSigAggForm(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), explode(Ops.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), Ops.md5Bits60(col("tok")).as("h"))
    val bitSums = (0 until SimhashBits).map { i =>
      sum(when(col("h").bitwiseAND(lit(1L << i)) =!= 0, 1L).otherwise(-1L))
        .as(s"b$i")
    }
    val sums = tok.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val simhash = (0 until SimhashBits)
      .map(i => when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    sums.select(col("doc_id"), simhash.as("simhash"))
  }

  val qDedupSimhash: Q = (s, d) => {
    val fp = Tables.documents(s, d)
      .select(col("doc_id"),
              Ops.rollingHash(Ops.normalizeText(col("text"))).as("fingerprint"))
    simhashSig(Tables.documents(s, d))
      .join(fp, Seq("doc_id"))
    // No final orderBy: corpus-sized output; the gate sorts rows.
  }

  /** The tok → bits → sh CTE chain deriving every doc's 60-bit SimHash
    * signature — shared by the simhash-dump and hamming-pair oracles.
    */
  private val simhashCtes: String =
    s"""tok AS (
       |  SELECT doc_id, ('0x' || substr(md5(t.tok), 1, 15))::BIGINT AS h
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) t),
       |bits AS (
       |  SELECT doc_id, b.b AS bit,
       |         SUM(CASE WHEN ((h >> b.b) & 1) = 1 THEN 1 ELSE -1 END) AS s
       |  FROM tok CROSS JOIN generate_series(0, ${SimhashBits - 1}) b(b)
       |  GROUP BY 1, 2),
       |sh AS (
       |  SELECT doc_id,
       |         CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
       |  FROM bits GROUP BY 1)""".stripMargin

  /** DuckDB oracle for SimHash: same 60-bit md5 digests; the rolling-hash
    * fingerprint folds with list_reduce (its implicit first-element seed
    * equals the (0·31 + c₁) first step of the Spark aggregate).
    */
  val qDedupSimhashSql: String =
    s"""WITH $simhashCtes,
       |fp AS (
       |  SELECT doc_id,
       |         CASE WHEN length(nt) = 0 THEN 0 ELSE
       |           list_reduce(
       |             list_transform(range(1, least(length(nt), 64) + 1),
       |                            i -> CAST(ascii(substr(nt, CAST(i AS INT), 1)) AS BIGINT)),
       |             (a, c) -> (a*31 + c) % 1000000007) END AS fingerprint
       |  FROM (SELECT doc_id, lower(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS nt FROM documents))
       |SELECT s.doc_id, s.simhash, CAST(f.fingerprint AS BIGINT) AS fingerprint
       |FROM sh s JOIN fp f ON s.doc_id = f.doc_id
       |ORDER BY s.doc_id""".stripMargin

  // ------------------------------------------------------------------
  // q_simhash_hamming — SimHash near-dup RETRIEVAL by Hamming distance
  // (Manku/Jain/Sarma WWW'07, the web-scale dedup Google ran on
  // crawl snapshots): split the 60-bit signature into SimBands bands
  // of SimBandBits bits; by pigeonhole, any pair within Hamming
  // distance HamT ≤ SimBands−1 matches at least one band EXACTLY, so
  // candidate generation is an equi-join on (band_id, band_val) — no
  // pairwise scan — and verification is one bit_count(xor) per
  // candidate. Complements q_dedup_simhash (which dumps signatures)
  // with the retrieval step that makes them useful, and q_dedup_minhash
  // (set-overlap similarity) with the bit-vector metric.
  //
  // Hot-band cap (the MaxGramDf discipline): a band value shared by
  // more than SimBandMaxDf docs is template/boilerplate evidence, not
  // a candidate bucket — it is dropped BEFORE pairing, bounding any
  // bucket's fan-out at SimBandMaxDf² instead of corpus². An
  // intentional recall trade, mirrored exactly in the oracle.
  //
  // Scale shape: signatures are one partial-agg shuffle (shared
  // simhashSig); banding is a ×SimBands map; the census + self-join
  // key on 8-byte (band_id, band_val); verified output is pair-sparse.
  // ------------------------------------------------------------------
  val SimBands = 4
  val SimBandBits = 15
  val HamT = 3L
  val SimBandMaxDf = 64L

  val qSimhashHamming: Q = (s, d) => simhashHamming(Tables.documents(s, d))

  /** Core of q_simhash_hamming over any (doc_id, text) frame — factored
    * for the crafted-corpus spec (pigeonhole-guarantee pin). The
    * registry row's ordered contract; graph consumers (pagerank,
    * triangleCount) take `simhashEdges` instead and skip the global
    * sort their shuffles would destroy anyway.
    */
  def simhashHamming(docs: DataFrame): DataFrame =
    simhashEdges(docs).orderBy(col("doc_a"), col("doc_b"))

  /** The verified Hamming ≤ HamT near-dup edge list, unordered. */
  def simhashEdges(docs: DataFrame): DataFrame = {
    val sig = simhashSig(docs)
    val banded = sig.select(col("doc_id"), col("simhash"),
        posexplode(array((0 until SimBands).map { j =>
          shiftright(col("simhash"), j * SimBandBits)
            .bitwiseAND(lit((1L << SimBandBits) - 1))
        }: _*)))
      .toDF("doc_id", "simhash", "band_id", "band_val")
    val cool = banded.groupBy(col("band_id"), col("band_val"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") <= graft.GraftConf.simBandMaxDf(docs.sparkSession))
      .select(col("band_id"), col("band_val"))
    val kept = banded.join(cool, Seq("band_id", "band_val"))
    kept.select(col("band_id"), col("band_val"),
                col("doc_id").as("doc_a"), col("simhash").as("sig_a"))
      .join(kept.select(col("band_id"), col("band_val"),
                        col("doc_id").as("doc_b"), col("simhash").as("sig_b")),
            Seq("band_id", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sig_a"), col("sig_b"))
      .distinct()
      .withColumn("hamming", expr("bit_count(sig_a ^ sig_b)").cast("bigint"))
      .filter(col("hamming") <= HamT)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** Full banded-retrieval CTE chain ending in `ham_edges(doc_a, doc_b,
    * hamming)` — the verified Hamming ≤ HamT near-dup edge list, shared
    * by the hamming-pair and triangle-count oracles.
    */
  private val simhashEdgeCtes: String =
    s"""$simhashCtes,
       |banded AS (
       |  SELECT doc_id, simhash, j.j AS band_id,
       |         (simhash >> (j.j * $SimBandBits))
       |           & ${(1L << SimBandBits) - 1} AS band_val
       |  FROM sh CROSS JOIN generate_series(0, ${SimBands - 1}) j(j)),
       |cool AS (
       |  SELECT band_id, band_val FROM banded
       |  GROUP BY 1, 2 HAVING count(*) <= $SimBandMaxDf),
       |kept AS (
       |  SELECT b.doc_id, b.simhash, b.band_id, b.band_val
       |  FROM banded b JOIN cool USING (band_id, band_val)),
       |sim_pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         a.simhash AS sig_a, b.simhash AS sig_b
       |  FROM kept a JOIN kept b
       |    ON a.band_id = b.band_id AND a.band_val = b.band_val
       |   AND a.doc_id < b.doc_id),
       |ham_edges AS (
       |  SELECT doc_a, doc_b,
       |         CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
       |  FROM sim_pairs WHERE bit_count(xor(sig_a, sig_b)) <= $HamT)""".stripMargin

  val qSimhashHammingSql: String =
    s"""WITH $simhashEdgeCtes
       |SELECT doc_a, doc_b, hamming FROM ham_edges
       |ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // q_triangle_count — triangle census of the verified SimHash
  // near-dup graph: nodes with ≥ 1 edge, edge count, wedge count
  // Σ_v C(deg v, 2), triangle count, and the global transitivity
  // 3T / wedges. The CLUSTER-QUALITY diagnostic over the same edges
  // q_dedup_cluster unions: transitivity ≈ 1 means near-dup
  // neighborhoods are cliquish (true duplicate groups — safe to
  // collapse to one representative); low transitivity means chains,
  // the signature of false transitive merges where A~B~C but A≁C —
  // exactly what you check before trusting connected-component dedup
  // at 100 TB.
  //
  // Exactness: every count is an exact BIGINT (the standard ordered-
  // wedge enumeration: edges oriented a<b, wedge join on the middle
  // vertex, close with a semi-join — each triangle a<b<c closes
  // exactly one ordered wedge); transitivity is one IEEE division of
  // identical integers (3T stays integral).
  //
  // Scale shape: the edge list is already pair-sparse (banded LSH
  // with the hot-band cap, so deg(v) ≤ SimBands·SimBandMaxDf); the
  // wedge join keys on the shared vertex and fans out Σ C(deg, 2) ≤
  // |E|·capped-degree — the standard distributed triangle recipe
  // (node-iterator++ à la Suri/Vassilvitskii) where the cap is what
  // keeps the hottest vertex from quadratic blowup.
  // ------------------------------------------------------------------
  val qTriangleCount: Q = (s, d) => triangleCount(Tables.documents(s, d))

  /** Core of q_triangle_count over any (doc_id, text) frame. */
  def triangleCount(docs: DataFrame): DataFrame = {
    // The verified edge list (signature scan + banded self-join) feeds
    // deg, edgeStats, the wedge join (twice) and the closing semi-join
    // — persist it or the retrieval pipeline re-runs ~4×, exactly the
    // defect pagerank fixed below (7.2 s → 2.4 s there; same shape).
    val e = simhashEdges(docs).select(col("doc_a").as("a"),
                                        col("doc_b").as("b"))
      .persist()
    val deg = e.select(col("a").as("v")).unionByName(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("dg"))
    val nodeStats = deg.agg(
      count(lit(1)).as("n_nodes"),
      coalesce(sum(expr("dg * (dg - 1) div 2")), lit(0L)).as("n_wedges"))
    val edgeStats = e.agg(count(lit(1)).as("n_edges"))
    val wedges = e.alias("e1")
      .join(e.alias("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("wa"), col("e2.b").as("wc"))
    val triStats = wedges
      .join(e.alias("e3"),
            col("wa") === col("e3.a") && col("wc") === col("e3.b"),
            "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val out = nodeStats.crossJoin(edgeStats).crossJoin(triStats)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
              col("n_triangles"),
              when(col("n_wedges") > 0L,
                   (lit(3L) * col("n_triangles")).cast("double")
                     / col("n_wedges").cast("double"))
                .otherwise(lit(0.0)).as("transitivity"))
    out
  }

  val qTriangleCountSql: String =
    s"""WITH $simhashEdgeCtes,
       |e AS (SELECT doc_a AS a, doc_b AS b FROM ham_edges),
       |deg AS (
       |  SELECT v, count(*) AS dg
       |  FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
       |  GROUP BY 1),
       |ns AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
       |         CAST(COALESCE(SUM(dg * (dg - 1) // 2), 0) AS BIGINT)
       |           AS n_wedges
       |  FROM deg),
       |es AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e),
       |wed AS (
       |  SELECT e1.a AS wa, e2.b AS wc
       |  FROM e e1 JOIN e e2 ON e2.a = e1.b),
       |ts AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_triangles
       |  FROM wed w WHERE EXISTS (
       |    SELECT 1 FROM e WHERE e.a = w.wa AND e.b = w.wc))
       |SELECT n_nodes, n_edges, n_wedges, n_triangles,
       |       CASE WHEN n_wedges > 0 THEN
       |         CAST(3 * n_triangles AS DOUBLE) / CAST(n_wedges AS DOUBLE)
       |       ELSE 0.0 END AS transitivity
       |FROM ns CROSS JOIN es CROSS JOIN ts""".stripMargin

  // Embedding-cosine near-dup over BANDED sign-LSH candidates within
  // the label block (round 10: candidates come from ext.Stats'
  // generator — 24 two-bit bands over 48 shared planes with the
  // hot-band cap — restricted to same-label pairs; the old within-label
  // ALL-PAIRS join measured 21× wall for 30×-diverse data, the exact
  // quadratic q_dbscan shed this round). The band predicate is
  // mirrored in the oracle via Stats.dbscanBandCtesSql (one shared SQL
  // fragment with the DBSCAN oracle), and ProductionPathSpec pins the
  // banding lossless at the sf0.01 gate — the bucketed pair set EQUALS
  // the all-pairs pair set there, so the green row's semantics are
  // unchanged. The corpus carries no high-cosine pairs (max ≈ 0.6), so
  // the operator demonstrates on a 0.3 threshold over a deterministic
  // sample (vec_id % 4 = 0, label < 5) that keeps the oracle's
  // correlated-subquery cosine cheap. Norms computed once per vector;
  // the per-pair work is a single native dot product on DISTINCT
  // candidates only.
  val EmbDupThreshold = 0.3

  val qDedupEmbedding: Q = (s, d) => {
    import graft.functions.VectorFunctions
    val e = Stats.dbscanSample(Tables.embeddings(s, d)).persist()
    val out = Stats.dbscanCandidates(e)
      .join(e.select(col("vec_id").as("va"), col("label").as("la"),
                     col("embedding").as("ea"), col("nrm").as("na")),
            Seq("va"))
      .join(e.select(col("vec_id").as("vb"), col("label").as("lb"),
                     col("embedding").as("eb"), col("nrm").as("nb")),
            Seq("vb"))
      .filter(col("la") === col("lb"))
      .withColumn("cos",
        round(VectorFunctions.vecDot(col("ea"), col("eb")) /
                (col("na") * col("nb")), 6))
      .filter(col("cos") >= EmbDupThreshold)
      .select(col("la").as("label"), col("va").as("vec_a"),
              col("vb").as("vec_b"), col("cos"))
      .orderBy(col("vec_a"), col("vec_b"))
    out
  }

  val qDedupEmbeddingSql: String =
    s"""WITH ${Stats.dbscanBandCtesSql},
      |scored AS (
      |  SELECT a.label, c.va AS vec_a, c.vb AS vec_b,
      |         round(
      |           (SELECT SUM(CAST(a.embedding[i.i] AS DOUBLE) * CAST(b.embedding[i.i] AS DOUBLE))
      |            FROM generate_series(1, 64) i(i)) /
      |           (sqrt((SELECT SUM(CAST(a.embedding[i.i] AS DOUBLE) ** 2)
      |                  FROM generate_series(1, 64) i(i))) *
      |            sqrt((SELECT SUM(CAST(b.embedding[i.i] AS DOUBLE) ** 2)
      |                  FROM generate_series(1, 64) i(i)))), 6) AS cos
      |  FROM cand c
      |  JOIN e a ON a.vec_id = c.va
      |  JOIN e b ON b.vec_id = c.vb AND b.label = a.label)
      |SELECT label, vec_a, vec_b, cos FROM scored WHERE cos >= $EmbDupThreshold
      |ORDER BY vec_a, vec_b""".stripMargin

  // Incremental (cross-batch) dedup — the daily-ingest shape: a new
  // batch keeps only docs whose content hash is NOT already in the
  // historical corpus. History/new split by doc_id parity so the query
  // is scale-free; the membership test is a LEFT ANTI join on the
  // 256-bit hash (at 100 TB: new-batch side is small, history hash set
  // is a bucketed table or bloom pre-filter — see q_bloom_join — and
  // the anti join never materializes matches). Per-language accounting
  // of kept vs dropped.
  val qDedupIncremental: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), sha2(col("text"), 256).as("h"))
    val history = docs.filter(col("doc_id") % 2 === 0).select(col("h")).distinct()
    val fresh = docs.filter(col("doc_id") % 2 === 1)
    val kept = fresh.join(history, Seq("h"), "left_anti")
      .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
    fresh.groupBy(col("lang")).agg(count(lit(1)).as("n_new"))
      .join(kept, Seq("lang"), "left")
      .select(col("lang"), col("n_new"),
              coalesce(col("n_kept"), lit(0L)).as("n_kept"),
              (col("n_new") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
      .orderBy(col("lang"))
  }

  val qDedupIncrementalSql: String =
    """WITH docs AS (
      |  SELECT doc_id, lang, sha256(text) AS h FROM documents),
      |history AS (SELECT DISTINCT h FROM docs WHERE doc_id % 2 = 0),
      |fresh AS (SELECT * FROM docs WHERE doc_id % 2 = 1),
      |kept AS (
      |  SELECT lang, count(*) AS n_kept FROM fresh f
      |  WHERE NOT EXISTS (SELECT 1 FROM history x WHERE x.h = f.h)
      |  GROUP BY 1)
      |SELECT f.lang, count(*) AS n_new,
      |       CAST(COALESCE(MAX(k.n_kept), 0) AS BIGINT) AS n_kept,
      |       CAST(count(*) - COALESCE(MAX(k.n_kept), 0) AS BIGINT) AS n_dropped
      |FROM fresh f LEFT JOIN kept k ON f.lang = k.lang
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // Duplicate-span mass — the corpus-level diagnostic behind
  // substring-level dedup (Lee et al., "Deduplicating Training Data
  // Makes Language Models Better"): what fraction of 8-gram spans is
  // text that also occurs in another document? Unlike the pairwise
  // dedup operators above this never forms pairs at all: explode every
  // (non-distinct) 8-gram occurrence, compute each gram's document
  // frequency with a two-level partial aggregate, then flag occurrences
  // whose gram appears in >= 2 docs and roll up per source. Linear in
  // corpus token count at any scale — two shuffles (gram df, gram-keyed
  // back-join), both on well-spread gram keys.
  val SpanN = 8

  /** All n-gram occurrences of a token array, multiplicity preserved
    * (contrast Ops.shingles, which is distinct — set semantics for
    * Jaccard/MinHash; mass accounting needs every occurrence). Pure-HOF
    * reference formulation, kept as the semantic spec for the native
    * Ops.shinglesAll the queries actually run (interpreted HOF lambdas
    * were the dominant per-row cost on the span scans — the r5 lesson).
    */
  private[graft] def allSpansHof(toks: org.apache.spark.sql.Column) =
    transform(
      sequence(lit(0), greatest(size(toks) - (SpanN - 1), lit(1)) - 1),
      i => array_join(slice(toks, i + 1, lit(SpanN)), " "))

  private def allSpans(toks: org.apache.spark.sql.Column) =
    Ops.shinglesAll(toks, SpanN)

  val qDupSpanMass: Q = (s, d) => dupSpanMass(Tables.documents(s, d))

  /** The transform itself, over any (doc_id, source, text) frame — shared
    * with the crafted-corpus spec so invariants pin the same code path.
    */
  def dupSpanMass(docs: DataFrame): DataFrame = {
    // The gram never leaves the map side as text: every shuffle keys on
    // xxhash64(gram) (8 bytes) instead of the ~50-80-byte span string —
    // at cluster scale the shuffle's network bytes dominate the hash
    // CPU (measured locally: 15.0 → 5.6 MiB shuffled at sf0.1, see
    // docs/SCALE.md). Outputs are gram-free counts, so the oracle is
    // untouched; a 64-bit collision would merge two grams' counts, with
    // probability ~n²/2⁶⁵ — immaterial below ~10⁹ distinct grams and
    // pinned exact-vs-oracle at every gating SF.
    val occ = docs
      .select(col("doc_id"), col("source"),
              explode(allSpans(Ops.tokens(col("text")))).as("gram_text"))
      .select(col("doc_id"), col("source"),
              xxhash64(col("gram_text")).as("gram"))
    // Collapse to distinct (gram, doc) pairs FIRST (map-side combine on
    // the only full-span shuffle), so the df count and the mass join
    // both run over the much smaller pair table — and the exploded span
    // stream is built exactly once instead of once per consumer. The
    // per-pair multiplicity m carries the raw span mass through.
    val perDoc = occ.groupBy(col("gram"), col("doc_id"), col("source"))
      .agg(count(lit(1)).as("m"))
      // perDoc feeds three branches (total mass, dup-gram df, dup
      // join). Checkpointed eagerly (round 15; was persist): the
      // branches' exchanges do NOT canonicalize equal, so unpersisted
      // the full span explode+aggregate ran three times, and persisted
      // the three branches still re-optimized it and raced the fill.
      .transform(graft.PlanMode.checkpointTail)
    // Total span mass needs no join at all — aggregate perDoc directly.
    val totals = perDoc.groupBy(col("source")).agg(sum(col("m")).as("n_spans"))
    // Only grams in >= 2 docs carry dup mass, so the join back touches
    // just those postings — on a diverse corpus (most grams df=1) the
    // join input collapses instead of carrying the whole span stream.
    val dupGrams = perDoc.groupBy(col("gram"))
      .agg(count(lit(1)).as("gram_df"))
      .filter(col("gram_df") >= 2)
      .select(col("gram"))
    val dups = perDoc.join(dupGrams, Seq("gram"))
      .groupBy(col("source"))
      .agg(sum(col("m")).as("n_dup_spans"),
           count_distinct(col("doc_id")).as("n_docs_hit"))
    totals.join(dups, Seq("source"), "left")
      .select(col("source"), col("n_spans"),
              coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
              coalesce(col("n_docs_hit"), lit(0L)).as("n_docs_hit"),
              (coalesce(col("n_dup_spans"), lit(0L)).cast("double") /
                 col("n_spans")).as("dup_ratio"))
      .orderBy(col("source"))
  }

  val qDupSpanMassSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
       |occ AS (
       |  SELECT doc_id, source,
       |         unnest(list_transform(
       |           range(greatest(len(t) - ${SpanN - 1}, 1)),
       |           i -> array_to_string(t[i+1:i+$SpanN], ' '))) AS gram
       |  FROM toks),
       |df AS (SELECT gram, count(DISTINCT doc_id) AS gram_df FROM occ GROUP BY 1)
       |SELECT source, count(*) AS n_spans,
       |       CAST(SUM(CASE WHEN gram_df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_dup_spans,
       |       count(DISTINCT CASE WHEN gram_df >= 2 THEN doc_id END) AS n_docs_hit,
       |       CAST(SUM(CASE WHEN gram_df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
       |         / count(*) AS dup_ratio
       |FROM occ JOIN df USING (gram)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // q_source_overlap — cross-SOURCE contamination matrix: for every
  // unordered source pair, how many distinct 8-token spans they share,
  // and the containment fraction (shared / smaller side's span
  // vocabulary). This is the report that tells a corpus owner "src12 is
  // largely a mirror of src3" BEFORE mixing weights are chosen —
  // pair-level dedup (q_ngram_jaccard) answers which documents collide,
  // this answers which FEEDS collide.
  //
  // Scale shape: spans collapse to distinct (gram, source) postings in
  // one partial-aggregated shuffle; per-gram source sets are bounded by
  // the number of SOURCES (not documents), so the map-side pair fan-out
  // is <= C(n_sources, 2) per gram no matter how many documents share
  // the span — the hot-gram blowup cannot happen here by construction.
  // -------------------------------------------------------------------
  val qSourceOverlap: Q = (s, d) => {
    // Same digest-key discipline as dupSpanMass: the distinct and the
    // per-gram collect_set shuffle 8-byte xxhash64 keys, not span text
    // (8.5 → 3.9 MiB shuffled at sf0.1, docs/SCALE.md); outputs are
    // source-pair counts, so the oracle needs no change.
    // inv feeds both the per-source totals and the pair pipeline, but
    // do NOT persist it: both consumers sit directly on the distinct's
    // exchange, which Spark serves via ReusedExchange — an explicit
    // persist forced a full row-format materialization and measured
    // 11.0 → 15.3 s at 100×-diverse.
    val inv = Tables.documents(s, d)
      .select(col("source"), explode(allSpans(Ops.tokens(col("text"))))
                .as("gram_text"))
      .select(col("source"), xxhash64(col("gram_text")).as("gram"))
      .distinct()
    val perSrc = inv.groupBy(col("source")).agg(count(lit(1)).as("n_grams"))
    val pairs = inv.groupBy(col("gram"))
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
      .filter(size(col("srcs")) >= 2)
      .select(explode(expr(
        """flatten(transform(srcs, (x, i) ->
          |  transform(slice(srcs, i + 2, size(srcs)),
          |            y -> struct(x AS src_a, y AS src_b))))"""
          .stripMargin)).as("pr"))
      .groupBy(col("pr.src_a").as("src_a"), col("pr.src_b").as("src_b"))
      .agg(count(lit(1)).as("shared_grams"))
    val out = pairs
      .join(perSrc.select(col("source").as("src_a"),
                          col("n_grams").as("n_a")), Seq("src_a"))
      .join(perSrc.select(col("source").as("src_b"),
                          col("n_grams").as("n_b")), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("shared_grams"),
              round(col("shared_grams").cast("double") /
                      least(col("n_a"), col("n_b")).cast("double"), 6)
                .as("containment"))
    // No final orderBy: the output is |sources|²-bounded; the gate
    // sorts rows.
    out
  }

  val qSourceOverlapSql: String =
    s"""WITH toks AS (
       |  SELECT source, string_split(text, ' ') AS t FROM documents),
       |spans AS (
       |  SELECT source,
       |         unnest(list_transform(
       |           range(greatest(len(t) - ${SpanN - 1}, 1)),
       |           i -> array_to_string(t[i+1:i+$SpanN], ' '))) AS gram
       |  FROM toks),
       |inv AS (SELECT DISTINCT source, gram FROM spans),
       |n AS (SELECT source, COUNT(*) AS n_grams FROM inv GROUP BY 1),
       |pairs AS (
       |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS shared_grams
       |  FROM inv a JOIN inv b ON a.gram = b.gram AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT p.src_a, p.src_b, p.shared_grams,
       |       round(CAST(p.shared_grams AS DOUBLE)
       |               / CAST(least(na.n_grams, nb.n_grams) AS DOUBLE), 6)
       |         AS containment
       |FROM pairs p
       |JOIN n na ON na.source = p.src_a
       |JOIN n nb ON nb.source = p.src_b""".stripMargin

  // -------------------------------------------------------------------
  // q_dedup_substring — EXACT substring dedup at fixed token granularity
  // (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
  // Better"): any 50-token run whose text also occurs earlier in the
  // corpus — in another document OR earlier in the same document — is
  // removed, first-seen-wins in (doc_id, start) order. q_dup_span_mass
  // measures how much such text exists; this operator actually cuts it:
  // a token survives iff NO duplicate 50-gram occurrence covers it.
  //
  // Scale shape: one corpus-cardinality shuffle, keyed on the 8-byte
  // xxhash64 of the gram (never the ~300-byte span text); first-vs-later
  // is a row_number window per gram key — per-gram groups are tiny on a
  // real corpus, so the sort is local and balanced. Removed positions
  // collapse to one small per-doc array; the rebuild is a map-side
  // filter over each doc's own tokens. Honest skew caveat: one
  // pathological gram repeated ~10⁸ times (site-wide boilerplate that
  // survived upstream q_boilerplate) would sort on a single task; the
  // escape hatch is a two-phase salted first-occurrence (per-salt min,
  // then global min) — noted, not built, because boilerplate removal
  // runs before substring dedup in the curation pipeline.
  //
  // Exactness: outputs are gram-free (counts + md5 of the kept text), so
  // the oracle compares on span TEXT while Spark shuffles digests — the
  // q_dup_span_mass discipline; a 64-bit collision (~n²/2⁶⁵) would drop
  // a non-duplicate span, immaterial below ~10⁹ distinct grams and
  // pinned exact-vs-oracle at every gating SF.
  // -------------------------------------------------------------------
  val SubstrK = 50

  val qDedupSubstring: Q = (s, d) => dedupSubstring(Tables.documents(s, d))

  /** The transform itself, over any (doc_id, text) frame — shared with
    * the crafted-corpus spec so invariants pin the same code path.
    */
  /** Every K-gram occurrence of a (doc_id, t: array<string>) frame as
    * (doc_id, s, gh) — 24-byte rows through the one full shuffle. The
    * gram stream is the native single-pass shingle expression (element
    * i = gram starting at token i, so the 1-based start is just
    * pos + 1); gram strings are byte-identical to the HOF formulation,
    * so the digests — and the oracle — are untouched. Shared with the
    * streaming twin (SubstringStream), so batch/stream agreement on
    * gram construction is structural.
    */
  private[graft] def gramOccurrences(toks: DataFrame): DataFrame =
    toks.filter(size(col("t")) >= SubstrK)
      .select(col("doc_id"),
              posexplode(Ops.shinglesAll(col("t"), SubstrK)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("s"),
              xxhash64(col("col")).as("gh"))

  /** Rebuild per-doc stats from (doc_id, t) and per-doc removed span
    * STARTS (doc_id, ss sorted) — the native two-pointer
    * DropCoveredSpans pass, O(tokens + starts) per document. Only
    * starts are ever collected (≤ dup-span count per doc — never the
    * SubstrK-fold position explode an earlier cut shipped, 815 MiB of
    * shuffle read at 100×; the interpreted per-token array_contains
    * scan it also replaced was O(tokens × removed)). Shared with the
    * streaming twin; pinned equal to the reference formulation by spec
    * + property.
    */
  private[graft] def rebuildStats(toks: DataFrame,
                                  removedStarts: DataFrame): DataFrame = {
    val keptCol = {
      import org.apache.spark.sql.graftshim.{DropCoveredSpans, Shim}
      Shim.column(DropCoveredSpans(
        Shim.expression(col("t")),
        Shim.expression(coalesce(col("ss"),
                                 expr("array()").cast("array<bigint>"))),
        SubstrK))
    }
    toks.join(removedStarts, Seq("doc_id"), "left")
      .select(col("doc_id"),
              size(col("t")).cast("long").as("n_tokens"),
              keptCol.as("kept"))
      .select(col("doc_id"), col("n_tokens"),
              (col("n_tokens") - size(col("kept"))).cast("long")
                .as("n_dropped"),
              md5(array_join(col("kept"), " ").cast("binary"))
                .as("kept_hash"))
    // No final orderBy: O(docs) output; the gate sorts rows.
  }

  def dedupSubstring(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), Ops.tokens(col("text")).as("t"))
    val occ = gramOccurrences(toks)
    // First occurrence of each gram survives; every later one is a
    // duplicate span. row_number per gram key = one shuffle, no join.
    val dups = occ
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("gh")).orderBy(col("doc_id"), col("s"))))
      .filter(col("rn") > 1)
    // A position is removed iff covered by ANY duplicate occurrence.
    val removed = dups
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("s"))).as("ss"))
    rebuildStats(toks, removed)
  }

  val qDedupSubstringSql: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
       |              FROM documents),
       |occ AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS s,
       |         array_to_string(t[i:i + ${SubstrK - 1}], ' ') AS g
       |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - ${SubstrK - 2}))
       |               AS i
       |        FROM toks WHERE len(t) >= $SubstrK)),
       |dups AS (
       |  SELECT doc_id, s FROM (
       |    SELECT doc_id, s,
       |           row_number() OVER (PARTITION BY g ORDER BY doc_id, s)
       |             AS rn
       |    FROM occ) WHERE rn > 1),
       |rem AS (
       |  SELECT DISTINCT doc_id, s + j AS pos
       |  FROM dups, unnest(range(0, $SubstrK)) AS u(j)),
       |tokpos AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos, t[i] AS tok
       |  FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i
       |        FROM toks)),
       |kept AS (
       |  SELECT doc_id, count(*) AS n_kept,
       |         string_agg(tok, ' ' ORDER BY pos) AS ktext
       |  FROM tokpos tp
       |  WHERE NOT EXISTS (SELECT 1 FROM rem r
       |                    WHERE r.doc_id = tp.doc_id AND r.pos = tp.pos)
       |  GROUP BY 1)
       |SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
       |       CAST(len(t.t) - COALESCE(k.n_kept, 0) AS BIGINT) AS n_dropped,
       |       md5(COALESCE(k.ktext, '')) AS kept_hash
       |FROM toks t LEFT JOIN kept k USING (doc_id)""".stripMargin

  // ------------------------------------------------------------------
  // q_winnow_fingerprint — winnowing document fingerprints (Schleimer/
  // Wilkerson/Aiken, the MOSS algorithm): hash every K-token gram, then
  // keep each W-window's MINIMUM hash. Guarantees: any shared run of
  // K+W−1 tokens between two docs yields at least one shared
  // fingerprint, while only ~2/(W+1) of gram hashes survive — the
  // principled density/recall trade that plain "sample every Nth gram"
  // sampling lacks. Output: the top shared-fingerprint doc pairs (the
  // plagiarism-detection shape).
  //
  // Note on the classic rightmost-tie rule: winnowing records (pos,
  // hash) and breaks min ties by rightmost position; this operator's
  // downstream dedups by hash VALUE per doc, under which the tie rule
  // is unobservable — each window contributes exactly min(window)
  // regardless of which position carried it. So selection is simply
  // distinct-over-windows of array_min, identical on both engines.
  //
  // Scale shape: gram hashing + window minima + per-doc dedup are ALL
  // map-side array ops (no shuffle until fingerprints are ~60% fewer
  // than grams); the only shuffles are the fingerprint group-by and
  // the capped bucket self-join (df ≤ WinnowMaxDf, the MaxGramDf
  // discipline — a fingerprint every doc shares is evidence of
  // boilerplate, not a pair candidate). Top pairs cut by
  // orderBy().limit() → TakeOrderedAndProject.
  // ------------------------------------------------------------------
  val WinnowK = 4   // tokens per gram
  val WinnowW = 4   // grams per window
  val WinnowMaxDf = 64L
  val WinnowTop = 20

  val qWinnowFingerprint: Q = (s, d) => winnowPairs(Tables.documents(s, d))

  /** Core of q_winnow_fingerprint over any (doc_id, text) frame — split
    * out so specs can plant a known shared token run and exercise the
    * winnowing guarantee directly.
    */
  def winnowPairs(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftshim.{Shim, WinnowFp}
    // Native single-pass fingerprinting (graftshim.WinnowFp): gram
    // hashing + window minima + per-doc dedup in one compiled digest
    // loop. The HOF formulation (transform→md5/conv per gram,
    // transform→array_min per window) interpreted ~23M lambda evals at
    // 10× and cost 230 s for the same bit-identical fingerprint sets.
    val base = docs.select(col("doc_id"),
      Shim.column(WinnowFp(Shim.expression(Ops.tokens(col("text"))),
                           WinnowK, WinnowW, ":wf")).as("fps"))
    // fp's multiple consumers (the df cap and both self-join sides) all
    // key on fp, so Spark serves them from ONE reused exchange — an
    // explicit persist measured a wash on wall (19.3 vs 19.1 s at
    // 100×-diverse) while pinning a corpus-sized frame in executor
    // storage; not worth it (the q_source_overlap lesson).
    val fp = base.select(col("doc_id"), explode(col("fps")).as("fp"))
    val kept = fp.join(
      fp.groupBy(col("fp")).agg(count(lit(1)).as("c"))
        .filter(col("c") <= graft.GraftConf.winnowMaxDf(docs.sparkSession))
        .select(col("fp")),
      Seq("fp"))
    kept.select(col("fp"), col("doc_id").as("doc_a"))
      .join(kept.select(col("fp"), col("doc_id").as("doc_b")), Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("n_shared").desc, col("doc_a"), col("doc_b"))
      .limit(WinnowTop) // TakeOrderedAndProject — no range exchange
  }

  val qWinnowFingerprintSql: String =
    s"""WITH garr AS (
       |  SELECT doc_id,
       |         list_transform(
       |           range(greatest(len(string_split(text, ' ')) - ${WinnowK - 1}, 0)),
       |           i -> ('0x' || substr(md5(array_to_string(
       |                   string_split(text, ' ')[i+1:i+$WinnowK], ' ')
       |                     || ':wf'), 1, 15))::BIGINT) AS g
       |  FROM documents),
       |fps AS (
       |  SELECT DISTINCT doc_id,
       |         unnest(list_transform(
       |           range(greatest(len(g) - ${WinnowW - 1}, 0)),
       |           s -> list_min(g[s+1:s+$WinnowW]))) AS fp
       |  FROM garr),
       |df AS (SELECT fp FROM fps GROUP BY 1 HAVING count(*) <= $WinnowMaxDf)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
       |FROM fps a
       |JOIN fps b ON b.fp = a.fp AND a.doc_id < b.doc_id
       |JOIN df ON df.fp = a.fp
       |GROUP BY 1, 2
       |ORDER BY 3 DESC, 1, 2 LIMIT $WinnowTop""".stripMargin

  // ------------------------------------------------------------------
  // q_dedup_cdc — CONTENT-DEFINED CHUNKING dedup (the rsync/LBFS/
  // FastCDC family applied to text curation): a chunk boundary is
  // decided by the CONTENT at the boundary — a token whose md5 digest
  // ≡ 0 (mod CdcMod) ends its chunk — not by fixed offsets. An edit
  // near a document's head shifts every downstream OFFSET but only the
  // chunk containing the edit changes identity, so re-ingested
  // near-identical crawl snapshots dedup almost fully; fixed-width
  // segmentation (q_paragraph_dedup's unit) re-keys every later
  // segment instead. Expected chunk length is CdcMod tokens
  // (geometric). First-seen-wins storage semantics: each distinct
  // chunk text is "stored" once at its first (doc_id, chunk)
  // occurrence; later occurrences are duplicate mass.
  //
  // The boundary predicate uses md5Bits60 (not xxhash64) because chunk
  // IDENTITY must be engine-portable — the oracle re-derives the same
  // cut set in SQL. Chunk-equality keys DO ship as 8-byte xxhash64
  // digests (never chunk text), the q_dup_span_mass discipline.
  //
  // Scale shape: chunk assignment is one doc_id-keyed window cumsum
  // (doc-bounded partitions); chunk reassembly groups on (doc_id, ck)
  // and rides the SAME doc_id clustering — no second shuffle;
  // first-occurrence detection is one struct-min partial-agg group-by
  // on the digest; the per-doc rollup is doc-keyed. No pair fan-out
  // anywhere, any duplicate density.
  // ------------------------------------------------------------------
  val CdcMod = 16L

  val qDedupCdc: Q = (s, d) => dedupCdc(Tables.documents(s, d))

  /** Core of q_dedup_cdc over any (doc_id, text) frame — factored for
    * the crafted-corpus spec (boundary-shift and full-dup pins).
    */
  def dedupCdc(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs
      .select(col("doc_id"), posexplode(Ops.tokens(col("text"))))
      .toDF("doc_id", "pos", "term")
      .withColumn("b",
        when(Ops.md5Bits60(concat(col("term"), lit(":cdc"))) % CdcMod === 0L,
             1L).otherwise(0L))
    // Cumulative boundary count over STRICTLY PRECEDING positions: a
    // boundary token is the LAST token of its own chunk (the cut falls
    // after it), matching the oracle's exclusive-window cumsum.
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val chunks = tok
      .withColumn("ck", coalesce(sum(col("b")).over(w), lit(0L)))
      .groupBy(col("doc_id"), col("ck"))
      .agg(count(lit(1)).as("n_toks"),
           array_join(
             transform(array_sort(collect_list(struct(col("pos"),
                                                      col("term")))),
                       x => x.getField("term")), " ").as("ctext"))
      .select(col("doc_id"), col("ck"), col("n_toks"),
              xxhash64(col("ctext")).as("ch"))
    val firsts = chunks.groupBy(col("ch"))
      .agg(min(struct(col("doc_id"), col("ck"))).as("w"))
      .select(col("ch"), col("w.doc_id").as("wdoc"), col("w.ck").as("wck"))
    chunks.join(firsts, Seq("ch"))
      .withColumn("stored",
        when(col("doc_id") === col("wdoc") && col("ck") === col("wck"), 1L)
          .otherwise(0L))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
           sum(col("stored")).as("n_stored"),
           sum(when(col("stored") === 0L, col("n_toks")).otherwise(0L))
             .as("dup_tok_mass"))
    // No final orderBy: O(docs) output; the gate sorts rows.
  }

  val qDedupCdcSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, i, t[i] AS term,
       |         CASE WHEN ('0x' || substr(md5(t[i] || ':cdc'), 1, 15))::BIGINT
       |                   % $CdcMod = 0 THEN 1 ELSE 0 END AS b
       |  FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i
       |        FROM (SELECT doc_id, string_split(text, ' ') AS t
       |              FROM documents))),
       |chunked AS (
       |  SELECT doc_id, i, term,
       |         COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY i
       |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |                  0) AS ck
       |  FROM tok),
       |chunks AS (
       |  SELECT doc_id, ck, COUNT(*) AS n_toks,
       |         string_agg(term, ' ' ORDER BY i) AS ctext
       |  FROM chunked GROUP BY 1, 2),
       |firsts AS (
       |  SELECT doc_id, ck, n_toks,
       |         row_number() OVER (PARTITION BY ctext
       |                            ORDER BY doc_id, ck) AS occ
       |  FROM chunks)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |       CAST(SUM(CASE WHEN occ = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_stored,
       |       CAST(SUM(CASE WHEN occ > 1 THEN n_toks ELSE 0 END) AS BIGINT)
       |         AS dup_tok_mass
       |FROM firsts GROUP BY 1""".stripMargin

  // ------------------------------------------------------------------
  // q_ngram_novelty — per-document n-gram NOVELTY against the rest of
  // the corpus: the fraction of a doc's NovK-gram occurrences whose
  // gram text first appears in THIS doc (corpus-wide min doc_id ==
  // doc_id). The curation signal behind "how much new text does each
  // shard actually add" and the doc-granular complement of
  // q_dup_span_mass (which ranks the hot grams; this scores the docs).
  // First-seen is by doc_id only: an in-doc repeat of a gram first
  // seen in the same doc still counts novel; a gram inherited from an
  // earlier doc never does.
  //
  // Scale shape: gram occurrences ship as 8-byte xxhash64 digests
  // (never gram text — the q_dup_span_mass discipline); one
  // partial-aggregated shuffle builds per-(gram, doc) counts; the
  // gram-keyed min-doc reduction and the join-back reuse that same
  // exchange (ReuseExchange — one gram-keyed shuffle total); the
  // per-doc rollup is doc-keyed. No pair fan-out — novelty is
  // per-occurrence, not per-pair, so duplicate density never squares.
  // ------------------------------------------------------------------
  val NovK = 5

  val qNgramNovelty: Q = (s, d) => ngramNovelty(Tables.documents(s, d))

  /** Core of q_ngram_novelty over any (doc_id, text) frame — factored
    * for the crafted-corpus spec (exact-copy and partial-overlap pins).
    */
  def ngramNovelty(docs: DataFrame): DataFrame = {
    val occ = docs
      .select(col("doc_id"),
              explode(Ops.shinglesAll(Ops.tokens(col("text")), NovK))
                .as("gram"))
      .select(col("doc_id"), xxhash64(col("gram")).as("g"))
      .groupBy(col("g"), col("doc_id")).agg(count(lit(1)).as("cnt"))
    val firstSeen = occ.groupBy(col("g"))
      .agg(min(col("doc_id")).as("first_doc"))
    occ.join(firstSeen, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_grams"),
           sum(when(col("first_doc") === col("doc_id"), col("cnt"))
                 .otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
              round(col("n_novel").cast("double")
                      / col("n_grams").cast("double"), 6).as("novelty"))
      // No final orderBy: corpus-sized output; the gate sorts rows.
  }

  // Gram generation mirrors WordShingles(keepDuplicates = true): one
  // gram per start position i ∈ [1, max(len−K, 0)+1], slice clipped at
  // the end — a doc shorter than K tokens contributes its whole text
  // as one gram (so n_grams ≥ 1 and the ratio never divides by zero).
  val qNgramNoveltySql: String =
    s"""WITH occ AS (
       |  SELECT doc_id, array_to_string(t[i:i + ${NovK - 1}], ' ') AS gram
       |  FROM (SELECT doc_id, t,
       |               unnest(range(1, greatest(len(t) - $NovK, 0) + 2)) AS i
       |        FROM (SELECT doc_id, string_split(text, ' ') AS t
       |              FROM documents))),
       |pg AS (
       |  SELECT gram, doc_id, COUNT(*) AS cnt FROM occ GROUP BY 1, 2),
       |fs AS (SELECT gram, MIN(doc_id) AS first_doc FROM pg GROUP BY 1)
       |SELECT pg.doc_id, CAST(SUM(cnt) AS BIGINT) AS n_grams,
       |       CAST(SUM(CASE WHEN fs.first_doc = pg.doc_id THEN cnt ELSE 0
       |                END) AS BIGINT) AS n_novel,
       |       round(CAST(SUM(CASE WHEN fs.first_doc = pg.doc_id THEN cnt
       |                      ELSE 0 END) AS DOUBLE)
       |               / CAST(SUM(cnt) AS DOUBLE), 6) AS novelty
       |FROM pg JOIN fs USING (gram)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // q_pagerank — damped PageRank centrality over the verified SimHash
  // near-dup graph (same ham_edges as q_triangle_count): which
  // documents sit at the CENTER of duplication neighborhoods. The
  // canonical-pick signal a curation pass wants beyond component
  // membership: inside a big near-dup cluster the highest-rank doc is
  // the best "representative", and rank mass per component measures
  // how template-like the cluster is.
  //
  // The iteration is q_textrank's INTEGER power method verbatim on an
  // unweighted graph: ranks in micro-units (r0 = 1e6), each neighbor
  // contributes r_u div deg_u (exact BIGINT division), damping is
  // 150000 + (85·sum) div 100 — bit-exact at any parallelism, oracle
  // = PrIters unrolled MATERIALIZED CTEs.
  //
  // Scale shape: the graph is pair-sparse (banded retrieval with the
  // hot-band cap — never corpus²); each iteration is one equi-join +
  // partial-agg sum over the edge list; the top-PrTopK cut is
  // orderBy().limit() → TakeOrderedAndProject. Fixed iteration count:
  // one lazy plan, zero driver round-trips.
  // ------------------------------------------------------------------
  val PrIters = 3
  val PrTopK = 25

  val qPagerank: Q = (s, d) => pagerank(Tables.documents(s, d))

  /** Core of q_pagerank over any (doc_id, text) frame. */
  // NOT an AQE-off (PlanMode.withConfs) site: the body is one action whose input
  // side is the corpus-sized signature scan, not a bounded per-round
  // micro-frame — with AQE off the 100×-copy stressor regressed ~1.5×
  // (10.4 s vs 6.8 s) while 1× gained ~0.2 s. AQE stays on; the scope
  // is for loops that issue an action per round over bounded frames.
  def pagerank(docs: DataFrame): DataFrame = {
    // The verified edge list is the expensive input (signature scan +
    // banded self-join) and feeds deg, r0, adj AND the final join.
    // CHECKPOINTED, not merely persisted: with persist() the cached
    // frame's LOGICAL plan is still the whole retrieval pipeline, so
    // every one of the ~29 AQE stage-jobs downstream re-analyzes and
    // re-optimizes a plan with the 60-column signature aggregate under
    // it — measured ~10 s of inter-job driver dead air at sf0.1
    // (jobSpanWall 14.2 s, coveredByJobs 4.5 s) against ~9 s of actual
    // task time. checkpointTail truncates the lineage to a leaf scan
    // (guide: "materialising an intermediate truncates the plan"), so
    // iteration plans are three joins over a flat input. Same rows:
    // eager materialization of the identical frame.
    val e = graft.PlanMode.checkpointTail(
      simhashEdges(docs).select(col("doc_a"), col("doc_b")))
    val sym = e.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .unionAll(e.select(col("doc_b").as("u"), col("doc_a").as("v")))
    val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val adj = graft.PlanMode.checkpointTail(sym.join(deg, Seq("u")))
    var r = deg.select(col("u"), lit(1000000L).as("r"))
    for (_ <- 1 to PrIters) {
      r = adj.join(r, Seq("u"))
        .select(col("v"), expr("r div deg").as("c"))
        .groupBy(col("v")).agg(sum(col("c")).as("sc"))
        .select(col("v").as("u"),
                expr("CAST(150000 + (85 * sc) div 100 AS BIGINT)").as("r"))
    }
    // Bounded post-limit ranking with the non-foldable empty partition
    // key — the q_textrank tail pattern (and the same WindowExec-warning
    // avoidance).
    val top = r.orderBy((-col("r")).asc, col("u").asc).limit(PrTopK)
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy(substring(col("u").cast("string"), 1, 0))
      .orderBy((-col("r")).asc, col("u").asc)
    // deg re-read from the checkpointed adj leaf (one row per u after
    // dropDuplicates; deg is functionally dependent on u) instead of
    // re-aggregating the edge frame — the q_textrank degLeaf pattern.
    val degLeaf = adj.select(col("u"), col("deg")).dropDuplicates("u")
    val ranked = top.join(degLeaf, Seq("u"))
      .withColumn("rn", row_number().over(rankW).cast("bigint"))
      .select(col("rn"), col("u").as("doc_id"), col("deg"),
              col("r").as("rank_u"))
      .orderBy(col("rn"))
    ranked
  }

  val qPagerankSql: String = {
    def iter(prev: String, next: String): String =
      s"""$next AS MATERIALIZED (
         |  SELECT a.v AS u,
         |         CAST(150000 + (85 * SUM(r.r // a.deg)) // 100
         |              AS BIGINT) AS r
         |  FROM adj a JOIN $prev r ON r.u = a.u GROUP BY 1)""".stripMargin
    s"""WITH $simhashEdgeCtes,
       |sym AS (SELECT doc_a AS u, doc_b AS v FROM ham_edges
       |        UNION ALL SELECT doc_b AS u, doc_a AS v FROM ham_edges),
       |deg AS MATERIALIZED (
       |  SELECT u, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY 1),
       |adj AS MATERIALIZED (
       |  SELECT s.u, s.v, d.deg FROM sym s JOIN deg d ON d.u = s.u),
       |r0 AS (SELECT u, CAST(1000000 AS BIGINT) AS r FROM deg),
       |${iter("r0", "r1")},
       |${iter("r1", "r2")},
       |${iter("r2", "r3")},
       |ranked AS (
       |  SELECT CAST(row_number() OVER (ORDER BY r.r DESC, r.u) AS BIGINT)
       |           AS rn,
       |         r.u AS doc_id, d.deg, r.r AS rank_u
       |  FROM r3 r JOIN deg d ON d.u = r.u)
       |SELECT rn, doc_id, deg, rank_u FROM ranked WHERE rn <= $PrTopK
       |ORDER BY rn""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q_minhash_eval" -> qMinhashEval,
    "q_dedup_recall" -> qDedupRecall,
    "q_band_sweep" -> qBandSweep,
    "q_pagerank"  -> qPagerank,
    "q_dedup_cdc" -> qDedupCdc,
    "q_ngram_novelty" -> qNgramNovelty,
    "q_simhash_hamming" -> qSimhashHamming,
    "q_triangle_count" -> qTriangleCount,
    "q_dedup_editdist" -> qDedupEditdist,
    "q_containment" -> qContainment,
    "q_winnow_fingerprint" -> qWinnowFingerprint,
    "q_dedup_substring" -> qDedupSubstring,
    "q_source_overlap" -> qSourceOverlap,
    "q_dup_span_mass" -> qDupSpanMass,
    "q_dedup_incremental" -> qDedupIncremental,
    "q_dedup_embedding" -> qDedupEmbedding,
    "q_dedup_exact"   -> qDedupExact,
    "q_dup_profile"   -> qDupProfile,
    "q_soft_dedup"    -> qSoftDedup,
    "q_dedup_block"   -> qDedupBlock,
    "q_ngram_jaccard" -> qNgramJaccard,
    "q_prefix_jaccard" -> qPrefixJaccard,
    "q_dedup_minhash" -> qDedupMinhash,
    "q_dedup_simhash" -> qDedupSimhash,
  )

  val oracles: Map[String, String] = Map(
    "q_minhash_eval" -> qMinhashEvalSql,
    "q_dedup_recall" -> qDedupRecallSql,
    "q_band_sweep" -> qBandSweepSql,
    "q_pagerank"  -> qPagerankSql,
    "q_dedup_cdc" -> qDedupCdcSql,
    "q_ngram_novelty" -> qNgramNoveltySql,
    "q_simhash_hamming" -> qSimhashHammingSql,
    "q_triangle_count" -> qTriangleCountSql,
    "q_dedup_editdist" -> qDedupEditdistSql,
    "q_containment" -> qContainmentSql,
    "q_winnow_fingerprint" -> qWinnowFingerprintSql,
    "q_dedup_substring" -> qDedupSubstringSql,
    "q_source_overlap" -> qSourceOverlapSql,
    "q_dup_span_mass" -> qDupSpanMassSql,
    "q_dedup_incremental" -> qDedupIncrementalSql,
    "q_dedup_embedding" -> qDedupEmbeddingSql,
    "q_dedup_exact"   -> qDedupExactSql,
    "q_dup_profile"   -> qDupProfileSql,
    "q_soft_dedup"    -> qSoftDedupSql,
    "q_dedup_block"   -> qDedupBlockSql,
    "q_ngram_jaccard" -> qNgramJaccardSql,
    "q_prefix_jaccard" -> qPrefixJaccardSql,
    "q_dedup_minhash" -> qDedupMinhashSql,
    "q_dedup_simhash" -> qDedupSimhashSql,
  )
}
