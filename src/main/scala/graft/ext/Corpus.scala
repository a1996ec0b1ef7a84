package graft.ext

import graft.Tables
import graft.ops.Ops
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-preparation operators for a large-scale training-data pipeline,
  * round 3 of the SURVEY §7.5 extension surface: duplicate-cluster
  * resolution (connected components), inverted-index construction, TF-IDF
  * keyword extraction, repetition-based quality metrics (the Gopher-style
  * rules), PII-style redaction accounting, and token-budget sequence
  * packing.
  *
  * Scale posture: everything is signature-group-bys, bounded star-edge
  * joins, or windowed cumulative sums — no all-pairs work, no driver
  * collects. The connected-components loop is the one iterative operator:
  * it runs over (doc, blocking key) incidence rows, a round is a window
  * min over the key then one over the doc, and each materialization is
  * ONE checkpoint that also observes whether a closing key-min changed
  * anything — so the converged round is its own check, and a one-hop
  * corpus converges in one materialization.
  */
object Corpus {
  type Q = (SparkSession, String) => DataFrame

  // -------------------------------------------------------------------
  // q_dedup_cluster — duplicate CLUSTERS, not just pairs: union the
  // cliques induced by two cheap blocking signatures (normalized 40-char
  // prefix and suffix, within a lang × length bucket) and resolve their
  // transitive closure, so a doc bridging two blocks pulls both into one
  // cluster — exactly what multi-band LSH output needs before canonical
  // selection.
  //
  // Graph shape: the blocking keys are GROUPS and each doc is a member
  // of its two groups — the (doc_id, key) incidence rows starKeyed
  // emits, O(n) rows, never a doc–doc edge list and never the clique.
  // Labels propagate by alternating a min over each group and a min
  // over each vertex until fixpoint (deterministic: the fixpoint is the
  // component-min labeling no matter the schedule). The round count is
  // O(log diameter) with the pointer-doubling shortcut, not corpus size
  // — the standard large-scale CC recipe (Pregel min-propagation
  // accelerated by path shortcutting, cf. hash-to-min / Kiveris et al.
  // "Connected Components in MapReduce and Beyond").
  // -------------------------------------------------------------------
  /** Min-label propagation to fixpoint over a symmetric edge list:
    * returns (doc_id, label) where label is the component minimum.
    *
    * An adapter onto the incidence loop (`propagate`): each vertex is
    * the one member of its own group — so an isolated vertex keeps its
    * identity label, and that row is the one the result is read from —
    * and each edge {src, dst} is a two-member group, keyed by
    * (least, greatest) so the (src, dst) and (dst, src) rows of the
    * symmetric list each contribute one member. Edge rows whose src is
    * not in `vertices` are dropped; an edge whose dst is not a vertex is
    * then a group of one, so an edge that touches a non-vertex is
    * ignored.
    *
    * @param initLabels optional warm-start (doc_id, label) with
    *   label(v) <= v and label(v) a member of v's component. Vertices
    *   missing from a given warm start fall back to identity (left join
    *   below), so a partial warm start can never silently drop vertices.
    */
  def minLabelPropagate(vertices: DataFrame, edges: DataFrame,
                        initLabels: Option[DataFrame] = None): DataFrame = {
    val vs = vertices.select(col("doc_id"))
    val self = vs.select(col("doc_id"),
      struct(col("doc_id").as("a"), col("doc_id").as("b")).as("grp"),
      lit(0).as("pos"))
    val pairs = edges
      .join(vs.withColumnRenamed("doc_id", "src"), Seq("src"), "left_semi")
      .select(col("src").as("doc_id"),
        struct(least(col("src"), col("dst")).as("a"),
               greatest(col("src"), col("dst")).as("b")).as("grp"),
        lit(1).as("pos"))
    val rows = self.unionByName(pairs)
    propagate(initLabels match {
      case Some(init) =>
        rows.join(init.select(col("doc_id"), col("label")), Seq("doc_id"),
                  "left")
          .withColumn("label", coalesce(col("label"), col("doc_id")))
      case None => rows.withColumn("label", col("doc_id"))
    })
  }

  /** The connected-components loop over incidence rows (doc_id, grp,
    * pos, label): a vertex belongs to every group it has a row in, the
    * row with pos = 0 is its one primary row, and label is its starting
    * label (label <= doc_id, a member of the doc's component; the same
    * on all of a doc's rows). Returns (doc_id, label) with label the
    * minimum doc_id of its component, where components are the
    * connected pieces of the vertex–group incidence graph.
    *
    * A round is a min over the group, then a min over the vertex: two
    * window exchanges. Every materialization — one checkpoint
    * (PlanMode.checkpointTail) — ends with one more group-min, and the
    * number of rows that last step lowered is OBSERVED on the same
    * checkpoint (PlanMode.checkpointObserved). Zero means every group
    * already agreed on the vertex-consistent labeling before it, so that
    * labeling is constant on components and, labels being component
    * members <= their vertex, equal to the component minimum: the
    * converged materialization is its own check, and no round runs only
    * to see that nothing changed. A one-hop graph (the star blocking of
    * clusterLabelsOf) converges in one materialization. The next round
    * starts from the checked group-min, so it runs the vertex-min only.
    * The result is the primary rows of the last checkpoint — a filter,
    * no shuffle — with every other checkpoint released.
    */
  private def propagate(rows: DataFrame): DataFrame = {
    val byGrp = Window.partitionBy(col("grp"))
    val byDoc = Window.partitionBy(col("doc_id"))
    def groupMin(df: DataFrame): DataFrame =
      df.withColumn("label", min(col("label")).over(byGrp))
    def vertexMin(df: DataFrame): DataFrame =
      df.withColumn("label", min(col("label")).over(byDoc))
    // Pointer doubling (round-10): label(v) names a vertex w of v's own
    // component with w <= v, so composing the labeling with itself —
    // label(v) := label(label(v)), read off w's primary row — halves the
    // remaining distance to the component min. Group/vertex mins alone
    // need diameter-many rounds (hash-to-min); with the shortcut the
    // round count is O(log diameter): measured 46 s -> 12 s cold on
    // q_dbscan's sf0.1 cross-label ε-graph. Applied from the third
    // materialization: one-hop graphs have converged by then and would
    // pay the extra label-keyed join for nothing.
    def shortcut(df: DataFrame): DataFrame = {
      val at = df.filter(col("pos") === 0)
        .select(col("doc_id").as("w"), col("label").as("w_label"))
      df.join(at, col("label") === col("w"), "left")
        .select(col("doc_id"), col("grp"), col("pos"),
                coalesce(col("w_label"), col("label")).as("label"))
    }
    // The checked group-min, materialized. Each materialization's plan
    // reads the previous checkpoint only, so lineage never grows with
    // the round count (un-truncated, the shortcut's self-join doubles
    // the plan every round and OOMs the driver during planning).
    def materialize(df: DataFrame): (DataFrame, Long) = {
      val (out, row) = graft.PlanMode.checkpointObserved(
        groupMin(df.withColumn("prev", col("label"))),
        count(when(col("label") < col("prev"), 1)).as("changed"), "prev")
      (out, row.getLong(0))
    }
    var (labels, changed) = materialize(vertexMin(groupMin(rows)))
    val spent = scala.collection.mutable.ArrayBuffer(labels)
    var round = 1
    while (changed > 0) {
      round += 1
      val stepped = vertexMin(labels)
      val (next, c) = materialize(if (round < 3) stepped else shortcut(stepped))
      changed = c
      spent += next
      // `next` is materialized, so the round-before-last labeling is
      // dead — release it now rather than holding O(rounds) copies of
      // the incidence rows in executor storage on high-diameter graphs.
      if (spent.length > 2) graft.PlanMode.release(spent.remove(0))
      labels = next
    }
    spent.foreach(df => if (!(df eq labels)) graft.PlanMode.release(df))
    labels.filter(col("pos") === 0).select(col("doc_id"), col("label"))
  }

  /** Shared blocking-graph component labeling: (doc_id, label) for EVERY
    * doc, label = the component minimum — the duplicate-cluster structure
    * that q_dedup_cluster reports and q_dedup_keep_best resolves into
    * survivors. One code path so the two queries can never disagree on
    * what a cluster is.
    */
  private def clusterLabels(s: SparkSession, d: String): DataFrame =
    clusterLabelsOf(Tables.documents(s, d))

  /** The blocking signature keys of each document — (doc_id, pos, key),
    * two rows per doc: the normalized-prefix key at pos 0 and the
    * normalized-suffix key at pos 1. ONE definition shared by
    * clusterLabelsOf and the streaming pipeline's near-dup ledger probe,
    * so batch components and the streamed first-seen-wins admission can
    * never disagree on what a near-dup candidate is.
    */
  private[graft] def starKeyed(docsIn: DataFrame): DataFrame = {
    val docs = docsIn
      .select(col("doc_id"), col("lang"),
              floor(col("n_chars") / 100.0).cast("bigint").as("len_bucket"),
              Ops.normalizeText(col("text")).as("nt"))
    // ONE pass: both keys from a single evaluation of the normalized
    // text — the union-of-two-projections form re-derived `docs` (and
    // its whole-document normalize) once per branch.
    val bothKeys = array(
      concat_ws("|", col("lang"), col("len_bucket"),
                substring(col("nt"), 1, 40)),
      concat_ws("|", col("lang"), col("len_bucket"),
                expr("right(nt, 40)")))
    docs.select(col("doc_id"), posexplode(bothKeys).as(Seq("pos", "key")))
  }

  /** Same labeling over any documents-shaped frame (doc_id, lang,
    * n_chars, text) — the composed pipeline runs it on the exact-dedup
    * SURVIVORS, where components differ from the whole-corpus ones by
    * construction. The loop runs on starKeyed's rows as they are: each
    * key is a group, pos 0 is the doc's primary row.
    */
  private[graft] def clusterLabelsOf(docsIn: DataFrame): DataFrame =
    propagate(starKeyed(docsIn).select(col("doc_id"), col("key").as("grp"),
                                       col("pos"), col("doc_id").as("label")))

  val qDedupCluster: Q = (s, d) => {
    val labels = clusterLabels(s, d)
    val sizes = labels.groupBy(col("label"))
      .agg(count(lit(1)).as("component_size"))
    labels.join(sizes, Seq("label"))
      .filter(col("component_size") > 1)
      .select(col("doc_id"), col("label").as("component_id"),
              col("component_size"))
      .orderBy(col("doc_id"))
  }

  /** Shared recursive-CTE tail: resolves the blocking groups of
    * `clusterLabels`, as star edges (member → group min), into
    * `comp(doc_id, component_id)` + `sizes` — the reachable-label minimum
    * of each vertex is its connected component (edges are symmetric), so
    * it equals the Spark fixpoint. Expects a
    * preceding `docs` CTE exposing (doc_id, lang, len_bucket, nt).
    */
  private val clusterCtesTail: String =
    """
      |keyed AS (
      |  SELECT doc_id, lang || '|' || len_bucket || '|' || substring(nt, 1, 40) AS key
      |  FROM docs
      |  UNION ALL
      |  SELECT doc_id, lang || '|' || len_bucket || '|' || right(nt, 40) AS key
      |  FROM docs),
      |star AS (SELECT key, min(doc_id) AS rep FROM keyed GROUP BY 1),
      |e0 AS (
      |  SELECT DISTINCT k.doc_id AS src, s.rep AS dst
      |  FROM keyed k JOIN star s ON k.key = s.key
      |  WHERE k.doc_id <> s.rep),
      |edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      |reach(v, l) AS (
      |  SELECT doc_id, doc_id FROM docs
      |  UNION
      |  SELECT e.dst, r.l FROM reach r JOIN edges e ON e.src = r.v),
      |comp AS (SELECT v AS doc_id, min(l) AS component_id FROM reach GROUP BY 1),
      |sizes AS (SELECT component_id, count(*) AS component_size
      |          FROM comp GROUP BY 1)""".stripMargin

  /** The star-edge recursive-CTE chain over an arbitrary source CTE /
    * table (must expose doc_id, lang, n_chars, text) — `clusterCteSql`
    * instantiates it on `documents`; the composed pipeline oracle on
    * its exact-dedup survivor CTE. Emitted WITHOUT the leading `WITH
    * RECURSIVE` so it can sit mid-chain (DuckDB scopes one RECURSIVE
    * keyword over the whole WITH list).
    */
  private[graft] def clusterCtesFrom(src: String): String =
    s"""docs AS (
      |  SELECT doc_id, lang, CAST(FLOOR(n_chars / 100.0) AS BIGINT) AS len_bucket,
      |         lower(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS nt
      |  FROM $src),""".stripMargin + clusterCtesTail

  private val clusterCteSql: String =
    "WITH RECURSIVE " + clusterCtesFrom("documents")

  val qDedupClusterSql: String =
    s"""$clusterCteSql
       |SELECT c.doc_id, c.component_id, s.component_size
       |FROM comp c JOIN sizes s ON c.component_id = s.component_id
       |WHERE s.component_size > 1
       |ORDER BY c.doc_id""".stripMargin

  // ------------------------------------------------------------------
  // q_dedup_keep_best — quality-aware SURVIVOR SELECTION over the same
  // duplicate clusters: where q_dedup_cluster reports membership and
  // q_dedup_exact keeps min(doc_id), a curation pipeline keeps the BEST
  // copy — here argmax of the published quality score (q_quality_score's
  // exact expression, shared code), ties broken by min doc_id. Output is
  // one row per duplicate cluster: the survivor, what it beat, and the
  // char mass the drop releases.
  //
  // Scale shape: component labeling is the bounded-round min-label
  // propagation (doc–key incidence rows, never cliques); everything
  // after is partial-aggregated group-bys keyed on component labels plus
  // one members⋈stats equi-join — no windows, no all-rows-to-one-task
  // cut.
  // The argmax is the classic two-pass shape (per-key max, then filter
  // members equal to it): quality doubles are computed by identical
  // expression trees in both engines, so the equality filter is exact.
  // ------------------------------------------------------------------
  val qDedupKeepBest: Q = (s, d) => {
    val labels = clusterLabels(s, d)
    val sizes = labels.groupBy(col("label"))
      .agg(count(lit(1)).as("component_size"))
    val qual = Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"),
              TextOps.qualityColumn.as("quality"))
    // members feeds BOTH the stats aggregate and the argmax join —
    // unpersisted, the whole label-propagation + quality subtree
    // computed twice (measured: full 14.1 s vs labels-alone 5.2 s at
    // 100×-diverse). The persisted frame is slim (label + 3 numerics,
    // multi-member-cluster rows only, no text).
    val members = labels
      .join(sizes.filter(col("component_size") > 1), Seq("label"))
      .join(qual, Seq("doc_id"))
      .transform(graft.PlanMode.checkpointTail)
    val stats = members.groupBy(col("label"))
      .agg(max(col("quality")).as("max_quality"),
           count(lit(1)).as("component_size"),
           sum(col("n_chars")).as("total_chars"))
    val out = members
      .select(col("label"), col("doc_id"), col("n_chars"), col("quality"))
      .join(stats, Seq("label"))
      .filter(col("quality") === col("max_quality"))
      // struct-min picks (min doc_id, its n_chars) atomically among the
      // argmax-quality members — survivor identity and its char mass in
      // one partial-aggregated pass.
      .groupBy(col("label"), col("component_size"), col("max_quality"),
               col("total_chars"))
      .agg(min(struct(col("doc_id"), col("n_chars"))).as("sv"))
      .select(col("label").as("component_id"),
              col("sv.doc_id").as("survivor_id"),
              col("component_size"),
              col("max_quality"),
              (col("total_chars") - col("sv.n_chars")).as("chars_dropped"))
    out
  }

  val qDedupKeepBestSql: String =
    s"""$clusterCteSql,
       |qual AS (
       |  SELECT doc_id, n_chars,
       |       ${TextOps.qualitySqlExpr} AS quality
       |  FROM documents),
       |members AS (
       |  SELECT c.component_id, c.doc_id, q.n_chars, q.quality
       |  FROM comp c
       |  JOIN sizes s ON s.component_id = c.component_id
       |  JOIN qual q ON q.doc_id = c.doc_id
       |  WHERE s.component_size > 1),
       |stats AS (
       |  SELECT component_id, max(quality) AS max_quality,
       |         count(*) AS component_size,
       |         CAST(SUM(n_chars) AS BIGINT) AS total_chars
       |  FROM members GROUP BY 1),
       |surv AS (
       |  SELECT m.component_id, min(m.doc_id) AS survivor_id
       |  FROM members m JOIN stats t ON t.component_id = m.component_id
       |  WHERE m.quality = t.max_quality
       |  GROUP BY 1)
       |SELECT t.component_id, v.survivor_id, t.component_size,
       |       t.max_quality, t.total_chars - m.n_chars AS chars_dropped
       |FROM stats t
       |JOIN surv v ON v.component_id = t.component_id
       |JOIN members m ON m.doc_id = v.survivor_id""".stripMargin

  // ------------------------------------------------------------------
  // q_split_holdout — dedup-aware train/holdout split: assign every
  // document to train or holdout BY DUPLICATE COMPONENT, not by doc, so
  // no near-dup pair ever straddles the split (the leakage that makes
  // held-out perplexity lie). The component label is the same
  // clusterLabels fixpoint q_dedup_cluster reports (singletons label
  // themselves), and the assignment is a pure hash of the label —
  // deterministic, shuffle-free given labels, and stable under corpus
  // growth for unchanged components (adding documents never reassigns
  // an existing component unless its min-id representative changes).
  //
  // Exactness: the 1-in-HoldoutMod draw is md5Bits60(label || ':split')
  // % HoldoutMod — the engine-portable hash family every sampler here
  // uses. No floats anywhere.
  //
  // Scale shape: labeling is the bounded-round min-label propagation;
  // the assignment itself adds one md5 per doc and ONE equi-join back
  // to documents for char mass — no new shuffle keyed on anything
  // corpus-cardinality beyond what labeling already paid.
  // ------------------------------------------------------------------
  val HoldoutMod = 20 // 1-in-20 components -> ~5% holdout

  val qSplitHoldout: Q = (s, d) => {
    val labels = clusterLabels(s, d)
    val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
    labels
      .withColumn("split",
        when(Ops.md5Bits60(concat(col("label").cast("string"), lit(":split")))
               % HoldoutMod === 0, "holdout").otherwise("train"))
      .join(docs, Seq("doc_id"))
      .select(col("doc_id"), col("label").as("component_id"),
              col("split"), col("n_chars"))
    // No final orderBy: corpus-sized output; the gate sorts rows.
  }

  val qSplitHoldoutSql: String =
    s"""$clusterCteSql
       |SELECT c.doc_id, c.component_id,
       |       CASE WHEN ('0x' || substr(md5(c.component_id || ':split'), 1, 15))::BIGINT
       |                 % $HoldoutMod = 0
       |            THEN 'holdout' ELSE 'train' END AS split,
       |       d.n_chars
       |FROM comp c JOIN documents d ON d.doc_id = c.doc_id
       |ORDER BY c.doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q_split_leakage — train→eval leakage audit OF the split itself:
  // for every holdout document under q_split_holdout's component-based
  // assignment, its worst word-ContamN-gram contaminator on the TRAIN
  // side (q_contamination's shape, sides defined by the split instead
  // of a benchmark subset). This is the check that a dedup-aware split
  // actually bought something: verbatim/near-dup pairs never straddle
  // the split by construction (they share a component), so surviving
  // overlap is sub-near-dup leakage — shared idioms, templates,
  // boilerplate — the residue a gram-level decontamination pass would
  // chase next.
  //
  // Scale shape: the component labels are the dedup-cluster funnel
  // (blocking-key groups, no all-pairs); the leakage measure is one
  // gram-keyed equi-join (never holdout×train pairs) + a per-doc
  // bounded window — q_contamination's posture with a ~5% probe side.
  // -------------------------------------------------------------------
  val ContamN = 5 // word-n-gram width shared with q_contamination

  // Hot-gram document-frequency cap for the contamination family — the
  // MaxGramDf discipline (Dedup.scala's inverted-index funnels) applied
  // to the two gram-keyed audit joins. Pre-aggregation pair volume of a
  // gram equi-join is Σ_gram df_left(g)·df_right(g): on Zipfian natural
  // text, stopword-headed 5-grams ("in the middle of the") reach df in
  // the millions on BOTH sides at 100 TB — a quadratic-in-df fan-out on
  // a skewed key. Dropping grams whose LARGER-side df exceeds the cap
  // bounds pair volume at ContamMaxDf × |other-side postings| — linear
  // in corpus size by construction. Semantically right too: a 5-gram
  // shared by 64+ documents is an idiom / template / boilerplate, not
  // evidence that one specific document leaked into the other side.
  // (Wider than dedup's MaxGramDf=16: contamination evidence is a
  // COUNT of shared grams per pair, so moderately-common grams still
  // carry signal; only the unbounded stopword head is noise.)
  val ContamMaxDf = 64L

  /** Grams whose document frequency in `large` exceeds ContamMaxDf —
    * the Zipf head, tiny and broadcastable by construction. The
    * groupBy ships map-side-combined (gram, count) partials only.
    */
  private[graft] def hotGrams(large: DataFrame): DataFrame =
    large.groupBy(col("gram"))
      .agg(count(lit(1)).as("gram_df"))
      .filter(col("gram_df") > graft.GraftConf.contamMaxDf(large.sparkSession))
      .select(col("gram"))

  /** Drop grams whose document frequency WITHIN this (the structurally
    * large) side exceeds ContamMaxDf. Formulated as build-the-HOT-set +
    * broadcast anti-join, NOT a window over the postings: the hot set
    * is tiny by construction, so the postings themselves never shuffle
    * for the cap. A window formulation measured 600× more shuffle bytes
    * on q_contamination (it ships every posting to compute the same
    * count, and costs the downstream join its broadcast). Oracle
    * mirror: `QUALIFY count(*) OVER (PARTITION BY gram) <= ContamMaxDf`
    * — identical kept set (grams are list_distinct per doc on both
    * engines, so the count IS document frequency).
    */
  private[graft] def capHotGrams(large: DataFrame): DataFrame =
    large.join(hotGrams(large), Seq("gram"), "left_anti")

  /** Same kept set as capHotGrams, formulated as a count window over
    * the postings. Use when the DOWNSTREAM join shuffles on the gram
    * anyway (q_split_leakage: the train side must hash-partition for
    * the hold⋈train join, so the window's exchange is REUSED and the
    * cap is bytes-free); use capHotGrams when the downstream join
    * broadcasts the other side (q_contamination: the window would
    * force a corpus-postings shuffle nothing else needs — measured
    * 1.7× total shuffle bytes the other way around on q_split_leakage
    * when the anti formulation added its df-partials exchange to a
    * join that shuffles regardless).
    */
  private[graft] def capHotGramsColocated(large: DataFrame): DataFrame = {
    large
      .withColumn("gram_df",
        count(lit(1)).over(Window.partitionBy(col("gram"))))
      .filter(col("gram_df") <= graft.GraftConf.contamMaxDf(large.sparkSession))
      .drop("gram_df")
  }

  /** Shared tail of the contamination family: for every probe doc, its
    * worst overlap partner. `probe` = (doc_id, gram); `partner` =
    * (partnerCol, gram). Callers MUST wrap their structurally-large
    * side in capHotGrams first (q_contamination caps the corpus/probe
    * side, q_split_leakage the train/partner side) — the cap is the
    * scale guarantee of this whole family.
    */
  private[graft] def worstGramOverlap(probe: DataFrame, partner: DataFrame,
                                    partnerCol: String): DataFrame = {
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("n_common").desc, col(partnerCol).asc)
    probe.join(partner, Seq("gram"))
      .groupBy(col("doc_id"), col(partnerCol))
      .agg(count(lit(1)).as("n_common"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col(partnerCol), col("n_common"))
      .orderBy(col("doc_id"))
  }

  /** q_split_leakage over an externally supplied (doc_id, split) frame
    * — factored so crafted-corpus specs can pin the cap's behavior
    * without routing through clusterLabels.
    */
  private[graft] def splitLeakagePairs(docsIn: DataFrame,
                                     split: DataFrame): DataFrame = {
    val grams = docsIn
      .select(col("doc_id"),
              Ops.shingles(Ops.tokens(col("text")), ContamN).as("grams"))
      .join(split, Seq("doc_id"))
    val hold = grams.filter(col("split") === "holdout")
      .select(col("doc_id"), explode(col("grams")).as("gram"))
    val train = grams.filter(col("split") === "train")
      .select(col("doc_id").as("train_id"), explode(col("grams")).as("gram"))
    // train is the ~95% side: cap ITS per-gram df before the join —
    // window form, since the join hash-partitions train on gram anyway
    // and reuses the window's exchange.
    worstGramOverlap(hold, capHotGramsColocated(train), "train_id")
  }

  val qSplitLeakage: Q = (s, d) => {
    val split = clusterLabels(s, d)
      .withColumn("split",
        when(Ops.md5Bits60(concat(col("label").cast("string"), lit(":split")))
               % HoldoutMod === 0, "holdout").otherwise("train"))
      .select(col("doc_id"), col("split"))
    splitLeakagePairs(Tables.documents(s, d), split)
  }

  val qSplitLeakageSql: String =
    s"""$clusterCteSql,
       |sp AS (
       |  SELECT doc_id,
       |         CASE WHEN ('0x' || substr(md5(component_id || ':split'), 1,
       |                                   15))::BIGINT % $HoldoutMod = 0
       |              THEN 'holdout' ELSE 'train' END AS split
       |  FROM comp),
       |g AS (
       |  SELECT d.doc_id, sp.split,
       |         list_distinct(list_transform(
       |           range(greatest(len(string_split(d.text, ' ')) - ${ContamN - 1}, 1)),
       |           i -> array_to_string(string_split(d.text, ' ')[i+1:i+$ContamN], ' ')))
       |           AS grams
       |  FROM documents d JOIN sp ON sp.doc_id = d.doc_id),
       |hold AS (
       |  SELECT doc_id, unnest(grams) AS gram FROM g WHERE split = 'holdout'),
       |train AS (
       |  SELECT doc_id AS train_id, unnest(grams) AS gram FROM g
       |  WHERE split = 'train'),
       |train_capped AS (
       |  SELECT train_id, gram FROM train
       |  QUALIFY count(*) OVER (PARTITION BY gram) <= $ContamMaxDf),
       |counted AS (
       |  SELECT h.doc_id, t.train_id, COUNT(*) AS n_common
       |  FROM hold h JOIN train_capped t ON h.gram = t.gram
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id
       |                               ORDER BY n_common DESC, train_id ASC) AS rn
       |  FROM counted)
       |SELECT doc_id, train_id, n_common FROM ranked WHERE rn = 1
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q_cc_profile — the NEAR-DUP component-size profile: q_dup_profile's
  // report (n_clusters / n_docs / removable / doc_frac per size) over
  // the blocking-signature connected components instead of exact-hash
  // clusters — the number that says how much mass near-dup dedup would
  // remove beyond the exact pass, and the report a split designer reads
  // before trusting component-based holdout sizing. Shares
  // Dedup.sizeProfile verbatim (same fold, different cluster notion) so
  // the two reports can never drift semantically.
  //
  // Scale shape: the component labels are the dedup-cluster funnel
  // (blocking-key groups, one materialization per round, the last
  // round its own convergence check);
  // the profile adds two bounded partial aggs (components → distinct
  // sizes) and a window total over the distinct sizes.
  // -------------------------------------------------------------------
  val qCcProfile: Q = (s, d) =>
    Dedup.sizeProfile(
      clusterLabels(s, d).groupBy(col("label")).agg(count(lit(1)).as("csize")))

  val qCcProfileSql: String =
    s"""$clusterCteSql,
       |dist AS (
       |  SELECT component_size AS csize,
       |         CAST(count(*) AS BIGINT) AS n_clusters
       |  FROM sizes GROUP BY 1),
       |t AS (SELECT CAST(SUM(csize * n_clusters) AS BIGINT) AS tot_docs
       |      FROM dist)
       |SELECT csize, n_clusters, csize * n_clusters AS n_docs,
       |       (csize - 1) * n_clusters AS removable,
       |       ROUND(CAST(csize * n_clusters AS DOUBLE)
       |             / CAST(tot_docs AS DOUBLE), 6) AS doc_frac
       |FROM dist CROSS JOIN t ORDER BY csize""".stripMargin

  // -------------------------------------------------------------------
  // q_inverted_index — the classic MapReduce inverted-index build
  // (token → document postings), the missing canonical shape from the
  // reference's MapReduce family: explode-to-postings is one shuffle on
  // the term, and the postings head keeps output bounded no matter how
  // hot a term is.
  // -------------------------------------------------------------------
  val MinDocFreq = 10

  val qInvertedIndex: Q = (s, d) => {
    import org.apache.spark.sql.graftshim.{BoundedTopK, Shim}
    // Locale-proof term extraction, same order on BOTH engines: filter
    // the RAW token to ASCII alpha first, then lowercase. Lowercasing a
    // pure-ASCII token is byte arithmetic in Spark (UTF8String fast
    // path) and DuckDB alike — no full-Unicode or default-locale case
    // mapping (İ, Turkish-I) can ever enter the comparison. Non-ASCII
    // terms are out of scope for this index by construction.
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), explode(Ops.tokens(col("text"))).as("tok"))
      .filter(col("tok").rlike("^[a-zA-Z]+$"))
      .select(col("doc_id"), lower(col("tok")).as("term"))
    // Two-level aggregation: (term, doc) term frequencies first, then
    // per-term stats. The postings head rides the native BoundedTopK
    // aggregate (5 smallest doc ids, O(5) partial state per partition)
    // instead of collect_set — a stopword's full postings list would be
    // corpus-sized, and an unbounded per-group collect is exactly what
    // dies first at 100 TB. (doc_id as its own score is exact in double
    // up to 2^53.)
    val perDoc = tok.groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf_d"))
    val head5 = Shim.column(
      BoundedTopK(Shim.expression(col("doc_id").cast("double")),
                  Shim.expression(col("doc_id")), 5).toAggregateExpression())
    perDoc.groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
           sum(col("tf_d")).as("tf_total"),
           head5.as("__head"))
      .filter(col("df") >= MinDocFreq)
      .select(col("term"), col("df"), col("tf_total"),
              array_join(transform(col("__head"),
                x => x.getField("id").cast("string")), ",").as("postings_head"))
      .orderBy(col("term"))
  }

  val qInvertedIndexSql: String =
    s"""SELECT lower(tok) AS term,
       |       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
       |       COUNT(*) AS tf_total,
       |       array_to_string(list_sort(list(DISTINCT doc_id))[1:5], ',') AS postings_head
       |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |      FROM documents)
       |WHERE regexp_matches(tok, '^[a-zA-Z]+$$')
       |GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= $MinDocFreq
       |ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // q_tfidf_topterms — top-3 keywords per document by TF-IDF. The score
  // uses the rational idf tf·N/df instead of a log so the ranking key is
  // exact integer arithmetic followed by one IEEE division — identical
  // across engines (a log's last-ulp could differ and flip a rank).
  // Ranking carries the term as the deterministic tiebreaker.
  // -------------------------------------------------------------------
  val qTfidfTopterms: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    // raw-ASCII filter then lowercase, mirroring the oracle exactly
    // (locale-proof — see qInvertedIndex)
    val tok = docs
      .select(col("doc_id"), explode(Ops.tokens(col("text"))).as("tok"))
      .filter(col("tok").rlike("^[a-zA-Z]+$"))
      .select(col("doc_id"), lower(col("tok")).as("term"))
    val tf = tok.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(dfreq, Seq("term"))
      .crossJoin(nDocs)
      .withColumn("score",
        round((col("tf") * col("n_docs")).cast("double") /
                col("df").cast("double"), 6))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("term"), col("score"))
    // No final orderBy: corpus-sized output; the gate sorts rows.
  }

  val qTfidfToptermsSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, lower(tok) AS term, COUNT(*) AS tf FROM tok
      |  WHERE regexp_matches(tok, '^[a-zA-Z]+$')
      |  GROUP BY 1, 2),
      |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.term,
      |         round(CAST(tf.tf * n.n_docs AS DOUBLE) / CAST(dfreq.df AS DOUBLE), 6)
      |           AS score
      |  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n),
      |ranked AS (
      |  SELECT doc_id, term, score,
      |         CAST(row_number() OVER (PARTITION BY doc_id
      |                                 ORDER BY score DESC, term ASC) AS BIGINT) AS rnk
      |  FROM scored)
      |SELECT doc_id, rnk, term, score FROM ranked WHERE rnk <= 3
      |ORDER BY doc_id, rnk""".stripMargin

  // -------------------------------------------------------------------
  // q_repetition_score — Gopher-style repetition quality metrics per
  // document: duplicate-token fraction and most-frequent-bigram fraction
  // (high values flag boilerplate/spam for filtering). Bigrams here are
  // NON-distinct (frequency matters), unlike the dedup shingles.
  // -------------------------------------------------------------------
  val qRepetitionScore: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), Ops.tokens(col("text")).as("toks"))
      .withColumn("n_toks", size(col("toks")).cast("bigint"))
      .filter(col("n_toks") >= 2)
      .withColumn("dup_tok_frac",
        round(lit(1.0) - size(array_distinct(col("toks"))).cast("double") /
                col("n_toks").cast("double"), 6))
    val bigrams = toks.select(col("doc_id"), col("n_toks"), col("dup_tok_frac"),
      explode(transform(sequence(lit(1), size(col("toks")) - 1),
        i => concat_ws(" ", element_at(col("toks"), i),
                       element_at(col("toks"), i + 1)))).as("bigram"))
    val counted = bigrams
      .groupBy(col("doc_id"), col("n_toks"), col("dup_tok_frac"), col("bigram"))
      .agg(count(lit(1)).as("cnt"))
    // min_by over a unique (−cnt, bigram) struct key ≡ the
    // (cnt DESC, bigram ASC) row_number()=1 window, folded into a second
    // partial-aggregating shuffle instead of a whole-group sort.
    counted.groupBy(col("doc_id"), col("n_toks"), col("dup_tok_frac"))
      .agg(min_by(struct(col("bigram"), col("cnt")),
                  struct((-col("cnt")).as("neg_cnt"), col("bigram"))).as("m"))
      .select(col("doc_id"), col("n_toks"), col("dup_tok_frac"),
              col("m.bigram").as("top_bigram"),
              round(col("m.cnt").cast("double") /
                      (col("n_toks") - 1).cast("double"), 6)
                .as("top_bigram_frac"))
    // No final orderBy: O(docs) output; the gate sorts rows.
  }

  val qRepetitionScoreSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
      |  FROM documents),
      |base AS (
      |  SELECT doc_id, toks, n_toks,
      |         round(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)
      |                       / CAST(n_toks AS DOUBLE), 6) AS dup_tok_frac
      |  FROM t WHERE n_toks >= 2),
      |bg AS (
      |  SELECT doc_id, n_toks, dup_tok_frac,
      |         unnest(list_transform(range(1, CAST(n_toks AS INT)),
      |                               i -> toks[i] || ' ' || toks[i+1])) AS bigram
      |  FROM base),
      |counted AS (
      |  SELECT doc_id, n_toks, dup_tok_frac, bigram, COUNT(*) AS cnt
      |  FROM bg GROUP BY 1, 2, 3, 4),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id
      |                               ORDER BY cnt DESC, bigram ASC) AS rn
      |  FROM counted)
      |SELECT doc_id, n_toks, dup_tok_frac, bigram AS top_bigram,
      |       round(CAST(cnt AS DOUBLE) / CAST(n_toks - 1 AS DOUBLE), 6)
      |         AS top_bigram_frac
      |FROM ranked WHERE rn = 1""".stripMargin

  // -------------------------------------------------------------------
  // q_pii_scrub — redaction accounting: count email-shaped and long-digit
  // spans per document and measure the post-redaction length. Patterns
  // stay within the regex subset whose semantics are identical in Java
  // regex and DuckDB's RE2 (ASCII classes + bounded quantifiers).
  // -------------------------------------------------------------------
  private val EmailPat = "[a-zA-Z0-9._]+@[a-zA-Z0-9.]+"
  private val LongNumPat = "[0-9]{3,}"

  val qPiiScrub: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        expr(s"size(regexp_extract_all(text, '$EmailPat', 0))")
          .cast("bigint").as("n_emails"),
        expr(s"size(regexp_extract_all(text, '$LongNumPat', 0))")
          .cast("bigint").as("n_longnums"),
        length(col("text")).cast("bigint").as("len_before"),
        length(regexp_replace(regexp_replace(col("text"), EmailPat, "<EMAIL>"),
                              LongNumPat, "<NUM>"))
          .cast("bigint").as("len_after"))
    // No final orderBy: corpus-sized output; the gate sorts rows.

  val qPiiScrubSql: String =
    s"""SELECT doc_id,
       |       CAST(len(regexp_extract_all(text, '$EmailPat')) AS BIGINT) AS n_emails,
       |       CAST(len(regexp_extract_all(text, '$LongNumPat')) AS BIGINT) AS n_longnums,
       |       CAST(length(text) AS BIGINT) AS len_before,
       |       CAST(length(regexp_replace(regexp_replace(text, '$EmailPat', '<EMAIL>', 'g'),
       |                                  '$LongNumPat', '<NUM>', 'g')) AS BIGINT) AS len_after
       |FROM documents ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q_pack_sequences — token-budget sequence packing: shard documents by
  // a deterministic content-free hash (coordination-free, like the
  // stratified sampler), then fill fixed 2048-token training sequences by
  // cumulative token count in doc_id order within each shard. The bin
  // assignment is a windowed cumsum — one sort per shard partition, no
  // driver coordination — which is how packing parallelizes at 100 TB
  // (each shard packs independently).
  // -------------------------------------------------------------------
  val SeqLen = 2048
  val NumShards = 4

  val qPackSequences: Q = (s, d) => {
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(s, d)
      .select(col("doc_id"),
              (Ops.md5Bits60(col("doc_id").cast("string")) % NumShards).as("shard"),
              size(Ops.tokens(col("text"))).cast("bigint").as("n_toks"))
      .withColumn("cum_before", coalesce(sum(col("n_toks")).over(w), lit(0L)))
      .withColumn("seq_id", expr(s"cum_before DIV $SeqLen"))
      .groupBy(col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
      .orderBy(col("shard"), col("seq_id"))
  }

  val qPackSequencesSql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
       |           % $NumShards AS shard,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, shard, n_toks,
       |         COALESCE(SUM(n_toks) OVER (PARTITION BY shard ORDER BY doc_id
       |                                    ROWS BETWEEN UNBOUNDED PRECEDING
       |                                    AND 1 PRECEDING), 0) AS cum_before
       |  FROM t)
       |SELECT shard, CAST(cum_before // $SeqLen AS BIGINT) AS seq_id,
       |       COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS n_tokens
       |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // -------------------------------------------------------------------
  // q_token_shards — GLOBAL token-balanced contiguous sharding: split
  // the corpus, in canonical (source, doc_id) order, into TokenShards
  // shards of ≈equal token mass with documents kept whole — the shard
  // layout a training run reads. Where q_pack_sequences hash-scatters
  // docs then packs within shards, this keeps the global order (so a
  // shard is a contiguous corpus range — resumable, cache-friendly)
  // and balances by the GLOBAL token prefix sum.
  //
  // The global running sum is the scale trap: a naive unpartitioned
  // window funnels the corpus through one task (the Exchange
  // SinglePartition anti-pattern `graft.Probe audit` counts). Instead, the
  // standard two-level decomposition:
  //   level 1: within-source running sums — windows PARTITIONED BY
  //     source, all sources in parallel;
  //   level 2: per-source token totals (a bounded-cardinality agg,
  //     ≤ |sources| rows) collected once, exclusive-prefix-summed on
  //     the driver, and broadcast-joined back as per-source offsets.
  //   global_prefix = source_offset + within_source_prefix.
  // Shard id is then pure integer arithmetic (prefix·S div total,
  // capped) — no floats, exact on both engines.
  // -------------------------------------------------------------------
  val TokenShards = 16

  val qTokenShards: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
              size(Ops.tokens(col("text"))).cast("bigint").as("n_toks"))
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val within = toks
      .withColumn("cum_src", coalesce(sum(col("n_toks")).over(w), lit(0L)))
    // level-2 totals: bounded by the source count (a corpus has a
    // handful of sources; 100 TB changes doc counts, not source counts)
    val totals = toks.groupBy(col("source")).agg(sum(col("n_toks")).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    val grand = math.max(1L, totals.map(_._2).sum) // guard empty corpus
    var acc = 0L
    val offsets = totals.map { case (src, t) => val o = acc; acc += t; (src, o) }
    import s.implicits._
    val offDf = offsets.toSeq.toDF("source", "offset")
    within.join(broadcast(offDf), Seq("source"))
      .withColumn("gcum", col("offset") + col("cum_src"))
      .withColumn("shard",
        least(lit((TokenShards - 1).toLong),
              expr(s"gcum * $TokenShards DIV $grand")))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
      .orderBy(col("shard"))
  }

  val qTokenShardsSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, n_toks,
       |         COALESCE(SUM(n_toks) OVER (ORDER BY source, doc_id
       |                                    ROWS BETWEEN UNBOUNDED PRECEDING
       |                                    AND 1 PRECEDING), 0) AS gcum
       |  FROM t),
       |g AS (SELECT CASE WHEN COALESCE(SUM(n_toks), 0) = 0 THEN 1
       |                  ELSE CAST(SUM(n_toks) AS BIGINT) END AS grand
       |      FROM t)
       |SELECT CAST(LEAST(CAST(${TokenShards - 1} AS BIGINT),
       |                  gcum * $TokenShards // g.grand) AS BIGINT) AS shard,
       |       COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS n_tokens
       |FROM c, g GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // q_pad_waste — padding-waste audit of the two standard batching
  // strategies: `arrival` (docs batched in corpus order) vs `sorted`
  // (length-bucketed batching, the dynamic-batching trick every
  // training/inference stack uses). Each batch pads its members to the
  // batch max length; waste = Σ(count·max − Σlen) per batch. The table
  // answers "what fraction of compute does length-sorting recover?".
  //
  // Scale shape: batching is per-shard in any real pipeline (a global
  // sort of 100 TB just to batch would be absurd), so both strategies
  // run inside md5-hash shards: the shard assignment is map-only, the
  // row_number windows are PARTITIONED BY shard (all shards in
  // parallel — no Exchange SinglePartition), and the two aggs funnel
  // to O(shards) rows. All counters BIGINT; pad_frac is one double
  // division of identical integers.
  // -------------------------------------------------------------------
  val PadShards = 8
  val PadBatch = 32

  val qPadWaste: Q = (s, d) => padWaste(Tables.documents(s, d))

  /** Core of q_pad_waste over any (doc_id, text) frame — split out so
    * specs can recompute both batching strategies independently on a
    * crafted shard.
    */
  def padWaste(docs: DataFrame): DataFrame = {
    val t = docs
      .select(col("doc_id"),
              (Ops.md5Bits60(col("doc_id").cast("string")) % PadShards)
                .as("shard"),
              size(Ops.tokens(col("text"))).cast("bigint").as("n_toks"))
    val arrival = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
    val bySize = Window.partitionBy(col("shard"))
      .orderBy(col("n_toks"), col("doc_id"))
    val staged =
      t.select(lit("arrival").as("strategy"), col("shard"), col("n_toks"),
               ((row_number().over(arrival) - 1) / PadBatch).cast("bigint")
                 .as("batch"))
        .unionAll(
          t.select(lit("sorted").as("strategy"), col("shard"), col("n_toks"),
                   ((row_number().over(bySize) - 1) / PadBatch).cast("bigint")
                     .as("batch")))
    staged
      .groupBy(col("strategy"), col("shard"), col("batch"))
      .agg(count(lit(1)).as("cnt"), max(col("n_toks")).as("mx"),
           sum(col("n_toks")).as("toks"))
      .groupBy(col("strategy"), col("shard"))
      .agg(count(lit(1)).as("n_batches"),
           sum(col("cnt") * col("mx") - col("toks")).as("pad_tokens"),
           round(sum(col("cnt") * col("mx") - col("toks")).cast("double")
                   / sum(col("cnt") * col("mx")).cast("double"), 6)
             .as("pad_frac"))
      .orderBy(col("strategy"), col("shard"))
  }

  val qPadWasteSql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
       |           % $PadShards AS shard,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
       |  FROM documents),
       |staged AS (
       |  SELECT 'arrival' AS strategy, shard, n_toks,
       |         (ROW_NUMBER() OVER (PARTITION BY shard ORDER BY doc_id) - 1)
       |           // $PadBatch AS batch
       |  FROM t
       |  UNION ALL
       |  SELECT 'sorted', shard, n_toks,
       |         (ROW_NUMBER() OVER (PARTITION BY shard ORDER BY n_toks, doc_id)
       |            - 1) // $PadBatch
       |  FROM t),
       |b AS (
       |  SELECT strategy, shard, batch, COUNT(*) AS cnt,
       |         MAX(n_toks) AS mx, SUM(n_toks) AS toks
       |  FROM staged GROUP BY 1, 2, 3)
       |SELECT strategy, shard, COUNT(*) AS n_batches,
       |       CAST(SUM(cnt * mx - toks) AS BIGINT) AS pad_tokens,
       |       ROUND(CAST(SUM(cnt * mx - toks) AS DOUBLE)
       |             / CAST(SUM(cnt * mx) AS DOUBLE), 6) AS pad_frac
       |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // -------------------------------------------------------------------
  // q_global_shuffle — the seeded deterministic corpus shuffle every
  // training run performs before sharding: order docs by a keyed hash
  // (md5 of seed:doc_id — reproducible across runs and engines), deal
  // them into hash shards, and fingerprint each shard's exact read
  // order so a resumed / re-run job can prove it sees the same
  // permutation. Contrast q_token_shards (contiguous token-balanced
  // split in CANONICAL order): this one exists to DESTROY order.
  //
  // Order fingerprint: Σ (pos·h mod P) mod P over the shard — order-
  // SENSITIVE (position-weighted) yet computed distributively from the
  // per-shard row_number window; no corpus-sized string_agg. Factors
  // (pos mod P)·(h mod P) < 1e18 stay in BIGINT; the running sum rides
  // DECIMAL(38,0) in Spark (DuckDB sums in HUGEINT) before the final
  // mod snaps it back to BIGINT.
  //
  // Scale shape: one map-only hash projection, one window partitioned
  // by shard (all shards parallel), one partial agg to O(shards) rows.
  // -------------------------------------------------------------------
  val ShuffleSeed = "shuf42:"
  val ShuffleShards = 16

  val qGlobalShuffle: Q = (s, d) => globalShuffle(Tables.documents(s, d))

  /** Core of q_global_shuffle over any (doc_id, text) frame — split out
    * so specs can replay the keyed-hash permutation and the
    * position-weighted fingerprint independently.
    */
  def globalShuffle(docs: DataFrame): DataFrame =
    shuffleFold(shuffleKeyed(docs))

  /** The keyed projection (doc_id, n_toks, h) the shuffle is defined
    * over — h is the seeded permutation key. Shared with the streaming
    * ledger (ShuffleStream ingests exactly these rows), so stream and
    * batch agree on the permutation by construction.
    */
  def shuffleKeyed(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
                size(Ops.tokens(col("text"))).cast("bigint").as("n_toks"),
                Ops.md5Bits60(concat(lit(ShuffleSeed),
                                     col("doc_id").cast("string"))).as("h"))

  /** Fold a (doc_id, n_toks, h) frame to the per-shard shuffle view —
    * the tail of q_global_shuffle, also the ledger fold of
    * ShuffleStream (positions derive from h order, never from arrival
    * order, so the fold is ingest-order-free by construction).
    */
  def shuffleFold(keyed: DataFrame): DataFrame = {
    val t = keyed.withColumn("shard", col("h") % ShuffleShards)
    val order = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    t.withColumn("pos", row_number().over(order).cast("bigint"))
      .withColumn("term",
        (col("pos") % Ops.HashModP) * (col("h") % Ops.HashModP) % Ops.HashModP)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_toks")).as("n_tokens"),
           min_by(col("doc_id"), col("pos")).as("first_doc"),
           (sum(col("term").cast("decimal(38,0)")) % Ops.HashModP)
             .cast("bigint").as("order_fp"))
      .orderBy(col("shard"))
  }

  val qGlobalShuffleSql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
       |         ('0x' || substr(md5('$ShuffleSeed' || CAST(doc_id AS VARCHAR)),
       |                         1, 15))::BIGINT AS h
       |  FROM documents),
       |p AS (
       |  SELECT doc_id, n_toks, h, h % $ShuffleShards AS shard,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY h % $ShuffleShards
       |                                 ORDER BY h, doc_id) AS BIGINT) AS pos
       |  FROM t)
       |SELECT shard, COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
       |       ARG_MIN(doc_id, pos) AS first_doc,
       |       CAST(SUM((pos % ${Ops.HashModP}) * (h % ${Ops.HashModP})
       |                % ${Ops.HashModP}) % ${Ops.HashModP} AS BIGINT)
       |         AS order_fp
       |FROM p GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // q_contamination — benchmark decontamination: for every corpus doc,
  // its word-5-gram overlap with a deterministic "benchmark" subset
  // (doc_id % 50 == 0, so the set scales with the corpus). The classic
  // eval-leakage check before training. Shape: explode both sides'
  // distinct grams, gram-keyed equi-join (never doc×benchmark pairs),
  // count per (doc, benchmark), keep each doc's worst contaminator.
  // At 100 TB the benchmark side is small and broadcast; the corpus side
  // streams through one shuffle on the gram.
  // -------------------------------------------------------------------
  // (declared up at q_split_leakage, which initializes first and
  // interpolates it into its oracle SQL — object vals run in
  // declaration order)

  val qContamination: Q = (s, d) =>
    contaminationPairs(Tables.documents(s, d))

  /** q_contamination's core over any documents-shaped frame (doc_id,
    * text) — factored so crafted-corpus specs can pin the hot-gram cap.
    * Benchmark membership is the deterministic doc_id % 50 == 0 rule.
    */
  private[graft] def contaminationPairs(docsIn: DataFrame): DataFrame = {
    val grams = docsIn
      .select(col("doc_id"),
              Ops.shingles(Ops.tokens(col("text")), ContamN).as("grams"))
    val bench = grams.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("bench_id"), explode(col("grams")).as("gram"))
    val corpus = grams.filter(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"), explode(col("grams")).as("gram"))
    // No broadcast hint: a real decontamination benchmark is a small
    // fixed set (AQE will broadcast it), but THIS demo's benchmark is a
    // corpus fraction, so the plan must stay a shuffle join at scale.
    // corpus is the 49/50 side: cap ITS per-gram df before the join.
    worstGramOverlap(capHotGrams(corpus), bench, "bench_id")
  }

  val qContaminationSql: String =
    s"""WITH g AS (
       |  SELECT doc_id,
       |         list_distinct(list_transform(
       |           range(greatest(len(string_split(text, ' ')) - ${ContamN - 1}, 1)),
       |           i -> array_to_string(string_split(text, ' ')[i+1:i+$ContamN], ' ')))
       |           AS grams
       |  FROM documents),
       |bench AS (
       |  SELECT doc_id AS bench_id, unnest(grams) AS gram FROM g
       |  WHERE doc_id % 50 = 0),
       |corpus AS (
       |  SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 50 <> 0),
       |corpus_capped AS (
       |  SELECT doc_id, gram FROM corpus
       |  QUALIFY count(*) OVER (PARTITION BY gram) <= $ContamMaxDf),
       |counted AS (
       |  SELECT c.doc_id, b.bench_id, COUNT(*) AS n_common
       |  FROM corpus_capped c JOIN bench b ON c.gram = b.gram
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id
       |                               ORDER BY n_common DESC, bench_id ASC) AS rn
       |  FROM counted)
       |SELECT doc_id, bench_id, n_common FROM ranked WHERE rn = 1
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q_mixture_sample — source-mixture rebalancing: downsample every
  // language to the smallest language's token budget. The rate is
  // derived FROM the data (min_lang_tokens / lang_tokens — scale-free,
  // no magic constants), and the keep decision is a deterministic
  // md5-threshold compare (same coordination-free sampler as
  // q_stratified_sample: any executor can evaluate it without a shared
  // RNG). floor(), never round(): DuckDB's double→BIGINT cast rounds
  // to nearest while Spark's truncates, so the threshold must be
  // floored explicitly on both sides.
  // -------------------------------------------------------------------
  val qMixtureSample: Q = (s, d) => {
    val t = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
              size(Ops.tokens(col("text"))).cast("bigint").as("n_toks"))
    // min_toks is a whole-frame window min over tot (one row per lang,
    // bounded at any scale), so the per-language totals are aggregated
    // once: a separate min aggregate re-read documents, since the join
    // below adds isnotnull(lang) to only one of the two branches.
    val all = Window.orderBy(col("lang"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val rates = t.groupBy(col("lang")).agg(sum(col("n_toks")).as("lang_toks"))
      .withColumn("min_toks", min(col("lang_toks")).over(all))
      .withColumn("rate",
        col("min_toks").cast("double") / col("lang_toks").cast("double"))
      .withColumn("thr",
        floor(col("rate") * lit(1152921504606846976.0))) // 2^60
    t.join(rates, Seq("lang"))
      .withColumn("keep",
        when(Ops.md5Bits60(concat(col("doc_id").cast("string"), lit(":mix")))
               < col("thr"), 1L).otherwise(0L))
      .groupBy(col("lang"))
      .agg(max(col("lang_toks")).as("lang_toks"),
           round(max(col("rate")), 6).as("rate"),
           count(lit(1)).as("n_docs"),
           sum(col("keep")).as("n_sampled"),
           sum(col("keep") * col("n_toks")).as("sampled_toks"))
      .orderBy(col("lang"))
  }

  val qMixtureSampleSql: String =
    """WITH t AS (
      |  SELECT doc_id, lang,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
      |  FROM documents),
      |tot AS (SELECT lang, CAST(SUM(n_toks) AS BIGINT) AS lang_toks
      |        FROM t GROUP BY 1),
      |m AS (SELECT MIN(lang_toks) AS min_toks FROM tot),
      |r AS (
      |  SELECT lang, lang_toks,
      |         CAST(min_toks AS DOUBLE) / CAST(lang_toks AS DOUBLE) AS rate,
      |         CAST(FLOOR(CAST(min_toks AS DOUBLE) / CAST(lang_toks AS DOUBLE)
      |                    * 1152921504606846976.0) AS BIGINT) AS thr
      |  FROM tot CROSS JOIN m),
      |s AS (
      |  SELECT t.lang, t.n_toks, r.lang_toks, r.rate,
      |         CASE WHEN ('0x' || substr(md5(CAST(t.doc_id AS VARCHAR) || ':mix'),
      |                                   1, 15))::BIGINT < r.thr
      |              THEN 1 ELSE 0 END AS keep
      |  FROM t JOIN r USING (lang))
      |SELECT lang, CAST(MAX(lang_toks) AS BIGINT) AS lang_toks,
      |       round(MAX(rate), 6) AS rate,
      |       COUNT(*) AS n_docs,
      |       CAST(SUM(keep) AS BIGINT) AS n_sampled,
      |       CAST(SUM(keep * n_toks) AS BIGINT) AS sampled_toks
      |FROM s GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------------
  // q_mix_temperature — temperature-scaled source-mixture weights, the
  // multilingual sampling rule of mBERT / XLM-R / mT5 (Conneau et al.
  // 2020 §3.1; Xue et al. 2021 §3.2): a language with raw token share
  // p_l is sampled with probability q_l ∝ p_l^α, flattening the
  // head-language dominance while keeping tail languages from
  // overfitting through too many repeat epochs. Emitted per language:
  // the raw share p, the temperature weight q, and boost = q/p — the
  // per-language duplication factor a sampler applies (boost > 1 means
  // the language is upsampled relative to its natural rate).
  //
  // Exactness: α = 0.5 so p^α is sqrt — correctly-rounded IEEE on both
  // engines (libm sqrt / Math.sqrt), unlike pow. Each sqrt snaps to
  // integer micro-units BEFORE the normalizing sum (the ln-snapping
  // discipline), so the denominator is an order-free BIGINT at any
  // parallelism; p, q, boost are then single divisions of identical
  // integers, rounded to 6 places on both sides. The total-token factor
  // cancels out of q (q_l = sqrt(tok_l)/Σ sqrt(tok_m)), so no double
  // ever feeds another double.
  //
  // Scale shape: one partial-aggregated scan to per-language token
  // totals (O(langs) rows), a 1-row global sum crossJoined back — the
  // q_mixture_sample funnel with the temperature rule in place of the
  // min-budget rule. Nothing here grows with corpus size but the scan.
  // -------------------------------------------------------------------
  val qMixTemperature: Q = (s, d) => {
    val tot = Tables.documents(s, d)
      .select(col("lang"),
              size(Ops.tokens(col("text"))).cast("bigint").as("n_toks"))
      .groupBy(col("lang")).agg(sum(col("n_toks")).as("lang_toks"))
    val u = tot.withColumn("sqrt_u",
      round(sqrt(col("lang_toks").cast("double")) * 1e6).cast("long"))
    val denom = u.agg(sum(col("sqrt_u")).as("den_u"),
                      sum(col("lang_toks")).as("tot_toks"))
    u.crossJoin(denom)
      .select(col("lang"), col("lang_toks"),
        round(col("lang_toks").cast("double")
                / col("tot_toks").cast("double"), 6).as("p"),
        round(col("sqrt_u").cast("double")
                / col("den_u").cast("double"), 6).as("q"),
        round(col("sqrt_u").cast("double") * col("tot_toks").cast("double")
                / (col("den_u").cast("double")
                     * col("lang_toks").cast("double")), 6).as("boost"))
      .orderBy(col("lang"))
  }

  val qMixTemperatureSql: String =
    """WITH t AS (
      |  SELECT lang,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
      |  FROM documents),
      |tot AS (SELECT lang, CAST(SUM(n_toks) AS BIGINT) AS lang_toks
      |        FROM t GROUP BY 1),
      |u AS (SELECT lang, lang_toks,
      |             CAST(ROUND(SQRT(CAST(lang_toks AS DOUBLE)) * 1000000.0)
      |                  AS BIGINT) AS sqrt_u
      |      FROM tot),
      |d AS (SELECT CAST(SUM(sqrt_u) AS BIGINT) AS den_u,
      |             CAST(SUM(lang_toks) AS BIGINT) AS tot_toks FROM u)
      |SELECT lang, lang_toks,
      |       ROUND(CAST(lang_toks AS DOUBLE) / CAST(tot_toks AS DOUBLE), 6)
      |         AS p,
      |       ROUND(CAST(sqrt_u AS DOUBLE) / CAST(den_u AS DOUBLE), 6) AS q,
      |       ROUND(CAST(sqrt_u AS DOUBLE) * CAST(tot_toks AS DOUBLE)
      |             / (CAST(den_u AS DOUBLE) * CAST(lang_toks AS DOUBLE)), 6)
      |         AS boost
      |FROM u CROSS JOIN d ORDER BY lang""".stripMargin

  // -------------------------------------------------------------------
  // q_chunk_overlap — sliding-window chunking with overlap, the
  // context-window shaping step of RAG indexing and long-document
  // training prep: every document becomes ceil-spaced windows of
  // ChunkWindow tokens advancing by ChunkStride (so consecutive chunks
  // share ChunkWindow - ChunkStride boundary tokens and no sentence
  // straddling a cut is lost from both sides). Emitted per chunk: its
  // ordinal, its actual token count (the last window clamps at the
  // document tail), and a 60-bit fingerprint of the chunk text — the
  // join key downstream cross-document chunk dedup buckets on.
  //
  // n_chunks = max(1, ceil((n - overlap) / stride)): stride-spaced
  // starts, the final window covering the tail; a document shorter than
  // one window is exactly one clamped chunk. Both sides compute it with
  // the same integer-division form ((n - overlap + stride - 1) div
  // stride — `div`, not `/`, which is double division in Spark SQL).
  //
  // Scale shape: MAP-ONLY — one projection explodes each document into
  // its chunk structs off the token array already in hand (the
  // segments() discipline); no shuffle at all until a downstream
  // consumer groups by fingerprint. At 100 TB this is the shape you
  // want: chunking rides the ingest scan for free.
  // -------------------------------------------------------------------
  val ChunkWindow = 32
  val ChunkStride = 24 // overlap = 8 tokens carried across boundaries

  val qChunkOverlap: Q = (s, d) => chunkOverlap(Tables.documents(s, d))

  /** Chunk rows (doc_id, n_toks, n_chunks, chunk_id, n_chunk_toks,
    * chunk_sig) with NO output ordering — the shared core of
    * q_chunk_overlap (which presents it ordered) and q_chunk_dedup
    * (which aggregates it; a sort under the sig shuffle is dead weight).
    */
  def chunkRows(docs: DataFrame): DataFrame = {
    val w = ChunkWindow; val st = ChunkStride; val ov = w - st
    docs
      .select(col("doc_id"), Ops.tokens(col("text")).as("toks"))
      .withColumn("n_toks", size(col("toks")).cast("bigint"))
      .withColumn("n_chunks",
        greatest(lit(1L),
          expr(s"CAST((n_toks - $ov + ${st - 1}) div $st AS BIGINT)")))
      .select(col("doc_id"), col("n_toks"), col("n_chunks"),
        explode(transform(sequence(lit(0L), col("n_chunks") - 1), i =>
          struct(i.as("chunk_id"),
            array_join(slice(col("toks"), (i * st + 1).cast("int"), lit(w)),
                       " ").as("ctext")))).as("c"))
      .select(col("doc_id"), col("n_toks"), col("n_chunks"),
        col("c.chunk_id").as("chunk_id"),
        size(split(col("c.ctext"), " ")).cast("bigint").as("n_chunk_toks"),
        Ops.md5Bits60(col("c.ctext")).as("chunk_sig"))
  }

  /** q_chunk_overlap over any (doc_id, text) frame — split out so specs
    * can pin window arithmetic on crafted lengths.
    */
  def chunkOverlap(docs: DataFrame): DataFrame =
    chunkRows(docs).orderBy(col("doc_id"), col("chunk_id"))

  /** The chunker as CTEs ending in `chnk` (the unordered chunk rows) —
    * shared by the q_chunk_overlap and q_chunk_dedup oracles so the SQL
    * transliteration of the window arithmetic exists exactly once.
    */
  private def chunkCtesSql: String = {
    val (w, st) = (ChunkWindow, ChunkStride)
    val ov = w - st
    s"""WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
      |  FROM documents),
      |base AS (
      |  SELECT doc_id, toks, n_toks,
      |         GREATEST(1, (n_toks - $ov + ${st - 1}) // $st) AS n_chunks
      |  FROM t),
      |pos AS (
      |  SELECT doc_id, toks, n_toks, n_chunks,
      |         unnest(range(0, n_chunks)) AS chunk_id
      |  FROM base),
      |ck AS (
      |  SELECT doc_id, n_toks, n_chunks, CAST(chunk_id AS BIGINT) AS chunk_id,
      |         array_to_string(list_slice(toks, chunk_id * $st + 1,
      |                                    chunk_id * $st + $w), ' ') AS ctext
      |  FROM pos),
      |chnk AS (
      |  SELECT doc_id, n_toks, n_chunks, chunk_id,
      |         CAST(len(string_split(ctext, ' ')) AS BIGINT) AS n_chunk_toks,
      |         ('0x' || substr(md5(ctext), 1, 15))::BIGINT AS chunk_sig
      |  FROM ck)""".stripMargin
  }

  val qChunkOverlapSql: String = chunkCtesSql + """
    |SELECT doc_id, n_toks, n_chunks, chunk_id, n_chunk_toks, chunk_sig
    |FROM chnk ORDER BY doc_id, chunk_id""".stripMargin

  // -------------------------------------------------------------------
  // q_chunk_dedup — cross-document chunk-level dedup, the consumer the
  // chunker's fingerprint column exists for: a chunk is SHARED when its
  // 60-bit sig appears in >= 2 distinct documents (boilerplate windows,
  // quoted passages, mirrored articles — text that survives document-
  // level dedup because the containing documents differ). Emitted per
  // document: chunk count, shared-chunk count, and the shared fraction —
  // the per-doc number a chunk-aware filter thresholds on (RefinedWeb
  // drops documents whose duplicated-window mass runs high; cf. the
  // q_dup_span_mass discipline one level up).
  //
  // A chunk repeated only WITHIN one document is not shared (nd counts
  // distinct docs); each chunk INSTANCE of a shared sig counts toward
  // its document's n_shared_chunks.
  //
  // Scale shape: the map-only chunker feeds one partial-aggregated
  // groupBy(chunk_sig) (distinct-doc counts ride the sig shuffle), the
  // sig->hotness join is digest-keyed (uniform, never skewed — sigs of
  // hot boilerplate collapse to ONE row on the build side), and the
  // per-doc rollup is one more partial agg. No pair fan-out anywhere: a
  // window shared by a million documents costs one counter, not C(1M,2)
  // candidate pairs.
  // -------------------------------------------------------------------
  val qChunkDedup: Q = (s, d) => chunkDedup(Tables.documents(s, d))

  /** Core of q_chunk_dedup over any (doc_id, text) frame — split out so
    * specs can pin shared/within-doc/unique chunk classification on
    * crafted corpora.
    */
  def chunkDedup(docs: DataFrame): DataFrame = {
    // ch feeds BOTH the hotness agg and the join probe; persisted (slim
    // 3-column rows) so the chunker's full-text scan + md5 runs once,
    // not twice — at 100 TB the ingest scan dominates and doubling it
    // for a re-derivation is the q_dedup_editdist mistake.
    val ch = chunkRows(docs)
      .select(col("doc_id"), col("n_chunks"), col("chunk_sig"))
      .transform(graft.PlanMode.checkpointTail)
    val hot = ch.groupBy(col("chunk_sig"))
      .agg(countDistinct(col("doc_id")).as("nd"))
    val out = ch.join(hot, Seq("chunk_sig"))
      .groupBy(col("doc_id"))
      .agg(max(col("n_chunks")).as("n_chunks"),
           sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_shared_chunks"))
      .select(col("doc_id"), col("n_chunks"), col("n_shared_chunks"),
        round(col("n_shared_chunks").cast("double")
                / col("n_chunks").cast("double"), 6).as("shared_frac"))
      // No final orderBy: corpus-sized output; the gate sorts rows.
    out
  }

  val qChunkDedupSql: String = chunkCtesSql + """,
    |hot AS (SELECT chunk_sig, COUNT(DISTINCT doc_id) AS nd
    |        FROM chnk GROUP BY 1)
    |SELECT c.doc_id, MAX(c.n_chunks) AS n_chunks,
    |       CAST(SUM(CASE WHEN h.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
    |         AS n_shared_chunks,
    |       ROUND(CAST(SUM(CASE WHEN h.nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
    |             / CAST(MAX(c.n_chunks) AS DOUBLE), 6) AS shared_frac
    |FROM chnk c JOIN hot h USING (chunk_sig)
    |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q_repeat_epochs — data-constrained token-budget allocation
  // (Muennighoff et al. 2023, "Scaling Data-Constrained Language
  // Models"): given a training budget of RepeatBudgetFactor x the
  // corpus, split it across sources by the temperature rule (q ∝
  // sqrt(share), the q_mix_temperature discipline keyed on `source`)
  // and cap every source at MaxEpochs repeat epochs — the paper's
  // finding that up to ~4 epochs of repetition is nearly as good as
  // fresh data, beyond which returns decay sharply. Emitted per source:
  // its tokens, temperature weight, budgeted target, raw and capped
  // epoch counts, the effective tokens actually trainable, and the
  // unused budget the cap strands (the number a second reallocation
  // pass would redistribute).
  //
  // Exactness: sqrt snapped to integer micro-units before the
  // normalizing sum (the q_mix_temperature discipline); target_toks =
  // floor(sqrt_u * 2*tot / den_u) evaluated as the SAME left-associated
  // double expression on both engines (single mul + div of identical
  // binary64 inputs — deterministic IEEE, no order-dependent sum);
  // everything downstream is BIGINT min/subtract plus single divisions
  // rounded to 6 places identically.
  //
  // Scale shape: one partial-aggregated scan to O(sources) rows, a
  // 1-row global crossJoined back. Nothing grows with corpus size.
  // -------------------------------------------------------------------
  val RepeatBudgetFactor = 2L
  val MaxEpochs = 4L

  val qRepeatEpochs: Q = (s, d) => {
    val tot = Tables.documents(s, d)
      .select(col("source"),
              size(Ops.tokens(col("text"))).cast("bigint").as("n_toks"))
      .groupBy(col("source")).agg(sum(col("n_toks")).as("src_toks"))
    val u = tot.withColumn("sqrt_u",
      round(sqrt(col("src_toks").cast("double")) * 1e6).cast("long"))
    val denom = u.agg(sum(col("sqrt_u")).as("den_u"),
                      sum(col("src_toks")).as("tot_toks"))
    u.crossJoin(denom)
      .withColumn("target_toks",
        floor(col("sqrt_u").cast("double")
                * (col("tot_toks") * RepeatBudgetFactor).cast("double")
                / col("den_u").cast("double")).cast("long"))
      .withColumn("effective_toks",
        least(col("src_toks") * MaxEpochs, col("target_toks")))
      .select(col("source"), col("src_toks"),
        round(col("sqrt_u").cast("double")
                / col("den_u").cast("double"), 6).as("weight"),
        col("target_toks"),
        round(col("target_toks").cast("double")
                / col("src_toks").cast("double"), 6).as("epochs_raw"),
        round(col("effective_toks").cast("double")
                / col("src_toks").cast("double"), 6).as("epochs"),
        col("effective_toks"),
        (col("target_toks") - col("effective_toks")).as("unused_toks"))
      .orderBy(col("source"))
  }

  val qRepeatEpochsSql: String =
    s"""WITH t AS (
      |  SELECT source,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
      |  FROM documents),
      |tot AS (SELECT source, CAST(SUM(n_toks) AS BIGINT) AS src_toks
      |        FROM t GROUP BY 1),
      |u AS (SELECT source, src_toks,
      |             CAST(ROUND(SQRT(CAST(src_toks AS DOUBLE)) * 1000000.0)
      |                  AS BIGINT) AS sqrt_u
      |      FROM tot),
      |d AS (SELECT CAST(SUM(sqrt_u) AS BIGINT) AS den_u,
      |             CAST(SUM(src_toks) AS BIGINT) AS tot_toks FROM u),
      |a AS (
      |  SELECT source, src_toks, sqrt_u, den_u,
      |         CAST(FLOOR(CAST(sqrt_u AS DOUBLE)
      |                    * CAST(tot_toks * $RepeatBudgetFactor AS DOUBLE)
      |                    / CAST(den_u AS DOUBLE)) AS BIGINT) AS target_toks
      |  FROM u CROSS JOIN d),
      |e AS (
      |  SELECT *, LEAST(src_toks * $MaxEpochs, target_toks)
      |              AS effective_toks
      |  FROM a)
      |SELECT source, src_toks,
      |       ROUND(CAST(sqrt_u AS DOUBLE) / CAST(den_u AS DOUBLE), 6)
      |         AS weight,
      |       target_toks,
      |       ROUND(CAST(target_toks AS DOUBLE) / CAST(src_toks AS DOUBLE), 6)
      |         AS epochs_raw,
      |       ROUND(CAST(effective_toks AS DOUBLE) / CAST(src_toks AS DOUBLE),
      |             6) AS epochs,
      |       effective_toks,
      |       target_toks - effective_toks AS unused_toks
      |FROM e ORDER BY source""".stripMargin

  // -------------------------------------------------------------------
  // q_mlm_mask — deterministic BERT-style token masking, the map-only
  // data-prep step of masked-LM training: position i of document d is
  // masked iff md5Bits60(d:i) < floor(0.15 * 2^60) — the same
  // coordination-free hash-threshold sampler as q_stratified_sample /
  // q_mixture_sample, so any executor (or a re-run, or the streaming
  // twin of an ingest) derives the identical mask with no shared RNG
  // state. Emitted per document: token count, masked count, realized
  // mask rate, and a 60-bit fingerprint of the masked position list —
  // the value a downstream trainer checksums to prove the mask it saw
  // is the mask this pass computed.
  //
  // MaskThrBits = floor(0.15 * 2^60) precomputed as a literal on both
  // sides: 2^60 * 15 overflows BIGINT, so the arithmetic form is not
  // portable but the 18-digit constant is.
  //
  // Scale shape: MAP-ONLY, the strongest posture in the registry — one
  // projection computes the mask from the token array in hand (filter
  // over sequence(0, n-1)); no shuffle, no state, output one row per
  // document. At 100 TB this rides the ingest scan for free.
  // -------------------------------------------------------------------
  val MaskThrBits = 172938225691027046L // floor(0.15 * 2^60)

  val qMlmMask: Q = (s, d) => mlmMask(Tables.documents(s, d))

  /** Core of q_mlm_mask over any (doc_id, text) frame — split out so
    * specs can recompute the hash-threshold mask independently on
    * crafted documents.
    */
  def mlmMask(docs: DataFrame): DataFrame = {
    docs
      .select(col("doc_id"), Ops.tokens(col("text")).as("toks"))
      .withColumn("n_toks", size(col("toks")).cast("bigint"))
      .withColumn("masked",
        filter(sequence(lit(0L), col("n_toks") - 1), i =>
          Ops.md5Bits60(concat(col("doc_id").cast("string"), lit(":"),
                               i.cast("string"))) < lit(MaskThrBits)))
      .select(col("doc_id"), col("n_toks"),
        size(col("masked")).cast("bigint").as("n_masked"),
        round(size(col("masked")).cast("double")
                / col("n_toks").cast("double"), 6).as("mask_frac"),
        Ops.md5Bits60(array_join(
          transform(col("masked"), _.cast("string")), ",")).as("mask_sig"))
      // No final orderBy: corpus-sized output; the gate sorts rows.
  }

  val qMlmMaskSql: String =
    s"""WITH t AS (
      |  SELECT doc_id,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
      |  FROM documents),
      |m AS (
      |  SELECT doc_id, n_toks,
      |         list_filter(range(0, n_toks), i ->
      |           ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
      |                               || CAST(i AS VARCHAR)), 1, 15))::BIGINT
      |             < $MaskThrBits) AS masked
      |  FROM t)
      |SELECT doc_id, n_toks,
      |       CAST(len(masked) AS BIGINT) AS n_masked,
      |       ROUND(CAST(len(masked) AS DOUBLE) / CAST(n_toks AS DOUBLE), 6)
      |         AS mask_frac,
      |       -- DuckDB array_to_string([]) is NULL where Spark's
      |       -- array_join([]) is '' -- coalesce to the Spark value
      |       ('0x' || substr(md5(COALESCE(array_to_string(
      |          list_transform(masked, x -> CAST(x AS VARCHAR)), ','), '')),
      |          1, 15))::BIGINT AS mask_sig
      |FROM m ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q_span_corruption — deterministic T5-style span corruption (the
  // denoising objective's data-prep step): a corruption SPAN starts at
  // position i of document d iff md5Bits60(sp:d:i) < floor(0.05·2^60)
  // and covers SpanLen = 3 tokens, so the expected corrupted fraction
  // is ≈ 15% in mean-length-3 spans — T5's published noise recipe —
  // while staying coordination-free and replayable like q_mlm_mask
  // (distinct hash domain: the "sp:" prefix keeps the span draw
  // independent of the MLM mask draw on the same corpus). Overlapping
  // and adjacent windows merge, exactly as T5 merges spans; n_spans is
  // the number of sentinel tokens the encoder input would carry.
  //
  // Per document: token count, merged-span count, corrupted-token
  // count/fraction, and a 60-bit fingerprint of the covered-position
  // list (the trainer-side checksum of the exact corruption pattern).
  //
  // Scale shape: one position explode (corpus-token-linear) into a
  // doc-partitioned window pair (coverage = max(is_start) over the
  // trailing SpanLen frame; span starts = covered minus lag) and one
  // doc-keyed partial agg that rides the window's exchange. The md5
  // draw is evaluated exactly ONCE per token. The obvious nested-array
  // formulation (filter positions against an `exists` over a reused
  // `starts` array) is NOT used deliberately: Catalyst's
  // CollapseProject inlines the reused array alias into every consumer
  // lambda, re-deriving the n-hash starts array per position — O(n²)
  // md5s per document, measured 38 s vs ~1.5 s for this shape at
  // sf0.1. All shuffles are doc-keyed; per-doc state is bounded by
  // sequence length, not corpus size.
  // -------------------------------------------------------------------
  val SpanThrBits = 57646075230342348L // floor(0.05 * 2^60)
  val SpanLen = 3

  val qSpanCorruption: Q = (s, d) => spanCorrupt(Tables.documents(s, d))

  /** Core of q_span_corruption over any (doc_id, text) frame — split
    * out so specs can recompute the span draw independently and pin the
    * merge algebra on crafted documents.
    */
  def spanCorrupt(docs: DataFrame): DataFrame = {
    val pos = docs
      .select(col("doc_id"),
              size(Ops.tokens(col("text"))).cast("bigint").as("n_toks"))
      .select(col("doc_id"), col("n_toks"),
              explode(sequence(lit(0L), col("n_toks") - 1)).as("p"))
      .withColumn("is_start",
        (Ops.md5Bits60(concat(lit("sp:"), col("doc_id").cast("string"),
                              lit(":"), col("p").cast("string")))
           < lit(SpanThrBits)).cast("int"))
    val frame = Window.partitionBy(col("doc_id")).orderBy(col("p"))
      .rowsBetween(-(SpanLen - 1), 0)
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    pos
      .withColumn("covered", max(col("is_start")).over(frame))
      .withColumn("prev_cov", coalesce(lag(col("covered"), 1).over(byPos),
                                       lit(0)))
      .groupBy(col("doc_id"))
      .agg(max(col("n_toks")).as("n_toks"),
           sum(when(col("covered") === 1 && col("prev_cov") === 0, 1L)
                 .otherwise(0L)).as("n_spans"),
           sum(col("covered").cast("bigint")).as("n_corrupted"),
           sort_array(collect_list(when(col("covered") === 1, col("p"))))
             .as("cov_list"))
      .select(col("doc_id"), col("n_toks"), col("n_spans"),
              col("n_corrupted"),
              round(col("n_corrupted").cast("double")
                      / col("n_toks").cast("double"), 6).as("corrupt_frac"),
              Ops.md5Bits60(array_join(
                transform(col("cov_list"), _.cast("string")), ","))
                .as("span_sig"))
      // No final orderBy: corpus-sized output; the gate sorts rows.
  }

  val qSpanCorruptionSql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
       |  FROM documents),
       |st AS (
       |  SELECT doc_id, n_toks,
       |         list_filter(range(0, n_toks), i ->
       |           ('0x' || substr(md5('sp:' || CAST(doc_id AS VARCHAR) || ':'
       |                               || CAST(i AS VARCHAR)), 1, 15))::BIGINT
       |             < $SpanThrBits) AS starts
       |  FROM t),
       |c AS (
       |  SELECT doc_id, n_toks,
       |         list_filter(range(0, n_toks), p ->
       |           len(list_filter(starts,
       |                           x -> x <= p AND p < x + $SpanLen)) > 0)
       |           AS covered
       |  FROM st)
       |SELECT doc_id, n_toks,
       |       CAST(len(list_filter(covered,
       |                p -> NOT list_contains(covered, p - 1))) AS BIGINT)
       |         AS n_spans,
       |       CAST(len(covered) AS BIGINT) AS n_corrupted,
       |       ROUND(CAST(len(covered) AS DOUBLE) / CAST(n_toks AS DOUBLE), 6)
       |         AS corrupt_frac,
       |       ('0x' || substr(md5(COALESCE(array_to_string(
       |          list_transform(covered, x -> CAST(x AS VARCHAR)), ','), '')),
       |          1, 15))::BIGINT AS span_sig
       |FROM c ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q_boilerplate — CCNet/RefinedWeb-style boilerplate removal by
  // corpus-frequency: cut every document into fixed 5-token segments
  // (the "paragraph" unit of this single-line corpus), count each
  // distinct segment's document frequency corpus-wide, drop segments
  // shared by >= BoilerDfCap documents (navigation chrome, license
  // headers, spam templates — a segment repeated verbatim across
  // documents carries no training signal), and reassemble the surviving
  // text in original order.
  //
  // Scale shape: segmentation is MAP-ONLY (array slice on the token
  // vector — no explode→groupBy round trip to rebuild positions); the
  // df count and the anti-join both shuffle on the segment string, and
  // reassembly is one partial-aggregating groupBy(doc_id). Nothing is
  // quadratic in corpus size or duplicate density — a hot segment costs
  // one counter, not candidate pairs.
  // -------------------------------------------------------------------
  val BoilerSegWords = 5
  val BoilerDfCap = 2 // df >= 2: any cross-document verbatim segment

  val qBoilerplate: Q = (s, d) => boilerplateRemove(Tables.documents(s, d))

  /** Core of q_boilerplate over any (doc_id, text) frame — split out so
    * specs can run crafted corpora with known repeated segments.
    */
  /** THE segmentation, defined once: fixed BoilerSegWords-token
    * segments of each document as (doc_id, n_segs, seg, segtext).
    * boilerplateRemove, paragraphDedup, and the streaming segment
    * ledger (streaming.ParagraphStream) all consume this single
    * definition, so their agreement on segment boundaries — the whole
    * basis of batch/stream ledger parity — is structural, not three
    * copies kept in sync by hand. ceil(n/w) via true integer division
    * (Spark's `div`), matching the oracle's `//` — not `/`, which is
    * double division in Spark SQL.
    */
  def segments(docs: DataFrame): DataFrame = {
    val w = lit(BoilerSegWords)
    docs
      .select(col("doc_id"), Ops.tokens(col("text")).as("toks"))
      .withColumn("n_segs",
        expr(s"CAST((size(toks) + ${BoilerSegWords - 1}) div $BoilerSegWords" +
             " AS BIGINT)"))
      .select(col("doc_id"), col("n_segs"),
        explode(transform(sequence(lit(0L), col("n_segs") - 1),
          i => struct(i.as("seg"),
                      array_join(slice(col("toks"),
                        (i * w + 1).cast("int"), lit(BoilerSegWords)), " ")
                        .as("segtext")))).as("sg"))
      .select(col("doc_id"), col("n_segs"),
              col("sg.seg").as("seg"), col("sg.segtext").as("segtext"))
  }

  /** Per-doc segment counts only — the row-preserving spine the segment
    * operators join their kept stats back onto.
    */
  private def docSegCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      expr(s"CAST((size(split(text, ' ')) + ${BoilerSegWords - 1}) div " +
           s"$BoilerSegWords AS BIGINT)").as("n_segs"))

  def boilerplateRemove(docs: DataFrame): DataFrame = {
    val segs = segments(docs)
    val base = docSegCounts(docs)
    val hot = segs.groupBy(col("segtext"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= BoilerDfCap)
      .select(col("segtext"))
    val kept = segs.join(hot, Seq("segtext"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
           array_join(
             transform(array_sort(collect_list(struct(col("seg"),
                                                      col("segtext")))),
                       x => x.getField("segtext")), " ").as("kept_text"))
    base.select(col("doc_id"), col("n_segs"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_segs"),
              coalesce(col("n_kept"), lit(0L)).as("n_kept"),
              round(lit(1.0) - coalesce(col("n_kept"), lit(0L)).cast("double")
                      / col("n_segs").cast("double"), 6).as("removed_frac"),
              coalesce(col("kept_text"), lit("")).as("kept_text"))
      // No final orderBy: corpus-sized output; the gate sorts rows.
  }

  val qBoilerplateSql: String =
    s"""WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |base AS (
      |  SELECT doc_id, toks,
      |         CAST((len(toks) + ${BoilerSegWords - 1}) // $BoilerSegWords
      |              AS BIGINT) AS n_segs
      |  FROM t),
      |pos AS (
      |  SELECT doc_id, n_segs, toks, unnest(range(0, n_segs)) AS seg
      |  FROM base),
      |segs AS (
      |  SELECT doc_id, n_segs, CAST(seg AS BIGINT) AS seg,
      |         array_to_string(list_slice(toks, seg * $BoilerSegWords + 1,
      |                                    (seg + 1) * $BoilerSegWords),
      |                         ' ') AS segtext
      |  FROM pos),
      |hot AS (
      |  SELECT segtext FROM segs GROUP BY 1
      |  HAVING COUNT(DISTINCT doc_id) >= $BoilerDfCap),
      |kept AS (
      |  SELECT s.doc_id, COUNT(*) AS n_kept,
      |         string_agg(s.segtext, ' ' ORDER BY s.seg) AS kept_text
      |  FROM segs s ANTI JOIN hot h ON s.segtext = h.segtext
      |  GROUP BY 1)
      |SELECT b.doc_id, b.n_segs,
      |       CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
      |       round(1.0 - CAST(COALESCE(k.n_kept, 0) AS DOUBLE)
      |                     / CAST(b.n_segs AS DOUBLE), 6) AS removed_frac,
      |       COALESCE(k.kept_text, '') AS kept_text
      |FROM base b LEFT JOIN kept k USING (doc_id)
      |ORDER BY b.doc_id""".stripMargin

  // -------------------------------------------------------------------
  // q_unigram_logprob — unigram language-model fluency score, the cheap
  // stand-in for CCNet's wiki-LM perplexity filter: train the unigram
  // model ON the corpus itself (count(term) / total_tokens) and score
  // each document by its mean token log-probability. Low scores flag
  // rare-token noise; implausibly high scores flag degenerate repetition.
  //
  // The raw token stream is collapsed to distinct (doc, term) pairs in
  // its first partial-aggregated shuffle; everything downstream (term
  // counts, the tf join, the per-doc mean) moves pairs, not
  // occurrences. ln() per distinct count is scalar libm (same value
  // both engines); each per-token ln is snapped to integer MICRO-UNITS
  // (weighted by the pair multiplicity) before the per-doc sum, so the
  // aggregate is an order-free BIGINT at any parallelism — raw double
  // summation would be partition-order-dependent.
  // -------------------------------------------------------------------
  val qUnigramLogprob: Q = (s, d) => unigramLogprob(Tables.documents(s, d))

  /** Core of q_unigram_logprob over any (doc_id, text) frame. Token
    * occurrences collapse to per-(doc, term) counts FIRST (the same
    * pair-collapse as dupSpanMass), so the tf join and the per-doc sum
    * move distinct pairs, not every occurrence — each occurrence of a
    * term contributes the identical snapped micro-unit, so weighting
    * by multiplicity is arithmetically the same.
    */
  def unigramLogprob(docs: DataFrame): DataFrame = {
    val perDoc = docs
      .select(col("doc_id"), explode(Ops.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("m"))
    val tf = perDoc.groupBy(col("term")).agg(sum(col("m")).as("cnt"))
    val n = tf.agg(sum(col("cnt")).as("n_total"))
    perDoc.join(tf, Seq("term"))
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_toks"),
           sum(col("m") *
               round(log(col("cnt").cast("double")) * 1e6).cast("long"))
             .as("sum_ln_u"))
      .crossJoin(n)
      .select(col("doc_id"), col("n_toks"),
              round((col("sum_ln_u").cast("double") / 1e6)
                      / col("n_toks").cast("double")
                      - log(col("n_total").cast("double")), 6)
                .as("mean_logprob"))
    // No final orderBy: O(docs) output; the gate sorts rows.
  }

  val qUnigramLogprobSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |tf AS (SELECT term, COUNT(*) AS cnt FROM tok GROUP BY 1),
      |n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM tf),
      |per_doc AS (
      |  SELECT tok.doc_id, COUNT(*) AS n_toks,
      |         SUM(CAST(round(ln(CAST(tf.cnt AS DOUBLE)) * 1000000.0, 0)
      |                  AS BIGINT)) AS sum_ln_u
      |  FROM tok JOIN tf USING (term) GROUP BY 1)
      |SELECT doc_id, n_toks,
      |       round((CAST(sum_ln_u AS DOUBLE) / 1000000.0)
      |               / CAST(n_toks AS DOUBLE)
      |               - ln(CAST(n_total AS DOUBLE)), 6) AS mean_logprob
      |FROM per_doc CROSS JOIN n""".stripMargin

  // ------------------------------------------------------------------
  // q_source_divergence — pairwise KL divergence between per-SOURCE
  // add-1-smoothed unigram LMs over the shared corpus vocabulary:
  // KL(P_a ‖ P_b) = Σ_w P_a(w) · ln(P_a(w)/P_b(w)). The distributional
  // complement of q_source_overlap's verbatim-span overlap — the
  // report that drives mixture design ("src3 reads like src12" vs
  // "src3 textually contains src12") and DoReMi-style reweighting.
  //
  // Exactness: P ratios are exact integer rationals; each per-term
  // contribution is ONE identical double expression on both engines —
  // (c_a+1)/(N_a+V) · (ln((c_a+1)·(N_b+V)) − ln((c_b+1)·(N_a+V))) —
  // snapped to integer nano-units and summed as BIGINT (order-free at
  // any parallelism); the final KL is the raw IEEE division of
  // identical integers (unrounded — the half-boundary rule).
  //
  // Scale shape: token occurrences collapse to (source, term) counts in
  // one partial-agg shuffle; the smoothed table is vocab × sources; the
  // pair join fans out vocab × sources² rows into a partial-aggregated
  // sources²-row output — sources is small by construction, so the
  // whole comparison is vocabulary-bounded, never corpus-bounded.
  // ------------------------------------------------------------------
  val qSourceDivergence: Q = (s, d) => sourceDivergence(Tables.documents(s, d))

  /** Core of q_source_divergence over any (source, text) frame. */
  def sourceDivergence(docs: DataFrame): DataFrame = {
    val cnt = docs
      .select(col("source"), explode(Ops.tokens(col("text"))).as("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("c"))
    val vocab = cnt.select(col("term")).distinct()
    val totals = cnt.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val vsize = vocab.agg(count(lit(1)).as("v"))
    // Every (source, term) cell of the smoothed model, absent → c = 0.
    val full = vocab.crossJoin(totals).crossJoin(vsize)
      .join(cnt, Seq("source", "term"), "left")
      .select(col("source"), col("term"),
              coalesce(col("c"), lit(0L)).as("c"), col("n"), col("v"))
    val a = full.select(col("term"), col("source").as("src_a"),
                        col("c").as("c_a"), col("n").as("n_a"), col("v"))
    val b = full.select(col("term"), col("source").as("src_b"),
                        col("c").as("c_b"), col("n").as("n_b"))
    val ca1 = (col("c_a") + lit(1L)).cast("double")
    val cb1 = (col("c_b") + lit(1L)).cast("double")
    val nav = (col("n_a") + col("v")).cast("double")
    val nbv = (col("n_b") + col("v")).cast("double")
    a.join(b, Seq("term"))
      .filter(col("src_a") =!= col("src_b"))
      .select(col("src_a"), col("src_b"),
              round(ca1 / nav * (log(ca1 * nbv) - log(cb1 * nav)) * 1e9)
                .cast("long").as("u"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_terms"),
           (sum(col("u")).cast("double") / 1e9).as("kl"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val qSourceDivergenceSql: String =
    """WITH cnt AS (
      |  SELECT source, term, count(*) AS c
      |  FROM (SELECT source, unnest(string_split(text, ' ')) AS term
      |        FROM documents)
      |  GROUP BY 1, 2),
      |vocab AS (SELECT DISTINCT term FROM cnt),
      |totals AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n
      |           FROM cnt GROUP BY 1),
      |vs AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
      |fm AS (
      |  SELECT t.source, vo.term, COALESCE(c.c, 0) AS c, t.n, vs.v
      |  FROM vocab vo CROSS JOIN totals t CROSS JOIN vs
      |  LEFT JOIN cnt c ON c.source = t.source AND c.term = vo.term),
      |pairs AS (
      |  SELECT a.source AS src_a, b.source AS src_b,
      |         CAST(round(
      |           CAST(a.c + 1 AS DOUBLE) / CAST(a.n + a.v AS DOUBLE)
      |             * (ln(CAST(a.c + 1 AS DOUBLE)
      |                   * CAST(b.n + a.v AS DOUBLE))
      |                - ln(CAST(b.c + 1 AS DOUBLE)
      |                     * CAST(a.n + a.v AS DOUBLE)))
      |             * 1000000000.0, 0) AS BIGINT) AS u
      |  FROM fm a JOIN fm b ON a.term = b.term
      |  WHERE a.source <> b.source)
      |SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_terms,
      |       CAST(SUM(u) AS DOUBLE) / 1000000000.0 AS kl
      |FROM pairs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // q_ks_test — two-sample Kolmogorov–Smirnov statistic between every
  // source pair over the per-document token-length distribution:
  // D = max_x |F_a(x) − F_b(x)|, the NONPARAMETRIC distribution-shift
  // test next to q_source_divergence's model-based KL (KL needs a
  // vocabulary; KS works on any ordered doc metric and is what a
  // pipeline health check runs on length/quality-score drift between
  // crawls).
  //
  // Exactness: the empirical CDFs are integer rationals cum/n of
  // identical BIGINTs, so every |F_a−F_b| is the same IEEE double on
  // both engines and the max is exact — no snapping needed (the
  // ewma-daily rule: identical inputs + identical expression ⇒
  // identical bits).
  //
  // Scale shape: doc lengths collapse to (source, x) counts in one
  // partial-agg shuffle; the CDF grid is distinct-lengths × sources
  // (support-bounded, like the KL's vocab × sources — for a CONTINUOUS
  // metric at 100 TB you'd quantile-bucket x first, the q_histogram
  // funnel); the pair fan-out is grid × sources² into a
  // partial-aggregated sources²-row max. Never corpus-bounded past
  // the first aggregate.
  // ------------------------------------------------------------------
  val qKsTest: Q = (s, d) => ksTest(Tables.documents(s, d))

  /** Core of q_ks_test over any (source, text) frame. */
  def ksTest(docs: DataFrame): DataFrame = {
    val lens = docs
      .select(col("source"), size(Ops.tokens(col("text"))).cast("bigint")
                .as("x"))
      .groupBy(col("source"), col("x")).agg(count(lit(1)).as("c"))
    val grid = lens.select(col("x")).distinct()
    val totals = lens.groupBy(col("source")).agg(sum(col("c")).as("n"))
    // Every (source, grid-point) cell, absent → c = 0, so both CDFs
    // are evaluated at the UNION of observed values — where the sup is
    // attained for step functions.
    val cells = grid.crossJoin(totals)
      .join(lens, Seq("source", "x"), "left")
      .select(col("source"), col("x"), col("n"),
              coalesce(col("c"), lit(0L)).as("c"))
    val w = Window.partitionBy(col("source")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cdf = cells.withColumn("cum", sum(col("c")).over(w))
    val a = cdf.select(col("x"), col("source").as("src_a"),
                       col("cum").as("cum_a"), col("n").as("n_a"))
    val b = cdf.select(col("x"), col("source").as("src_b"),
                       col("cum").as("cum_b"), col("n").as("n_b"))
    a.join(b, Seq("x"))
      .filter(col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
              abs(col("cum_a").cast("double") / col("n_a").cast("double")
                  - col("cum_b").cast("double") / col("n_b").cast("double"))
                .as("dx"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
           max(col("dx")).as("d_stat"))
      .orderBy(col("src_a"), col("src_b"))
  }

  // ------------------------------------------------------------------
  // q_pmi — pointwise-mutual-information collocations over adjacent
  // token bigrams: top-20 pairs by PMI = ln(c₁₂·N / (c₁·c₂)) under a
  // min-support floor (c₁₂ ≥ 5 — the Church & Hanks 1990 guard
  // against PMI's rare-pair explosion). Marginals are the bigram
  // table's own position sums, so the whole statistic derives from
  // ONE counts table. The collocation-mining classic: multiword
  // expressions for tokenizer vocab design and boilerplate phrase
  // discovery.
  //
  // Exactness: c₁₂, c₁, c₂, N are exact BIGINTs; PMI snaps the one
  // ln expression to micro-units and the top-20 cut ranks on the
  // snapped integer with (w1, w2) text tiebreak — deterministic
  // cross-engine (the log-odds discipline).
  //
  // Scale shape: bigrams are generated MAP-SIDE (zip of the token
  // array with its own tail — no self-join, no shuffle to form
  // pairs); one (w1, w2) partial-agg shuffle, two vocab-bounded
  // marginal rollups joined back, and a TakeOrderedAndProject cut
  // (≤20 rows per partition cross the wire).
  // ------------------------------------------------------------------
  val qPmi: Q = (s, d) => pmi(Tables.documents(s, d))

  /** Core of q_pmi over any (text) frame. */
  def pmi(docs: DataFrame): DataFrame = {
    val toks = Ops.tokens(col("text"))
    val big = docs
      .select(explode(arrays_zip(
        slice(toks, lit(1), size(toks) - 1).as("w1"),
        slice(toks, lit(2), size(toks) - 1).as("w2"))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val m1 = big.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val m2 = big.groupBy(col("w2")).agg(sum(col("c12")).as("c2"))
    val n = big.agg(sum(col("c12")).as("n"))
    big.filter(col("c12") >= 5L)
      .join(m1, Seq("w1")).join(m2, Seq("w2")).crossJoin(n)
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
              round(log(col("c12").cast("double") * col("n").cast("double")
                          / (col("c1").cast("double")
                               * col("c2").cast("double"))) * 1e6)
                .cast("long").as("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("w1").asc, col("w2").asc)
      .limit(20)
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
              (col("pmi_micro").cast("double") / 1e6).as("pmi"))
  }

  val qPmiSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |big AS (
      |  SELECT ws[i] AS w1, ws[i + 1] AS w2, count(*) AS c12
      |  FROM toks, unnest(range(1, len(ws))) AS t(i)
      |  GROUP BY 1, 2),
      |m1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM big GROUP BY 1),
      |m2 AS (SELECT w2, CAST(SUM(c12) AS BIGINT) AS c2 FROM big GROUP BY 1),
      |n AS (SELECT CAST(SUM(c12) AS BIGINT) AS n FROM big),
      |scored AS (
      |  SELECT b.w1, b.w2, b.c12, m1.c1, m2.c2,
      |         CAST(round(ln(CAST(b.c12 AS DOUBLE) * CAST(n.n AS DOUBLE)
      |                       / (CAST(m1.c1 AS DOUBLE)
      |                          * CAST(m2.c2 AS DOUBLE)))
      |                    * 1000000.0, 0) AS BIGINT) AS pmi_micro
      |  FROM big b JOIN m1 ON m1.w1 = b.w1 JOIN m2 ON m2.w2 = b.w2
      |  CROSS JOIN n WHERE b.c12 >= 5)
      |SELECT w1, w2, CAST(c12 AS BIGINT) AS c12, c1, c2,
      |       CAST(pmi_micro AS DOUBLE) / 1000000.0 AS pmi
      |FROM scored ORDER BY pmi_micro DESC, w1 ASC, w2 ASC LIMIT 20""".stripMargin

  // ------------------------------------------------------------------
  // q_jsd — pairwise Jensen–Shannon divergence between per-source
  // unigram MLE distributions over the union support: JSD(P,Q) =
  // ½Σ p·ln(p/m) + ½Σ q·ln(q/m) with m = (p+q)/2. The BOUNDED
  // (≤ ln 2), symmetric companion to q_source_divergence's KL — the
  // scalar data-mixture papers actually plot, and it needs NO
  // smoothing: a term absent from one source contributes ½q·ln 2
  // through the other side, and 0·ln(0/m) is identically dropped.
  //
  // Exactness: p, q, m are IEEE divisions of identical BIGINTs; each
  // per-term contribution is one identical double expression snapped
  // to nano-units and summed as BIGINT (order-free at any
  // parallelism); the final JSD is the raw scaling of the integer
  // sum (the source_divergence discipline).
  //
  // Scale shape: the KL funnel verbatim — one (source, term)
  // partial-agg shuffle, vocab × sources smoothed-free cells, pair
  // fan-out vocab × sources² into a sources²-row aggregate.
  // ------------------------------------------------------------------
  val qJsd: Q = (s, d) => jsd(Tables.documents(s, d))

  /** Core of q_jsd over any (source, text) frame. */
  def jsd(docs: DataFrame): DataFrame = {
    val cnt = docs
      .select(col("source"), explode(Ops.tokens(col("text"))).as("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("c"))
    val totals = cnt.groupBy(col("source")).agg(sum(col("c")).as("n"))
    // Dense (term, src_a, src_b) grid over the union support: a term
    // absent from one side carries c = 0 there (p = 0 drops its own
    // ln term; the other side still contributes through m). Cells
    // where BOTH sides are 0 are filtered — they contribute nothing.
    val ta = totals.select(col("source").as("src_a"), col("n").as("n_a2"))
    val tb = totals.select(col("source").as("src_b"), col("n").as("n_b2"))
    val support = cnt.select(col("term")).distinct()
    val grid = support.crossJoin(ta).crossJoin(tb)
      .filter(col("src_a") < col("src_b"))
    val cA = cnt.select(col("term"), col("source").as("src_a"),
                        col("c").as("c_a"))
    val cB = cnt.select(col("term"), col("source").as("src_b"),
                        col("c").as("c_b"))
    val p = col("c_a").cast("double") / col("n_a2").cast("double")
    val q = col("c_b").cast("double") / col("n_b2").cast("double")
    val m = (p + q) / 2.0
    val term =
      when(col("c_a") > 0L, p / 2.0 * log(p / m)).otherwise(lit(0.0)) +
        when(col("c_b") > 0L, q / 2.0 * log(q / m)).otherwise(lit(0.0))
    grid
      .join(cA, Seq("term", "src_a"), "left")
      .join(cB, Seq("term", "src_b"), "left")
      .select(col("src_a"), col("src_b"),
              coalesce(col("c_a"), lit(0L)).as("c_a"),
              coalesce(col("c_b"), lit(0L)).as("c_b"),
              col("n_a2"), col("n_b2"))
      .filter(col("c_a") > 0L || col("c_b") > 0L)
      .select(col("src_a"), col("src_b"),
              round(term * 1e9).cast("long").as("u"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_terms"),
           (sum(col("u")).cast("double") / 1e9).as("jsd"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val qJsdSql: String =
    """WITH cnt AS (
      |  SELECT source, term, count(*) AS c
      |  FROM (SELECT source, unnest(string_split(text, ' ')) AS term
      |        FROM documents)
      |  GROUP BY 1, 2),
      |totals AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n
      |           FROM cnt GROUP BY 1),
      |support AS (SELECT DISTINCT term FROM cnt),
      |grid AS (
      |  SELECT s.term, ta.source AS src_a, ta.n AS n_a,
      |         tb.source AS src_b, tb.n AS n_b
      |  FROM support s CROSS JOIN totals ta CROSS JOIN totals tb
      |  WHERE ta.source < tb.source),
      |cells AS (
      |  SELECT g.src_a, g.src_b,
      |         COALESCE(ca.c, 0) AS c_a, COALESCE(cb.c, 0) AS c_b,
      |         g.n_a, g.n_b
      |  FROM grid g
      |  LEFT JOIN cnt ca ON ca.source = g.src_a AND ca.term = g.term
      |  LEFT JOIN cnt cb ON cb.source = g.src_b AND cb.term = g.term
      |  WHERE COALESCE(ca.c, 0) > 0 OR COALESCE(cb.c, 0) > 0),
      |terms AS (
      |  SELECT src_a, src_b,
      |         CAST(round((
      |           CASE WHEN c_a > 0 THEN
      |             CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE) / 2.0
      |               * ln((CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE))
      |                    / ((CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE)
      |                        + CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE))
      |                       / 2.0))
      |           ELSE 0.0 END
      |           + CASE WHEN c_b > 0 THEN
      |               CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE) / 2.0
      |                 * ln((CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE))
      |                      / ((CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE)
      |                          + CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE))
      |                         / 2.0))
      |             ELSE 0.0 END) * 1000000000.0, 0) AS BIGINT) AS u
      |  FROM cells)
      |SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_terms,
      |       CAST(SUM(u) AS DOUBLE) / 1000000000.0 AS jsd
      |FROM terms GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // q_log_odds — "Fightin' Words" (Monroe/Colaresi/Quinn 2008)
  // one-vs-rest log-odds keyness with an add-one Dirichlet prior: for
  // each source, the top-10 terms whose usage odds most exceed the
  // rest of the corpus, ranked by the variance-normalized
  //   z_w = [ln((c_i+1)/(n_i+V−c_i−1)) − ln((c_r+1)/(n_r+V−c_r−1))]
  //         / sqrt(1/(c_i+1) + 1/(c_r+1)).
  // The per-source "characteristic vocabulary" panel — what a corpus
  // report shows next to q_source_divergence's scalar KL (KL says HOW
  // different a source is; log-odds says WHICH words make it so,
  // without raw-frequency's large-corpus bias or PMI's rare-word
  // bias).
  //
  // Exactness: rest counts come from global-minus-source integer
  // arithmetic (no pair join); z is ONE double expression over
  // identical BIGINTs on both engines, snapped to micro-units (the
  // ln discipline — sqrt joins ln under the snap), and ranked on the
  // snapped integer with term text as the tiebreak, so the top-10
  // cut is deterministic cross-engine. Emitted z is the exact
  // integer-scaled value.
  //
  // Scale shape: one (source, term) partial-agg shuffle; per-term
  // global counts join back on the term (vocab-bounded, the
  // source_divergence funnel minus its sources² pair fan-out — only
  // OBSERVED (source, term) cells are scored, since an unobserved
  // term can never rank top-positive); the top-10 cut is a
  // source-keyed window over the vocab-bounded score table.
  // ------------------------------------------------------------------
  val qLogOdds: Q = (s, d) => logOdds(Tables.documents(s, d))

  /** Core of q_log_odds over any (source, text) frame. Assumes the
    * corpus vocabulary has ≥ 2 types (the smoothed rest-denominator is
    * then always positive). */
  def logOdds(docs: DataFrame): DataFrame = {
    val cnt = docs
      .select(col("source"), explode(Ops.tokens(col("text"))).as("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("c"))
    val srcTotals = cnt.groupBy(col("source")).agg(sum(col("c")).as("n_i"))
    val termTotals = cnt.groupBy(col("term")).agg(sum(col("c")).as("c_all"))
    val globals = cnt.agg(sum(col("c")).as("n_all"),
                          count_distinct(col("term")).as("v"))
    val scored = cnt
      .join(termTotals, Seq("term"))
      .join(srcTotals, Seq("source"))
      .crossJoin(globals)
      .select(col("source"), col("term"), col("c").as("c_i"),
              (col("c_all") - col("c")).as("c_r"),
              col("n_i"), (col("n_all") - col("n_i")).as("n_r"), col("v"))
      .select(col("source"), col("term"), col("c_i"), col("n_i"),
              round((log((col("c_i") + 1L).cast("double"))
                       - log((col("n_i") + col("v") - col("c_i") - 1L)
                               .cast("double"))
                       - log((col("c_r") + 1L).cast("double"))
                       + log((col("n_r") + col("v") - col("c_r") - 1L)
                               .cast("double")))
                      / sqrt(lit(1.0) / (col("c_i") + 1L).cast("double")
                               + lit(1.0) / (col("c_r") + 1L).cast("double"))
                      * 1e6).cast("long").as("z_micro"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("z_micro").desc, col("term").asc)
    scored
      .withColumn("rk", row_number().over(w).cast("bigint"))
      .filter(col("rk") <= 10)
      .select(col("source"), col("rk"), col("term"), col("c_i"),
              (col("z_micro").cast("double") / 1e6).as("z"))
      .orderBy(col("source"), col("rk"))
  }

  val qLogOddsSql: String =
    """WITH cnt AS (
      |  SELECT source, term, count(*) AS c
      |  FROM (SELECT source, unnest(string_split(text, ' ')) AS term
      |        FROM documents)
      |  GROUP BY 1, 2),
      |st AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_i
      |       FROM cnt GROUP BY 1),
      |tt AS (SELECT term, CAST(SUM(c) AS BIGINT) AS c_all
      |       FROM cnt GROUP BY 1),
      |g AS (SELECT CAST(SUM(c) AS BIGINT) AS n_all,
      |             CAST(COUNT(DISTINCT term) AS BIGINT) AS v FROM cnt),
      |scored AS (
      |  SELECT cnt.source, cnt.term, cnt.c AS c_i, st.n_i,
      |         CAST(round(
      |           (ln(CAST(cnt.c + 1 AS DOUBLE))
      |            - ln(CAST(st.n_i + g.v - cnt.c - 1 AS DOUBLE))
      |            - ln(CAST(tt.c_all - cnt.c + 1 AS DOUBLE))
      |            + ln(CAST(g.n_all - st.n_i + g.v
      |                      - (tt.c_all - cnt.c) - 1 AS DOUBLE)))
      |           / sqrt(1.0 / CAST(cnt.c + 1 AS DOUBLE)
      |                  + 1.0 / CAST(tt.c_all - cnt.c + 1 AS DOUBLE))
      |           * 1000000.0, 0) AS BIGINT) AS z_micro
      |  FROM cnt JOIN tt ON tt.term = cnt.term
      |  JOIN st ON st.source = cnt.source CROSS JOIN g),
      |ranked AS (
      |  SELECT source, term, c_i, z_micro,
      |         CAST(row_number() OVER (PARTITION BY source
      |                                 ORDER BY z_micro DESC, term ASC)
      |              AS BIGINT) AS rk
      |  FROM scored)
      |SELECT source, rk, term, c_i,
      |       CAST(z_micro AS DOUBLE) / 1000000.0 AS z
      |FROM ranked WHERE rk <= 10 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // q_mann_whitney — Mann–Whitney U (with the exact tie convention)
  // between every source pair over the per-document token-length
  // distribution, emitted as the common-language effect size
  // AUC = U/(n_a·n_b) = P(len_a < len_b) + ½P(len_a = len_b)
  // (AUC > ½ ⇒ src_b runs longer). The
  // rank-based LOCATION-shift companion to q_ks_test's sup-distance:
  // KS asks "are these distributions different anywhere", U asks
  // "which source runs longer, and by how much" — the pair every
  // drift dashboard shows together.
  //
  // Exactness: U is computed from counts on the shared support, not
  // per-row ranks — 2U_ab = Σ_x c_b(x)·(2·below_a(x) + c_a(x)) with
  // below_a(x) = cum_a(x) − c_a(x) — so 2U is an exact BIGINT (the ½
  // tie credit stays integral) and AUC is one IEEE division of
  // identical integers on both engines. No snapping.
  //
  // Scale shape: the q_ks_test funnel verbatim — one (source, x)
  // partial-agg shuffle, a support-bounded CDF grid, pair fan-out
  // grid × sources² into a sources²-row aggregate. For a continuous
  // metric at 100 TB you'd quantile-bucket x first.
  // ------------------------------------------------------------------
  val qMannWhitney: Q = (s, d) => mannWhitney(Tables.documents(s, d))

  /** Core of q_mann_whitney over any (source, text) frame. */
  def mannWhitney(docs: DataFrame): DataFrame = {
    val lens = docs
      .select(col("source"), size(Ops.tokens(col("text"))).cast("bigint")
                .as("x"))
      .groupBy(col("source"), col("x")).agg(count(lit(1)).as("c"))
    val grid = lens.select(col("x")).distinct()
    val totals = lens.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val cells = grid.crossJoin(totals)
      .join(lens, Seq("source", "x"), "left")
      .select(col("source"), col("x"), col("n"),
              coalesce(col("c"), lit(0L)).as("c"))
    val w = Window.partitionBy(col("source")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cdf = cells.withColumn("cum", sum(col("c")).over(w))
    val a = cdf.select(col("x"), col("source").as("src_a"),
                       col("c").as("c_a"), col("cum").as("cum_a"),
                       col("n").as("n_a"))
    val b = cdf.select(col("x"), col("source").as("src_b"),
                       col("c").as("c_b"), col("n").as("n_b"))
    a.join(b, Seq("x"))
      .filter(col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
              (col("c_b") * (lit(2L) * (col("cum_a") - col("c_a"))
                               + col("c_a"))).as("t"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
           sum(col("t")).as("u2"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
              col("u2"),
              (col("u2").cast("double")
                 / (lit(2L) * col("n_a") * col("n_b")).cast("double"))
                .as("auc"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val qMannWhitneySql: String =
    """WITH lens AS (
      |  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS x,
      |         count(*) AS c
      |  FROM documents GROUP BY 1, 2),
      |grid AS (SELECT DISTINCT x FROM lens),
      |totals AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n
      |           FROM lens GROUP BY 1),
      |cells AS (
      |  SELECT t.source, g.x, t.n, COALESCE(l.c, 0) AS c
      |  FROM grid g CROSS JOIN totals t
      |  LEFT JOIN lens l ON l.source = t.source AND l.x = g.x),
      |cdf AS (
      |  SELECT source, x, n, c,
      |         SUM(c) OVER (PARTITION BY source ORDER BY x
      |                      ROWS BETWEEN UNBOUNDED PRECEDING
      |                      AND CURRENT ROW) AS cum
      |  FROM cells),
      |pairs AS (
      |  SELECT a.source AS src_a, b.source AS src_b,
      |         a.n AS n_a, b.n AS n_b,
      |         b.c * (2 * (a.cum - a.c) + a.c) AS t
      |  FROM cdf a JOIN cdf b ON a.x = b.x AND a.source < b.source)
      |SELECT src_a, src_b,
      |       CAST(MAX(n_a) AS BIGINT) AS n_a,
      |       CAST(MAX(n_b) AS BIGINT) AS n_b,
      |       CAST(SUM(t) AS BIGINT) AS u2,
      |       CAST(SUM(t) AS DOUBLE)
      |         / CAST(2 * MAX(n_a) * MAX(n_b) AS DOUBLE) AS auc
      |FROM pairs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val qKsTestSql: String =
    """WITH lens AS (
      |  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS x,
      |         count(*) AS c
      |  FROM documents GROUP BY 1, 2),
      |grid AS (SELECT DISTINCT x FROM lens),
      |totals AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n
      |           FROM lens GROUP BY 1),
      |cells AS (
      |  SELECT t.source, g.x, t.n, COALESCE(l.c, 0) AS c
      |  FROM grid g CROSS JOIN totals t
      |  LEFT JOIN lens l ON l.source = t.source AND l.x = g.x),
      |cdf AS (
      |  SELECT source, x, n,
      |         SUM(c) OVER (PARTITION BY source ORDER BY x
      |                      ROWS BETWEEN UNBOUNDED PRECEDING
      |                      AND CURRENT ROW) AS cum
      |  FROM cells)
      |SELECT a.source AS src_a, b.source AS src_b,
      |       CAST(MAX(a.n) AS BIGINT) AS n_a, CAST(MAX(b.n) AS BIGINT) AS n_b,
      |       MAX(abs(CAST(a.cum AS DOUBLE) / CAST(a.n AS DOUBLE)
      |               - CAST(b.cum AS DOUBLE) / CAST(b.n AS DOUBLE)))
      |         AS d_stat
      |FROM cdf a JOIN cdf b ON a.x = b.x AND a.source < b.source
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // q_bigram_logprob — interpolated BIGRAM language-model scoring, the
  // model-based quality filter of CCNet-style pipelines (their KenLM
  // perplexity gate, at bigram order): every document's mean
  // ln P(w_i | w_{i-1}) under λ·MLE_bigram + (1−λ)·add-1-unigram
  // backoff, with λ = 4/5. Complements q_unigram_logprob (word
  // rarity) with CONTEXT fit — word-salad text scores low here even
  // when its individual words are common.
  //
  // Exactness: with λ = 4/5 the interpolated probability is the exact
  // rational (4·c_bg·(N+V) + c_left·(c_uni+1)) / (5·c_left·(N+V));
  // numerator and denominator are computed as DOUBLES with identical
  // association on both engines (IEEE ops are deterministic; pure
  // BIGINT products would overflow at web-corpus counts), each
  // per-bigram-TYPE term ln(num)−ln(den) snaps to integer micro-units,
  // and per-doc sums weight by the (doc, bigram) multiplicity — the
  // unigram-logprob discipline, so sums are order-free BIGINTs at any
  // parallelism.
  //
  // Scale shape: bigram occurrences collapse to (doc, prev, cur)
  // multiplicities in the first partial-agg shuffle; the corpus bigram
  // table, left-context table, and unigram table are all
  // vocabulary-bounded aggregates of it; scoring is one join pipeline
  // back onto the pair table plus a 1-row totals crossJoin.
  // ------------------------------------------------------------------
  val qBigramLogprob: Q = (s, d) => bigramLogprob(Tables.documents(s, d))

  /** Core of q_bigram_logprob over any (doc_id, text) frame. */
  def bigramLogprob(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), Ops.tokens(col("text")).as("t"))
    // The (doc, bigram) pair table and all three model joins ship 8-byte
    // xxhash64 DIGEST keys, never bigram text — the dupSpanMass
    // discipline: outputs are gram-free doc scores, so the text-keyed
    // oracle is untouched, and a 64-bit collision (~n²/2⁶⁵, immaterial
    // below ~10⁹ distinct bigrams) would merge two counts. On the
    // 30×-diverse stress corpus this is the difference between
    // shuffling short strings thrice and shuffling fixed 24 bytes.
    val perDoc = toks.filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(slice(t, 1, size(t) - 1),
          |          (x, i) -> struct(x AS prev, element_at(t, i + 2)
          |                           AS cur))""".stripMargin)).as("p"))
      .select(col("doc_id"),
              xxhash64(col("p.prev")).as("hp"),
              xxhash64(col("p.cur")).as("hc"),
              xxhash64(col("p.prev"), col("p.cur")).as("hb"))
      .groupBy(col("doc_id"), col("hb"), col("hp"), col("hc"))
      .agg(count(lit(1)).as("m"))
    val cbg = perDoc.groupBy(col("hb")).agg(sum(col("m")).as("c_bg"))
    // c_left(prev) = occurrences of prev as a left context — summing
    // the pair-table multiplicities per hp equals summing c_bg over
    // the prev's bigram types.
    val cleft = perDoc.groupBy(col("hp")).agg(sum(col("m")).as("c_left"))
    val uni = docs.select(explode(Ops.tokens(col("text"))).as("w"))
      .select(xxhash64(col("w")).as("hc"))
      .groupBy(col("hc")).agg(count(lit(1)).as("c_uni"))
    val totals = uni.agg(sum(col("c_uni")).as("n_total"),
                         count(lit(1)).as("vocab"))
    val nv = (col("n_total") + col("vocab")).cast("double")
    val num = lit(4.0) * col("c_bg").cast("double") * nv +
      col("c_left").cast("double") * (col("c_uni").cast("double") + lit(1.0))
    val den = lit(5.0) * col("c_left").cast("double") * nv
    val scored = perDoc
      .join(cbg, Seq("hb"))
      .join(cleft, Seq("hp"))
      .join(uni, Seq("hc"))
      .crossJoin(totals)
      .select(col("doc_id"), col("m"),
              round((log(num) - log(den)) * 1e6).cast("long").as("u"))
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_bigrams"),
           sum(col("m") * col("u")).as("sum_u"))
    // The mean is emitted UNROUNDED: sum_u and n_bigrams are identical
    // BIGINTs on both engines, so the two IEEE divisions produce
    // bit-identical doubles — while a cosmetic round(x, 6) would
    // DIVERGE whenever the mean lands on a half boundary (Spark's
    // BigDecimal HALF_UP vs DuckDB's double rounding disagreed on
    // -3.4005105 at sf0.1). Exact beats pretty.
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
              coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
              coalesce((col("sum_u").cast("double") / 1e6)
                         / col("n_bigrams").cast("double"),
                       lit(0.0)).as("mean_logprob"))
    // No final orderBy: O(docs) output; the gate sorts rows.
  }

  /** Shared CTE prefix of the bigram-LM oracle: builds `scored(doc_id,
    * n_bigrams, sum_u)` — reused verbatim by q_perplexity_buckets so the
    * two oracles can never disagree on a doc's LM score.
    */
  private val bigramCteSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
      |              FROM documents),
      |perdoc AS (
      |  SELECT doc_id, prev, cur, count(*) AS m FROM (
      |    SELECT doc_id, t[i] AS prev, t[i + 1] AS cur
      |    FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
      |          FROM toks WHERE len(t) >= 2))
      |  GROUP BY 1, 2, 3),
      |cbg AS (SELECT prev, cur, CAST(SUM(m) AS BIGINT) AS c_bg
      |        FROM perdoc GROUP BY 1, 2),
      |cleft AS (SELECT prev, CAST(SUM(c_bg) AS BIGINT) AS c_left
      |          FROM cbg GROUP BY 1),
      |uni AS (
      |  SELECT cur, count(*) AS c_uni
      |  FROM (SELECT unnest(string_split(text, ' ')) AS cur FROM documents)
      |  GROUP BY 1),
      |tot AS (SELECT CAST(SUM(c_uni) AS BIGINT) AS n_total,
      |               count(*) AS vocab FROM uni),
      |scored AS (
      |  SELECT p.doc_id, CAST(SUM(p.m) AS BIGINT) AS n_bigrams,
      |         SUM(p.m * CAST(round(
      |           (ln(4.0 * c_bg * (n_total + vocab)
      |               + c_left * (c_uni + 1.0))
      |            - ln(5.0 * c_left * (n_total + vocab)))
      |           * 1000000.0, 0) AS BIGINT)) AS sum_u
      |  FROM perdoc p
      |  JOIN cbg USING (prev, cur) JOIN cleft USING (prev)
      |  JOIN uni ON uni.cur = p.cur CROSS JOIN tot
      |  GROUP BY 1),
      |docscore AS (
      |  SELECT d.doc_id, COALESCE(s.n_bigrams, 0) AS n_bigrams,
      |         COALESCE(CAST(s.sum_u AS DOUBLE) / 1000000.0
      |                    / CAST(s.n_bigrams AS DOUBLE), 0.0) AS mean_logprob
      |  FROM (SELECT doc_id FROM documents) d
      |  LEFT JOIN scored s USING (doc_id))""".stripMargin

  val qBigramLogprobSql: String =
    s"""$bigramCteSql
       |SELECT doc_id, n_bigrams, mean_logprob
       |FROM docscore""".stripMargin

  // ------------------------------------------------------------------
  // q_perplexity_buckets — CCNet-style head/middle/tail corpus split by
  // LM fit: every document scored by the interpolated bigram LM
  // (q_bigram_logprob's exact machinery, shared code path), then cut
  // into three buckets at the empirical tertiles of the score
  // distribution; output is per-(bucket, source) doc and bigram-token
  // mass — the report a pipeline reads before keeping "head" for
  // training (CCNet keeps low-perplexity text; 1_head = highest mean
  // log-probability here).
  //
  // Scale-shaped tertiles: a global NTILE(3) would shuffle every doc to
  // ONE window task — the all-rows-to-one-partition shape this repo
  // bans. Instead scores snap to 1e-3 quanta (BIGINT qs), a
  // partial-aggregated histogram over qs is built — bounded by the
  // score RANGE × granularity (mean ln-probabilities live in
  // [-ln(5(N+V)), 0], so ≲ 3·10⁴ rows at ANY corpus size), the
  // cumulative count runs over that bounded histogram (non-foldable
  // constant partition key, the q_textrank pattern), and the two cut
  // ranks come back as a 1-row crossJoin. Threshold ties all land on
  // the same side — deterministic in both engines; bucket sizes are
  // within one tie-class of exact tertiles. Rank boundaries are pure
  // integers: r1 = ⌈N/3⌉, r2 = ⌈2N/3⌉.
  // ------------------------------------------------------------------
  val qPerplexityBuckets: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    // scored feeds both the histogram and the final bucket assignment —
    // persist so the three-model-join LM pipeline runs once (the
    // qBm25Mlt discipline).
    val scored = bigramLogprob(docs)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .withColumn("qs", round(col("mean_logprob") * 1000.0, 0).cast("long"))
      .transform(graft.PlanMode.checkpointTail)
    val hist = scored.groupBy(col("qs")).agg(count(lit(1)).as("n"))
    val cumW = org.apache.spark.sql.expressions.Window
      .partitionBy(substring(col("qs").cast("string"), 1, 0))
      .orderBy(col("qs").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
                   org.apache.spark.sql.expressions.Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("n")).over(cumW))
    val tot = hist.agg(sum(col("n")).as("n_docs_total"))
    // t_k = max{ qs : |{docs with score ≥ qs}| ≥ r_k } — 1-row bounds.
    val cuts = cum.crossJoin(tot)
      .agg(max(when(col("cum") >= expr("(n_docs_total + 2) div 3"),
                    col("qs"))).as("t1"),
           max(when(col("cum") >= expr("(2 * n_docs_total + 2) div 3"),
                    col("qs"))).as("t2"))
    scored.crossJoin(cuts)
      .withColumn("bucket",
        when(col("qs") >= col("t1"), lit("1_head"))
          .when(col("qs") >= col("t2"), lit("2_middle"))
          .otherwise(lit("3_tail")))
      .groupBy(col("bucket"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_bigrams")).as("n_bigrams"))
      .orderBy(col("bucket"), col("source"))
  }

  val qPerplexityBucketsSql: String =
    s"""$bigramCteSql,
       |docsc AS (
       |  SELECT p.doc_id, p.n_bigrams, d2.source,
       |         CAST(round(p.mean_logprob * 1000.0, 0) AS BIGINT) AS qs
       |  FROM docscore p JOIN documents d2 USING (doc_id)),
       |hist AS (SELECT qs, count(*) AS n FROM docsc GROUP BY 1),
       |cum AS (
       |  SELECT qs, SUM(n) OVER (ORDER BY qs DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM hist),
       |tot2 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM docsc),
       |cuts AS (
       |  SELECT max(CASE WHEN c.cum >= (t.n + 2) // 3 THEN c.qs END) AS t1,
       |         max(CASE WHEN c.cum >= (2 * t.n + 2) // 3 THEN c.qs END) AS t2
       |  FROM cum c CROSS JOIN tot2 t)
       |SELECT CASE WHEN d.qs >= c.t1 THEN '1_head'
       |            WHEN d.qs >= c.t2 THEN '2_middle'
       |            ELSE '3_tail' END AS bucket,
       |       d.source, count(*) AS n_docs,
       |       CAST(SUM(d.n_bigrams) AS BIGINT) AS n_bigrams
       |FROM docsc d CROSS JOIN cuts c
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // q_bpe_merges — LEARNED subword tokenizer training: the classic BPE
  // merge loop (Sennrich-style) over corpus word frequencies. Words are
  // carried as '|'-wrapped symbol strings ("low" → "|l|o|w|"); each
  // iteration counts adjacent symbol pairs weighted by word frequency,
  // takes the GLOBAL top pair under a deterministic total order
  // (count desc, left asc, right asc), and applies the merge everywhere
  // via plain left-to-right non-overlapping string replace — the same
  // primitive (`replace`) with the same scan semantics in Spark and
  // DuckDB, so the learned merge table hash-matches an oracle of
  // NumMerges unrolled CTE stages (the Lloyd-funnel discipline).
  //
  // Scale shape: ONE corpus-wide shuffle builds the word-frequency
  // table (bounded by the language's vocabulary, not the corpus); every
  // iteration after that is a partial-aggregated pair count over the
  // vocab plus a 1-row ordered-limit collect (the bounded-driver-state
  // pattern the codebook trainers already use). The merge application
  // is a map — no joins, no growing shuffle. Exhaustion-safe: if no
  // pair remains before NumMerges, both engines emit the same shorter
  // table (Spark breaks; the SQL's empty CTE propagates).
  // ------------------------------------------------------------------
  val NumMerges = 20

  /** Training core over any (doc_id, text) frame — factored so specs can
    * assert exact merge tables on crafted corpora. Output:
    * (iter, left_sym, right_sym, pair_count) in learned order.
    */
  def bpeMerges(s: SparkSession, docs: DataFrame): DataFrame =
    bpeMergesVia(s, docs, BpeDriverVocabMax)

  /** [[bpeMerges]] with an explicit driver-vocab budget — `0` forces the
    * distributed loop (specs pin local == distributed on real corpora).
    */
  private[graft] def bpeMergesVia(
      s: SparkSession, docs: DataFrame, driverMax: Int): DataFrame = {
    import s.implicits._
    // The corpus is touched exactly ONCE: the word-frequency table is
    // persisted and every merge iteration runs against it (vocabulary
    // is bounded by the language, not the corpus — at 100 TB this cache
    // is the difference between 1 and NumMerges corpus scans).
    val base = docs
      .select(explode(Ops.tokens(col("text"))).as("w"))
      .filter(col("w").rlike("^[a-z]+$") && length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(concat(lit("|"), regexp_replace(col("w"), "(.)", "$1|"))
                .as("sym"),
              col("freq"))
      .persist()
    // Merge-loop dispatch. The loop's working set is the VOCABULARY —
    // language-bounded, not corpus-bounded — so when it fits the same
    // bounded-driver-state budget the side-input broadcast join already
    // assumes (TextTables' guarded collect), training runs as ONE Spark
    // job (the vocab aggregate) plus a driver-local merge loop: 20
    // serial cluster micro-jobs (whose wall time was pure scheduling
    // overhead, not compute) become zero. Java's String.replace and
    // String ordering coincide exactly with Spark's UTF8String replace
    // and binary sort on this [a-z|]-alphabet data, so the learned
    // table is bit-identical to the distributed loop (spec-pinned).
    // Oversized vocabularies (a 100 TB multi-script crawl) fall back to
    // the distributed loop unchanged.
    val rows =
      if (driverMax == 0) Array.empty[org.apache.spark.sql.Row]
      else base.limit(driverMax + 1).collect()
    if (driverMax > 0 && rows.length <= driverMax) {
      base.unpersist()
      bpeMergeLoopLocal(s, rows.map(r => (r.getString(0), r.getLong(1))))
    } else {
      // The distributed loop is NumMerges serial micro-jobs over the
      // vocab table — the AQE-off regime (no skew or partition-size
      // problem in a vocab-bounded aggregate).
      graft.PlanMode.withConfs(s, "spark.sql.adaptive.enabled" -> "false") {
        bpeMergeLoop(s, base)
      }
    }
  }

  /** Driver-vocab budget for the local merge loop: 2M symbol strings ×
    * ~40 bytes ≈ 80 MB — the same order as a broadcast side table.
    */
  val BpeDriverVocabMax = 2000000

  /** Driver-local twin of [[bpeMergeLoop]] over a collected vocabulary:
    * identical pair counting (adjacent symbols weighted by word freq),
    * identical total order (count desc, left asc, right asc — Java
    * String.compareTo == Spark's binary string sort on this alphabet),
    * identical merge application (String.replace == UTF8String.replace:
    * left-to-right, non-overlapping). Spec-pinned equal to the
    * distributed loop.
    */
  private def bpeMergeLoopLocal(
      s: SparkSession, vocab0: Array[(String, Long)]): DataFrame = {
    import s.implicits._
    var vocab = vocab0
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, Long)]
    var it = 1
    var exhausted = false
    while (it <= NumMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (sym, freq) =>
        // sym = "|s1|s2|...|sn|": adjacent symbol pairs, like the
        // distributed split('|')/sequence explode.
        val a = sym.split("\\|", -1)
        var i = 1
        while (i + 1 < a.length - 1) {
          val k = (a(i), a(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + freq
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((l, r), cnt) = counts.minBy { case ((l, r), c) => (-c, l, r) }
        merges += ((it.toLong, l, r, cnt))
        val from = s"|$l|$r|"; val to = s"|$l$r|"
        vocab = vocab.map { case (sym, freq) => (sym.replace(from, to), freq) }
        it += 1
      }
    }
    merges.toSeq
      .toDF("iter", "left_sym", "right_sym", "pair_count")
      .orderBy(col("iter"))
  }

  private def bpeMergeLoop(s: SparkSession, base0: DataFrame): DataFrame = {
    import s.implicits._
    var words: DataFrame = base0
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, Long)]
    var it = 1
    var exhausted = false
    while (it <= NumMerges && !exhausted) {
      val top = words
        .selectExpr("split(sym, '\\\\|') AS a", "freq")
        .where("size(a) >= 4")
        .selectExpr(
          "explode(transform(sequence(0, size(a) - 4), " +
            "i -> struct(a[i+1] AS l, a[i+2] AS r))) AS p",
          "freq")
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val l = top(0).getString(0); val r = top(0).getString(1)
        val cnt = top(0).getLong(2)
        merges += ((it.toLong, l, r, cnt))
        // l, r are [a-z]+ by construction — safe to inline as literals.
        // LAZY localCheckpoint per merge: the logical plan still
        // truncates to a flat LogicalRDD immediately (analysis stays
        // O(1) per round), but the blocks materialize as a side effect
        // of the NEXT round's pair-count job — one Spark job per merge
        // instead of two. (The eager variant cost a second job per
        // iteration just to write the vocab table; with a serial
        // 20-round driver loop that job overhead, not the pair count,
        // dominated q_bpe_merges' wall time. A persist() chain is NOT
        // an alternative: nested InMemoryRelations under AQE render
        // exponentially large plan descriptions by round 20.)
        words = words.withColumn(
          "sym", expr(s"replace(sym, '|$l|$r|', '|$l$r|')"))
          .localCheckpoint(false)
        it += 1
      }
    }
    base0.unpersist()
    merges.toSeq
      .toDF("iter", "left_sym", "right_sym", "pair_count")
      .orderBy(col("iter"))
  }

  val qBpeMerges: Q = (s, d) => bpeMerges(s, Tables.documents(s, d))

  /** Encode one word with a learned merge table (merges applied in
    * learned order, each via the same left-to-right non-overlapping
    * replace used in training) — the standard BPE encoder. For specs.
    */
  def bpeEncode(word: String, merges: Seq[(String, String)]): Seq[String] = {
    var sym = "|" + word.map(c => s"$c|").mkString
    for ((l, r) <- merges) sym = sym.replace(s"|$l|$r|", s"|$l$r|")
    sym.split("\\|").filter(_.nonEmpty).toSeq
  }

  /** The training CTE chain (w0 → t1/w1 → … → tN/wN), shared by the
    * q_bpe_merges and q_bpe_encode oracles. MATERIALIZED is load-bearing:
    * each stage is referenced twice, and DuckDB's default CTE inlining
    * would expand the chain exponentially.
    */
  private def bpeTrainingCtes: String = {
    val sb = new StringBuilder
    sb.append(
      """WITH w0 AS MATERIALIZED (
        |  SELECT '|' || regexp_replace(w, '(.)', '\1|', 'g') AS sym,
        |         count(*) AS freq
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE regexp_matches(w, '^[a-z]+$') AND length(w) >= 2
        |  GROUP BY 1)""".stripMargin)
    for (it <- 1 to NumMerges) {
      sb.append(s""",
        |p$it AS (
        |  SELECT p.l AS l, p.r AS r, freq FROM (
        |    SELECT unnest(list_transform(range(len(a) - 3), i ->
        |             struct_pack(l := a[CAST(i + 2 AS INT)],
        |                         r := a[CAST(i + 3 AS INT)]))) AS p,
        |           freq
        |    FROM (SELECT string_split(sym, '|') AS a, freq FROM w${it - 1}))),
        |t$it AS MATERIALIZED (
        |  SELECT l, r, CAST(sum(freq) AS BIGINT) AS cnt
        |  FROM p$it GROUP BY 1, 2
        |  ORDER BY cnt DESC, l, r LIMIT 1),
        |w$it AS MATERIALIZED (
        |  SELECT replace(sym, '|' || t.l || '|' || t.r || '|',
        |                 '|' || t.l || t.r || '|') AS sym, freq
        |  FROM w${it - 1}, t$it t)""".stripMargin)
    }
    sb.toString
  }

  val qBpeMergesSql: String =
    bpeTrainingCtes +
      (1 to NumMerges)
        .map(it =>
          s"""SELECT CAST($it AS BIGINT) AS iter, l AS left_sym,
             |       r AS right_sym, cnt AS pair_count FROM t$it""".stripMargin)
        .mkString("\n", "\nUNION ALL\n", "\nORDER BY iter")

  // ------------------------------------------------------------------
  // q_bpe_encode — the learned tokenizer APPLIED at corpus scale: every
  // document's alphabetic words are encoded with the q_bpe_merges merge
  // table (merges in learned order, same left-to-right non-overlapping
  // replace as training) and rolled up to per-doc word and subword
  // counts — learned-vocabulary token counting, the budget currency of
  // a curation pipeline (contrast q_token_count's whitespace tokens).
  //
  // Scale shape: training is the bounded loop above (vocab-sized, ≤
  // NumMerges 1-row collects); application is a pure per-row expression
  // — the ≤NumMerges merges fold into nested codegen'd replace() calls,
  // no joins, one partial-aggregated per-doc shuffle. The oracle reuses
  // the training CTE chain and applies each merge via a scalar subquery
  // (coalesce-guarded to a no-op pattern when a merge slot is empty, so
  // exhaustion degrades identically in both engines).
  // ------------------------------------------------------------------
  val qBpeEncode: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val merges = bpeMerges(s, docs)
      .select(col("left_sym"), col("right_sym")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq // ≤ NumMerges rows
    val alpha = docs
      .select(col("doc_id"), explode(Ops.tokens(col("text"))).as("w"))
      .filter(col("w").rlike("^[a-z]+$") && length(col("w")) >= 2)
    // Encode the DISTINCT vocabulary, not every token occurrence: the
    // encoder runs once per word type (language-bounded), and token
    // instances pick up their subword count through a broadcast join —
    // the same vocab-not-corpus discipline as training. The encoder is
    // the native BpeEncodeWord expression (one symbol array, one integer
    // pass per merge) — spec-pinned byte-equal to the NumMerges-deep
    // replace-chain fold it replaced, which is still what the DuckDB
    // oracle runs.
    import org.apache.spark.sql.graftshim.{BpeEncodeWord, Shim}
    val vocabEnc = alpha.select(col("w")).distinct()
      .select(col("w"),
              size(Shim.column(BpeEncodeWord(Shim.expression(col("w")),
                                             merges)))
                .cast("long").as("n_sub"))
    alpha.join(broadcast(vocabEnc), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_subwords"))
    // No final orderBy: corpus-sized output; the gate sorts rows.
  }

  /** The learned merge table applied to a word column `w` as one nested
    * replace chain over the '|'-wrapped symbol string — shared by the
    * q_bpe_encode and q_tokenizer_fertility oracles. '|#|' can never
    * occur in a '|'-wrapped [a-z]+ word, so an empty merge slot
    * coalesces to a no-op replace — same as Spark folding over
    * fewer-than-NumMerges merges.
    */
  private def bpeAppliedSql: String =
    (1 to NumMerges).foldLeft(
      "'|' || regexp_replace(w, '(.)', '\\1|', 'g')") { (inner, it) =>
      s"""replace($inner,
         |  coalesce((SELECT '|' || l || '|' || r || '|' FROM t$it), '|#|'),
         |  coalesce((SELECT '|' || l || r || '|' FROM t$it), ''))""".stripMargin
    }

  val qBpeEncodeSql: String = {
    val applied = bpeAppliedSql
    bpeTrainingCtes + s""",
      |words AS (
      |  SELECT doc_id, w
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |        FROM documents)
      |  WHERE regexp_matches(w, '^[a-z]+$$') AND length(w) >= 2),
      |venc AS (
      |  SELECT w, len(string_split($applied, '|')) - 2 AS n_sub
      |  FROM (SELECT DISTINCT w FROM words)),
      |enc AS (SELECT doc_id, n_sub FROM words JOIN venc USING (w))
      |SELECT doc_id, count(*) AS n_words,
      |       CAST(sum(n_sub) AS BIGINT) AS n_subwords
      |FROM enc GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ------------------------------------------------------------------
  // q_tokenizer_fertility — the learned tokenizer GRADED per language:
  // fertility (subwords per word) and compression (chars per subword)
  // of the q_bpe_merges merge table, broken out by lang. The number a
  // vocabulary-allocation pass reads: a language whose fertility runs
  // high is under-served by the merge table (its words shatter into
  // many subwords, inflating its sequence lengths and effective cost
  // per document) — the standard multilingual-tokenizer audit
  // (fertility per language, cf. the XLM-R/mT5 tokenizer analyses).
  //
  // Exactness: the encoder and its oracle are q_bpe_encode's verbatim
  // (native BpeEncodeWord vs the replace-chain fold, spec-pinned
  // byte-equal); everything aggregated is a BIGINT (word counts,
  // subword counts, char counts) summed order-free, and fertility /
  // chars_per_subword are single divisions of identical integers
  // rounded to 6 places on both sides.
  //
  // Scale shape: training is the bounded NumMerges loop; encoding runs
  // once per distinct word TYPE (language-bounded, not corpus-bounded)
  // and fans back to occurrences through a broadcast join; the rollup
  // is one partial-aggregated groupBy(lang) — O(langs) output rows.
  // ------------------------------------------------------------------
  val qTokenizerFertility: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val merges = bpeMerges(s, docs)
      .select(col("left_sym"), col("right_sym")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq // ≤ NumMerges rows
    val alpha = docs
      .select(col("lang"), explode(Ops.tokens(col("text"))).as("w"))
      .filter(col("w").rlike("^[a-z]+$") && length(col("w")) >= 2)
    import org.apache.spark.sql.graftshim.{BpeEncodeWord, Shim}
    val vocabEnc = alpha.select(col("w")).distinct()
      .select(col("w"),
              size(Shim.column(BpeEncodeWord(Shim.expression(col("w")),
                                             merges)))
                .cast("long").as("n_sub"),
              length(col("w")).cast("long").as("n_chars"))
    alpha.join(broadcast(vocabEnc), Seq("w"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
           sum(col("n_sub")).as("n_subwords"),
           sum(col("n_chars")).as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_subwords"), col("n_chars"),
              round(col("n_subwords").cast("double")
                      / col("n_words").cast("double"), 6).as("fertility"),
              round(col("n_chars").cast("double")
                      / col("n_subwords").cast("double"), 6)
                .as("chars_per_subword"))
      .orderBy(col("lang"))
  }

  val qTokenizerFertilitySql: String = {
    val applied = bpeAppliedSql
    bpeTrainingCtes + s""",
      |words AS (
      |  SELECT lang, w
      |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
      |        FROM documents)
      |  WHERE regexp_matches(w, '^[a-z]+$$') AND length(w) >= 2),
      |venc AS (
      |  SELECT w, len(string_split($applied, '|')) - 2 AS n_sub,
      |         CAST(length(w) AS BIGINT) AS n_chars
      |  FROM (SELECT DISTINCT w FROM words)),
      |enc AS (SELECT lang, n_sub, n_chars FROM words JOIN venc USING (w))
      |SELECT lang, count(*) AS n_words,
      |       CAST(sum(n_sub) AS BIGINT) AS n_subwords,
      |       CAST(sum(n_chars) AS BIGINT) AS n_chars,
      |       ROUND(CAST(sum(n_sub) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
      |         AS fertility,
      |       ROUND(CAST(sum(n_chars) AS DOUBLE) / CAST(sum(n_sub) AS DOUBLE),
      |             6) AS chars_per_subword
      |FROM enc GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ------------------------------------------------------------------
  // q_dsir_score — DSIR-style data selection (Xie et al. 2023,
  // "Data Selection for Language Models via Importance Resampling"):
  // score every document by the log importance ratio of a TARGET
  // unigram bag-of-words LM over the RAW-corpus LM, then deterministically
  // select the top DsirSelectK. Target here = the lang='en' slice (the
  // stand-in for "looks like the high-quality target distribution");
  // both LMs are add-1 smoothed over the SHARED raw vocabulary, so
  // unseen-in-target terms contribute ln(1) - ln(cnt_raw + 1) < 0.
  //
  // Exactness: per-term ln values are snapped to integer micro-units and
  // weighted by the per-(doc, term) multiplicity (the unigram-logprob
  // discipline — order-free BIGINT sums at any parallelism); the
  // smoothing-denominator shift ln(N_t + V) - ln(N_r + V) is a per-token
  // constant and moves outside the sum. Selection ranks by the exact
  // integer pair (sum_u, n_toks) via one double division of identical
  // ints on both engines, ties by doc_id.
  //
  // Scale shape: token occurrences collapse to (doc, term) pairs in the
  // first partial-aggregated shuffle; both LM tables are vocab-bounded;
  // the top-K cut is orderBy().limit() → TakeOrderedAndProject, so only
  // ≤ DsirSelectK rows per partition cross the shuffle.
  // ------------------------------------------------------------------
  val DsirTargetLang = "en"
  val DsirSelectK = 100

  val qDsirScore: Q = (s, d) => dsirScore(Tables.documents(s, d))

  /** Core of q_dsir_score over any (doc_id, lang, text) frame — split
    * out so specs can run crafted corpora with known target slices.
    */
  def dsirScore(docs: DataFrame): DataFrame = {
    // The pair table feeds BOTH LM builds and the scoring join — persist
    // it, or each consumer re-scans and re-explodes the corpus
    // (ReuseExchange does not reliably unify the three subtrees; the
    // unpersisted plan audited at 8 corpus scans).
    val perDoc = docs
      .select(col("doc_id"), col("lang"),
              explode(Ops.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("lang"), col("term"))
      .agg(count(lit(1)).as("m"))
      .transform(graft.PlanMode.checkpointTail)
    // ONE aggregation builds both LMs (raw + target-slice counts as two
    // sums over the same pairs) — half the shuffles of the
    // two-tables-plus-left-join formulation, identical values.
    val tf = perDoc.groupBy(col("term"))
      .agg(sum(col("m")).as("cnt_raw"),
           sum(when(col("lang") === DsirTargetLang, col("m"))
                 .otherwise(0L)).as("cnt_tgt"))
    val totals = tf.agg(sum(col("cnt_raw")).as("n_raw"),
                        sum(col("cnt_tgt")).as("n_tgt"),
                        count(lit(1)).as("vocab"))
    val scored = perDoc.join(tf, Seq("term"))
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_toks"),
           sum(col("m") *
               (round(log(col("cnt_tgt").cast("double") + 1.0) * 1e6)
                  .cast("long") -
                round(log(col("cnt_raw").cast("double") + 1.0) * 1e6)
                  .cast("long"))).as("sum_u"))
    // Selection cut = orderBy().limit() → TakeOrderedAndProject: each
    // partition forwards its own top-K, so ≤ DsirSelectK rows per
    // partition cross the wire — never the corpus-cardinality global
    // sort a constant-group row_number window would shuffle to one task.
    val sel = scored
      .orderBy(
        (-(col("sum_u").cast("double") / col("n_toks").cast("double"))).asc,
        col("doc_id").asc)
      .limit(DsirSelectK)
      .select(col("doc_id"), lit(1L).as("selflag"))
    val out = scored.join(sel, Seq("doc_id"), "left")
      .crossJoin(totals)
      .select(col("doc_id"), col("n_toks"),
              round((col("sum_u").cast("double") / 1e6)
                      / col("n_toks").cast("double")
                    - log(col("n_tgt").cast("double")
                            + col("vocab").cast("double"))
                    + log(col("n_raw").cast("double")
                            + col("vocab").cast("double")), 6)
                .as("dsir_score"),
              coalesce(col("selflag"), lit(0L)).as("is_selected"))
      // No final orderBy: corpus-sized output; the gate sorts rows.
    out
  }

  val qDsirScoreSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
       |  FROM documents),
       |per_doc AS (
       |  SELECT doc_id, term, COUNT(*) AS m FROM tok GROUP BY 1, 2),
       |raw_tf AS (SELECT term, COUNT(*) AS cnt_raw FROM tok GROUP BY 1),
       |tgt_tf AS (SELECT term, COUNT(*) AS cnt_tgt FROM tok
       |           WHERE lang = '$DsirTargetLang' GROUP BY 1),
       |tf AS (
       |  SELECT r.term, r.cnt_raw, COALESCE(t.cnt_tgt, 0) AS cnt_tgt
       |  FROM raw_tf r LEFT JOIN tgt_tf t USING (term)),
       |tot AS (
       |  SELECT CAST(SUM(cnt_raw) AS BIGINT) AS n_raw,
       |         CAST(SUM(cnt_tgt) AS BIGINT) AS n_tgt,
       |         CAST(COUNT(*) AS BIGINT) AS vocab
       |  FROM tf),
       |sc AS (
       |  SELECT p.doc_id, CAST(SUM(p.m) AS BIGINT) AS n_toks,
       |         CAST(SUM(p.m *
       |           (CAST(round(ln(CAST(tf.cnt_tgt AS DOUBLE) + 1.0) * 1000000.0, 0) AS BIGINT)
       |          - CAST(round(ln(CAST(tf.cnt_raw AS DOUBLE) + 1.0) * 1000000.0, 0) AS BIGINT)))
       |           AS BIGINT) AS sum_u
       |  FROM per_doc p JOIN tf USING (term) GROUP BY 1),
       |ranked AS (
       |  SELECT *, row_number() OVER (ORDER BY
       |           CAST(sum_u AS DOUBLE) / CAST(n_toks AS DOUBLE) DESC,
       |           doc_id) AS rnk
       |  FROM sc)
       |SELECT doc_id, n_toks,
       |       round((CAST(sum_u AS DOUBLE) / 1000000.0)
       |               / CAST(n_toks AS DOUBLE)
       |             - ln(CAST(n_tgt + vocab AS DOUBLE))
       |             + ln(CAST(n_raw + vocab AS DOUBLE)), 6) AS dsir_score,
       |       CAST(CASE WHEN rnk <= $DsirSelectK THEN 1 ELSE 0 END AS BIGINT)
       |         AS is_selected
       |FROM ranked CROSS JOIN tot ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  // q_bm25_mlt — BM25 "more-like-this" retrieval (Robertson k1/b), the
  // LEXICAL complement of the embedding ANN family: for each of the
  // first Bm25NumQueries documents, take its Bm25QueryTerms
  // characteristic terms (df asc, tf desc, term asc — ALL-INTEGER
  // ranking, no log whose last ulp could flip a rank; selectivity-first
  // is Lucene MoreLikeThis's bias and keeps the postings join small) and
  // retrieve the
  // top Bm25TopK other documents by BM25 over those terms.
  //
  // Exactness: idf and the tf saturation are IEEE doubles derived from
  // identical integers with identically-shaped expressions on both
  // engines; each (query, doc, term) contribution is snapped to integer
  // micro-units BEFORE the per-doc sum (order-free BIGINT at any
  // parallelism — the unigram-logprob discipline), and the final
  // ranking key is (score_u desc, doc_id asc), pure integers.
  //
  // Scale shape: the score join is query-terms × postings — the
  // inverted-index traversal a real BM25 engine does, with per-query
  // cost proportional to the chosen terms' document frequencies (the
  // df-asc tiebreak biases selection toward SELECTIVE terms, which is
  // both better retrieval and smaller postings). The per-doc pair table
  // is persisted once and feeds df/dl/query-selection/scoring.
  // ------------------------------------------------------------------
  val Bm25NumQueries = 10
  val Bm25QueryTerms = 3
  val Bm25TopK = 5

  val qBm25Mlt: Q = (s, d) => {
    val perDoc = Tables.documents(s, d)
      .select(col("doc_id"), explode(Ops.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .transform(graft.PlanMode.checkpointTail)
    val dfreq = perDoc.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val dl = perDoc.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val stats = perDoc.agg(count_distinct(col("doc_id")).as("n_docs"),
                           sum(col("tf")).as("total_toks"))
    val qw = Window.partitionBy(col("qid"))
      .orderBy(col("df").asc, col("tf").desc, col("term").asc)
    val qterms = perDoc.filter(col("doc_id") < Bm25NumQueries)
      .join(dfreq, Seq("term"))
      .select(col("doc_id").as("qid"), col("term"), col("tf"), col("df"))
      .withColumn("tr", row_number().over(qw))
      .filter(col("tr") <= Bm25QueryTerms)
      .select(col("qid"), col("term"))
    val xd = (c: Column) => c.cast("double")
    val scored = qterms
      .join(perDoc, Seq("term"))
      .filter(col("doc_id") =!= col("qid"))
      .join(dfreq, Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(stats) // 1-row global stats — bounded by construction
      .withColumn("avgdl", xd(col("total_toks")) / xd(col("n_docs")))
      .withColumn("idf",
        log((xd(col("n_docs")) - xd(col("df")) + 0.5) /
            (xd(col("df")) + 0.5)))
      .withColumn("tfpart",
        (xd(col("tf")) * 2.2) /
          (xd(col("tf")) +
           lit(1.2) * (lit(1.0) - 0.75 + lit(0.75) * xd(col("dl"))
                         / col("avgdl"))))
      .withColumn("c_u",
        round(col("idf") * col("tfpart") * 1e6).cast("long"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(count(lit(1)).as("n_match"), sum(col("c_u")).as("score_u"))
    val out = Ops.topKPerGroup(scored, Seq("qid"), -col("score_u"),
                               col("doc_id"), Bm25TopK)
      .select(col("qid"), col("rn"), col("doc_id"), col("n_match"),
              round(col("score_u").cast("double") / 1e6, 6).as("bm25"))
      .orderBy(col("qid"), col("rn"))
    out
  }

  /** The BM25 pipeline as bare CTEs (ending at `ranked`), shared by
    * q_bm25_mlt's oracle and q_hybrid_search's (Similarity) — one
    * definition so the lexical ranks can never drift between the two.
    */
  val bm25CtesSql: String =
    s"""per_doc AS (
       |  SELECT doc_id, term, COUNT(*) AS tf
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |        FROM documents)
       |  GROUP BY 1, 2),
       |dfreq AS (SELECT term, COUNT(*) AS df FROM per_doc GROUP BY 1),
       |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
       |       FROM per_doc GROUP BY 1),
       |stats AS (
       |  SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |         CAST(SUM(tf) AS BIGINT) AS total_toks
       |  FROM per_doc),
       |qterms AS (
       |  SELECT qid, term FROM (
       |    SELECT p.doc_id AS qid, p.term,
       |           row_number() OVER (PARTITION BY p.doc_id
       |             ORDER BY f.df ASC, p.tf DESC, p.term ASC) AS tr
       |    FROM per_doc p JOIN dfreq f USING (term)
       |    WHERE p.doc_id < $Bm25NumQueries)
       |  WHERE tr <= $Bm25QueryTerms),
       |scored AS (
       |  SELECT q.qid, p.doc_id,
       |         COUNT(*) AS n_match,
       |         CAST(SUM(CAST(round(
       |           ln((CAST(s.n_docs AS DOUBLE) - CAST(f.df AS DOUBLE) + 0.5)
       |              / (CAST(f.df AS DOUBLE) + 0.5))
       |           * ((CAST(p.tf AS DOUBLE) * 2.2)
       |              / (CAST(p.tf AS DOUBLE)
       |                 + 1.2 * (1.0 - 0.75 + 0.75 * CAST(l.dl AS DOUBLE)
       |                            / (CAST(s.total_toks AS DOUBLE)
       |                               / CAST(s.n_docs AS DOUBLE)))))
       |           * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS score_u
       |  FROM qterms q
       |  JOIN per_doc p USING (term)
       |  JOIN dfreq f USING (term)
       |  JOIN dl l ON l.doc_id = p.doc_id
       |  CROSS JOIN stats s
       |  WHERE p.doc_id <> q.qid
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT qid, doc_id, n_match, score_u,
       |         CAST(row_number() OVER (PARTITION BY qid
       |           ORDER BY score_u DESC, doc_id ASC) AS BIGINT) AS rn
       |  FROM scored)""".stripMargin

  val qBm25MltSql: String =
    s"""WITH $bm25CtesSql
       |SELECT qid, rn, doc_id, n_match,
       |       round(CAST(score_u AS DOUBLE) / 1000000.0, 6) AS bm25
       |FROM ranked WHERE rn <= $Bm25TopK
       |ORDER BY qid, rn""".stripMargin

  // ------------------------------------------------------------------
  // q_paragraph_dedup — CCNet-style FIRST-SEEN-WINS paragraph dedup:
  // segment every document (the boilerplate segmentation, shared
  // constants), keep each distinct segment's FIRST occurrence in
  // (doc_id, seg) order, drop every later copy — including repeats
  // inside one document — and reconstruct the deduplicated text. The
  // complement of q_boilerplate's df-threshold rule (which drops ALL
  // copies of a hot segment): here exactly one copy of every segment
  // survives corpus-wide, the semantics CCNet's paragraph-hash dedup
  // ships for its wiki corpus.
  //
  // Scale shape: one partial-aggregated shuffle finds each segment's
  // min (doc_id, seg) — a struct-min, order-free — and one equi-join
  // back marks survivors; reconstruction is a per-doc sorted
  // collect_list. No pairwise work anywhere; segment keys can ride a
  // digest at cluster scale exactly like the span ops.
  // ------------------------------------------------------------------
  val qParagraphDedup: Q = (s, d) => paragraphDedup(Tables.documents(s, d))

  /** Core of q_paragraph_dedup over any (doc_id, text) frame. */
  def paragraphDedup(docs: DataFrame): DataFrame = {
    val segs = segments(docs)
    val base = docSegCounts(docs)
    val winners = segs.groupBy(col("segtext"))
      .agg(min(struct(col("doc_id"), col("seg"))).as("w"))
      .select(col("segtext"), col("w.doc_id").as("wdoc"),
              col("w.seg").as("wseg"))
    val kept = segs.join(winners, Seq("segtext"))
      .filter(col("doc_id") === col("wdoc") && col("seg") === col("wseg"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
           array_join(
             transform(array_sort(collect_list(struct(col("seg"),
                                                      col("segtext")))),
                       x => x.getField("segtext")), " ").as("kept_text"))
    base.select(col("doc_id"), col("n_segs"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_segs"),
              coalesce(col("n_kept"), lit(0L)).as("n_kept"),
              round(lit(1.0) - coalesce(col("n_kept"), lit(0L)).cast("double")
                      / col("n_segs").cast("double"), 6).as("removed_frac"),
              coalesce(col("kept_text"), lit("")).as("kept_text"))
      // No final orderBy: corpus-sized output; the gate sorts rows.
  }

  val qParagraphDedupSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |base AS (
       |  SELECT doc_id, toks,
       |         CAST((len(toks) + ${BoilerSegWords - 1}) // $BoilerSegWords
       |              AS BIGINT) AS n_segs
       |  FROM t),
       |pos AS (
       |  SELECT doc_id, n_segs, toks, unnest(range(0, n_segs)) AS seg
       |  FROM base),
       |segs AS (
       |  SELECT doc_id, n_segs, CAST(seg AS BIGINT) AS seg,
       |         array_to_string(list_slice(toks, seg * $BoilerSegWords + 1,
       |                                    (seg + 1) * $BoilerSegWords),
       |                         ' ') AS segtext
       |  FROM pos),
       |firsts AS (
       |  SELECT doc_id, seg, segtext,
       |         row_number() OVER (PARTITION BY segtext
       |                            ORDER BY doc_id, seg) AS occ
       |  FROM segs),
       |kept AS (
       |  SELECT doc_id, COUNT(*) AS n_kept,
       |         string_agg(segtext, ' ' ORDER BY seg) AS kept_text
       |  FROM firsts WHERE occ = 1 GROUP BY 1)
       |SELECT b.doc_id, b.n_segs,
       |       CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
       |       round(1.0 - CAST(COALESCE(k.n_kept, 0) AS DOUBLE)
       |                     / CAST(b.n_segs AS DOUBLE), 6) AS removed_frac,
       |       COALESCE(k.kept_text, '') AS kept_text
       |FROM base b LEFT JOIN kept k USING (doc_id)
       |ORDER BY b.doc_id""".stripMargin

  // ------------------------------------------------------------------
  // q_textrank — TextRank keyword extraction (Mihalcea & Tarau 2004):
  // PageRank over the token co-occurrence graph. Vertices are alpha
  // words (the BPE filter), edges join ADJACENT words within a document
  // (undirected, weight = corpus-wide adjacency count), and TrIters
  // damped power iterations rank every word; the top TrTopK are the
  // corpus keywords.
  //
  // The entire iteration is INTEGER arithmetic — no doubles anywhere:
  // ranks live in micro-units (r0 = 1e6), each edge contributes
  // (r_u * w_uv) div wdeg_u (exact BIGINT division, same `div`/`//`
  // semantics both engines), and damping is (85 * sum) div 100. So the
  // fixpoint is bit-exact at any parallelism and the oracle is TrIters
  // unrolled MATERIALIZED CTEs (the Lloyd-funnel discipline).
  //
  // Scale shape: the graph is VOCABULARY-bounded (distinct adjacent
  // word pairs), not corpus-bounded — edge building is one partial-agg
  // shuffle over exploded bigrams; each iteration is one equi-join +
  // partial-agg sum over the bounded adjacency list; the top-K cut is
  // orderBy().limit() → TakeOrderedAndProject (≤ TrTopK rows per
  // partition through the shuffle). Fixed iteration count means the
  // whole query is one lazy plan — zero driver round-trips.
  // ------------------------------------------------------------------
  val TrIters = 3
  val TrTopK = 25

  val qTextrank: Q = (s, d) => textrank(Tables.documents(s, d))

  /** Core of q_textrank over any (doc_id, text) frame. */
  def textrank(docs: DataFrame): DataFrame = {
    // spreadScan (round 16): the single-file test inputs give the
    // tokenize+explode map stage ONE task (profiled: 2× ~0.4 s serial
    // stages at sf0.1 while 31 cores idle); the guarded spread fans it
    // to defaultParallelism and no-ops on any real multi-split input.
    val edges = Ops.spreadScan(docs.select(col("text")))
      .select(filter(Ops.tokens(col("text")),
                     w => w.rlike("^[a-z]+$") && length(w) >= 2).as("arr"))
      .select(explode(expr(
        """transform(slice(arr, 1, greatest(size(arr) - 1, 0)),
          |          (x, i) -> struct(x AS wa, element_at(arr, i + 2) AS wb))"""
          .stripMargin)).as("e"))
      .select(col("e.wa").as("wa"), col("e.wb").as("wb"))
      .filter(col("wa") =!= col("wb"))
      .select(least(col("wa"), col("wb")).as("a"),
              greatest(col("wa"), col("wb")).as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("w"))
    val deg = edges.select(col("a").as("u"), col("w"))
      .unionAll(edges.select(col("b").as("u"), col("w")))
      .groupBy(col("u")).agg(sum(col("w")).as("wdeg"))
    val adj = graft.PlanMode.checkpointTail(
      edges.select(col("a").as("u"), col("b").as("v"), col("w"))
        .unionAll(edges.select(col("b").as("u"), col("a").as("v"), col("w")))
        .join(deg, Seq("u")))
    var r = adj.select(col("u")).distinct()
      .select(col("u"), lit(1000000L).as("r"))
    for (_ <- 1 to TrIters) {
      r = adj.join(r, Seq("u"))
        .select(col("v"), expr("(r * w) div wdeg").as("c"))
        .groupBy(col("v")).agg(sum(col("c")).as("sc"))
        .select(col("v").as("u"),
                expr("CAST(150000 + (85 * sc) div 100 AS BIGINT)").as("r"))
    }
    // Final cut = orderBy().limit() → TakeOrderedAndProject (≤ TrTopK
    // rows per partition through the shuffle; the vocabulary never lands
    // on one task). The row_number window below runs AFTER the limit, on
    // ≤ TrTopK rows — bounded input, not a scale surface. Its partition
    // key is substring(u, 1, 0): '' for every row, but NOT foldable (a
    // lit(1) key gets constant-folded away, leaving an empty partition
    // spec that makes WindowExec log "No Partition Defined for Window"
    // on every run — the one warning that used to close each bench tail).
    val top = r.orderBy((-col("r")).asc, col("u").asc).limit(TrTopK)
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy(substring(col("u"), 1, 0))
      .orderBy((-col("r")).asc, col("u").asc)
    // wdeg re-read from the checkpointed adj leaf (one row per u after
    // the dropDuplicates — wdeg is functionally dependent on u), NOT
    // from `deg`: the old deg join re-ran the whole tokenize→edges
    // funnel a second time for 25 rows (profiled: a duplicate ~0.4 s
    // serial stage at sf0.1).
    val degLeaf = adj.select(col("u"), col("wdeg")).dropDuplicates("u")
    top.join(degLeaf, Seq("u"))
      .withColumn("rn", row_number().over(rankW).cast("bigint"))
      .select(col("rn"), col("u").as("term"), col("wdeg"),
              col("r").as("rank_u"))
      .orderBy(col("rn"))
  }

  val qTextrankSql: String = {
    def iter(prev: String, next: String): String =
      s"""$next AS MATERIALIZED (
         |  SELECT a.v AS u,
         |         CAST(150000 + (85 * SUM((r.r * a.w) // a.wdeg)) // 100
         |              AS BIGINT) AS r
         |  FROM adj a JOIN $prev r ON r.u = a.u GROUP BY 1)""".stripMargin
    s"""WITH arrs AS (
       |  SELECT list_filter(string_split(text, ' '),
       |           w -> regexp_matches(w, '^[a-z]+$$') AND length(w) >= 2)
       |           AS arr
       |  FROM documents),
       |bigrams AS (
       |  SELECT arr[i] AS wa, arr[i + 1] AS wb
       |  FROM (SELECT arr, unnest(range(1, len(arr))) AS i FROM arrs)
       |  WHERE arr[i] <> arr[i + 1]),
       |edges AS MATERIALIZED (
       |  SELECT least(wa, wb) AS a, greatest(wa, wb) AS b,
       |         CAST(COUNT(*) AS BIGINT) AS w
       |  FROM bigrams GROUP BY 1, 2),
       |deg AS MATERIALIZED (
       |  SELECT u, CAST(SUM(w) AS BIGINT) AS wdeg
       |  FROM (SELECT a AS u, w FROM edges
       |        UNION ALL SELECT b AS u, w FROM edges)
       |  GROUP BY 1),
       |adj AS MATERIALIZED (
       |  SELECT x.u, x.v, x.w, d.wdeg
       |  FROM (SELECT a AS u, b AS v, w FROM edges
       |        UNION ALL SELECT b AS u, a AS v, w FROM edges) x
       |  JOIN deg d ON d.u = x.u),
       |r0 AS (SELECT DISTINCT u, CAST(1000000 AS BIGINT) AS r FROM adj),
       |${iter("r0", "r1")},
       |${iter("r1", "r2")},
       |${iter("r2", "r3")},
       |ranked AS (
       |  SELECT CAST(row_number() OVER (ORDER BY r.r DESC, r.u) AS BIGINT)
       |           AS rn,
       |         r.u AS term, d.wdeg, r.r AS rank_u
       |  FROM r3 r JOIN deg d ON d.u = r.u)
       |SELECT rn, term, wdeg, rank_u FROM ranked WHERE rn <= $TrTopK
       |ORDER BY rn""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q_textrank"         -> qTextrank,
    "q_bm25_mlt"         -> qBm25Mlt,
    "q_paragraph_dedup"  -> qParagraphDedup,
    "q_dsir_score"       -> qDsirScore,
    "q_bpe_merges"       -> qBpeMerges,
    "q_bpe_encode"       -> qBpeEncode,
    "q_boilerplate"      -> qBoilerplate,
    "q_unigram_logprob"  -> qUnigramLogprob,
    "q_source_divergence" -> qSourceDivergence,
    "q_ks_test"          -> qKsTest,
    "q_mann_whitney"     -> qMannWhitney,
    "q_log_odds"         -> qLogOdds,
    "q_pmi"              -> qPmi,
    "q_jsd"              -> qJsd,
    "q_bigram_logprob"   -> qBigramLogprob,
    "q_contamination"    -> qContamination,
    "q_mixture_sample"   -> qMixtureSample,
    "q_mix_temperature"  -> qMixTemperature,
    "q_chunk_overlap"    -> qChunkOverlap,
    "q_chunk_dedup"      -> qChunkDedup,
    "q_repeat_epochs"    -> qRepeatEpochs,
    "q_mlm_mask"         -> qMlmMask,
    "q_span_corruption"  -> qSpanCorruption,
    "q_tokenizer_fertility" -> qTokenizerFertility,
    "q_perplexity_buckets" -> qPerplexityBuckets,
    "q_dedup_cluster"    -> qDedupCluster,
    "q_dedup_keep_best"  -> qDedupKeepBest,
    "q_split_holdout"    -> qSplitHoldout,
    "q_split_leakage"    -> qSplitLeakage,
    "q_cc_profile"       -> qCcProfile,
    "q_inverted_index"   -> qInvertedIndex,
    "q_tfidf_topterms"   -> qTfidfTopterms,
    "q_repetition_score" -> qRepetitionScore,
    "q_pii_scrub"        -> qPiiScrub,
    "q_pack_sequences"   -> qPackSequences,
    "q_token_shards"     -> qTokenShards,
    "q_pad_waste"        -> qPadWaste,
    "q_global_shuffle"   -> qGlobalShuffle,
  )

  val oracles: Map[String, String] = Map(
    "q_textrank"         -> qTextrankSql,
    "q_bm25_mlt"         -> qBm25MltSql,
    "q_paragraph_dedup"  -> qParagraphDedupSql,
    "q_dsir_score"       -> qDsirScoreSql,
    "q_bpe_merges"       -> qBpeMergesSql,
    "q_bpe_encode"       -> qBpeEncodeSql,
    "q_boilerplate"      -> qBoilerplateSql,
    "q_unigram_logprob"  -> qUnigramLogprobSql,
    "q_source_divergence" -> qSourceDivergenceSql,
    "q_ks_test"          -> qKsTestSql,
    "q_mann_whitney"     -> qMannWhitneySql,
    "q_log_odds"         -> qLogOddsSql,
    "q_pmi"              -> qPmiSql,
    "q_jsd"              -> qJsdSql,
    "q_bigram_logprob"   -> qBigramLogprobSql,
    "q_contamination"    -> qContaminationSql,
    "q_mixture_sample"   -> qMixtureSampleSql,
    "q_mix_temperature"  -> qMixTemperatureSql,
    "q_chunk_overlap"    -> qChunkOverlapSql,
    "q_chunk_dedup"      -> qChunkDedupSql,
    "q_repeat_epochs"    -> qRepeatEpochsSql,
    "q_mlm_mask"         -> qMlmMaskSql,
    "q_span_corruption"  -> qSpanCorruptionSql,
    "q_tokenizer_fertility" -> qTokenizerFertilitySql,
    "q_perplexity_buckets" -> qPerplexityBucketsSql,
    "q_dedup_cluster"    -> qDedupClusterSql,
    "q_dedup_keep_best"  -> qDedupKeepBestSql,
    "q_split_holdout"    -> qSplitHoldoutSql,
    "q_split_leakage"    -> qSplitLeakageSql,
    "q_cc_profile"       -> qCcProfileSql,
    "q_inverted_index"   -> qInvertedIndexSql,
    "q_tfidf_topterms"   -> qTfidfToptermsSql,
    "q_repetition_score" -> qRepetitionScoreSql,
    "q_pii_scrub"        -> qPiiScrubSql,
    "q_pack_sequences"   -> qPackSequencesSql,
    "q_token_shards"     -> qTokenShardsSql,
    "q_pad_waste"        -> qPadWasteSql,
    "q_global_shuffle"   -> qGlobalShuffleSql,
  )
}
