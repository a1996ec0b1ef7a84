package graft.ext

import graft.Tables
import graft.functions.VectorFunctions
import graft.ops.Ops
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (`array<float>`, 64-dim).
  *
  * Two paths, per the scale playbook:
  *  - brute-force cosine top-k: broadcast the (small) query set against a
  *    full scan of the corpus — the exact baseline. At 100 TB the corpus
  *    side never shuffles; ranking is a window on the bounded
  *    (query × corpus) candidate stream.
  *  - sign-LSH (random-hyperplane) bucketed ANN: each vector maps to a
  *    16-bit bucket via fixed hyperplanes; candidate generation is a
  *    bucket equi-join, turning O(N·Q) into O(N/2^16-ish · Q) at the cost
  *    of recall. Hyperplanes are deterministic plan literals (broadcast
  *    for free, reproducible across runs).
  *
  * Vector math uses the native codegen'd Catalyst expressions in
  * graft.functions.VectorFunctions (index-order double accumulation —
  * bit-identical to the HOF formulation and the DuckDB oracle, but a
  * tight primitive loop inside whole-stage codegen instead of an
  * interpreted lambda per element).
  */
object Similarity {
  type Q = (SparkSession, String) => DataFrame

  val NumQueries = 10
  val TopK = 5

  // Brute-force exact cosine top-k. Norms are computed ONCE per vector
  // before the pair join (per-pair norm recomputation is the classic
  // O(Q×) waste at scale); the per-pair work is a single dot product.
  // Scores are rounded to 6 decimals on BOTH engines before ranking so
  // that float-summation-order noise in the oracle can never flip a
  // rank; vec_id breaks residual ties.
  val qSimilarityTopk: Q = (s, d) =>
    exactTopk(s, d).orderBy(col("qid"), col("rn"))

  /** q_similarity_topk's ranked list, unsorted: (qid, vec_id, score, rn).
    * The exact baseline every recall eval grades against.
    */
  private def exactTopk(s: SparkSession, d: String): DataFrame =
    bruteTopk(Tables.embeddings(s, d), col("embedding"))

  /** Brute-force candidate pass: every query vector (vec_id <
    * NumQueries) against every other row of `vecs`, scored under each
    * named vector form (an array<float> column over `vecs`) as
    * `score_<name>` — cosine over that form, rounded to 6 places. One
    * broadcast of the bounded query side, one scan of the corpus, each
    * form's norms computed once per vector. Returns (qid, vec_id,
    * score_<name>...).
    */
  private def bruteScores(vecs: DataFrame, forms: (String, Column)*): DataFrame = {
    val e = vecs.select(col("vec_id") +: forms.flatMap { case (f, v) =>
      Seq(v.as(s"v_$f"), VectorFunctions.vecNorm(v).as(s"nrm_$f")) }: _*)
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid") +: forms.flatMap { case (f, _) =>
        Seq(col(s"v_$f").as(s"qv_$f"), col(s"nrm_$f").as(s"qnrm_$f")) }: _*)
    e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid") +: col("vec_id") +: forms.map { case (f, _) =>
        round(VectorFunctions.vecDot(col(s"qv_$f"), col(s"v_$f")) /
                (col(s"qnrm_$f") * col(s"nrm_$f")), 6).as(s"score_$f") }: _*)
  }

  /** Brute-force cosine top-K over the vector form `v` of `vecs`:
    * (qid, vec_id, score, rn), ranked (score desc, vec_id), unsorted.
    */
  private def bruteTopk(vecs: DataFrame, v: Column): DataFrame =
    Ops.topKPerGroup(bruteScores(vecs, "v" -> v), Seq("qid"),
                     -col("score_v"), col("vec_id"), TopK)
      .select(col("qid"), col("vec_id"), col("score_v").as("score"), col("rn"))

  val qSimilarityTopkSql: String =
    """WITH q AS (SELECT vec_id AS qid, embedding AS qe
      |           FROM embeddings WHERE vec_id < 10),
      |cand AS (
      |  SELECT q.qid, e.vec_id,
      |         round(
      |           (SELECT SUM(CAST(qe[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE))
      |            FROM generate_series(1, 64) i(i)) /
      |           (sqrt((SELECT SUM(CAST(qe[i.i] AS DOUBLE) ** 2)
      |                  FROM generate_series(1, 64) i(i))) *
      |            sqrt((SELECT SUM(CAST(e.embedding[i.i] AS DOUBLE) ** 2)
      |                  FROM generate_series(1, 64) i(i)))), 6) AS score
      |  FROM q, embeddings e WHERE e.vec_id <> q.qid),
      |ranked AS (
      |  SELECT qid, vec_id, score,
      |         CAST(row_number() OVER (PARTITION BY qid
      |                ORDER BY score DESC, vec_id) AS BIGINT) AS rn
      |  FROM cand)
      |SELECT qid, vec_id, score, rn FROM ranked WHERE rn <= 5
      |ORDER BY qid, rn""".stripMargin

  // ------------------------------------------------------------------
  // q_rank_fusion — Reciprocal Rank Fusion (RRF, Cormack et al.) of two
  // retrieval rankings over the same query set: cosine (angle) and raw
  // inner product (the MIPS ranking — differs from cosine exactly when
  // candidate norms vary, which the synthetic embeddings' do). Each
  // retriever contributes its truncated top-FuseN list; fused score =
  // Σ 1/(60 + rank), absent-from-a-list contributes 0 — the standard
  // RRF-60 rule search stacks use to merge lexical + vector retrieval
  // without score calibration.
  //
  // Exactness: ranks are integers (6-dp-rounded scores + vec_id
  // tiebreak, the q_similarity_topk discipline), and the fused double
  // is the SAME two-term left-to-right sum of 1/(60+r) on both engines
  // — no re-association surface. Ties in fused score (mirrored ranks)
  // break on vec_id.
  //
  // Scale shape: ONE broadcast of the bounded query set, one shared
  // candidate-scoring pass computing the dot product ONCE (both scores
  // derive from it), two K-bounded per-query rank windows over the
  // slim (qid, vec_id, score) projection, a (qid, vec_id) equi-join of
  // two ≤FuseN-row lists per query, and a final bounded top-FuseK cut.
  // Nothing after the scoring pass is corpus-sized.
  // ------------------------------------------------------------------
  val FuseN = 20  // per-retriever truncated list length
  val FuseK = 10  // fused rows emitted per query
  val RrfK0 = 60  // the standard RRF constant

  val qRankFusion: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
              VectorFunctions.vecNorm(col("embedding")).as("nrm"))
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
              col("nrm").as("qnrm"))
    val cand = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("raw", VectorFunctions.vecDot(col("qe"), col("embedding")))
      .select(col("qid"), col("vec_id"),
              round(col("raw") / (col("qnrm") * col("nrm")), 6).as("cos_s"),
              round(col("raw"), 6).as("dot_s"))
    val byCos = Ops.topKPerGroup(cand, Seq("qid"), -col("cos_s"),
        col("vec_id"), FuseN)
      .select(col("qid"), col("vec_id"), col("rn").as("rc"))
    val byDot = Ops.topKPerGroup(cand, Seq("qid"), -col("dot_s"),
        col("vec_id"), FuseN)
      .select(col("qid"), col("vec_id"), col("rn").as("rd"))
    val fused = byCos.join(byDot, Seq("qid", "vec_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(RrfK0) + col("rc")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK0) + col("rd")), lit(0.0)))
    Ops.topKPerGroup(fused, Seq("qid"), -col("rrf"), col("vec_id"), FuseK,
        rnCol = "fused_rank")
      .select(col("qid"), col("vec_id"),
              coalesce(col("rc"), lit(0L)).as("rank_cos"),
              coalesce(col("rd"), lit(0L)).as("rank_dot"),
              col("rrf"), col("fused_rank"))
      .orderBy(col("qid"), col("fused_rank"))
  }

  val qRankFusionSql: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe
       |           FROM embeddings WHERE vec_id < $NumQueries),
       |cand AS (
       |  SELECT q.qid, e.vec_id,
       |         round(
       |           (SELECT SUM(CAST(qe[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE))
       |            FROM generate_series(1, 64) i(i)) /
       |           (sqrt((SELECT SUM(CAST(qe[i.i] AS DOUBLE) ** 2)
       |                  FROM generate_series(1, 64) i(i))) *
       |            sqrt((SELECT SUM(CAST(e.embedding[i.i] AS DOUBLE) ** 2)
       |                  FROM generate_series(1, 64) i(i)))), 6) AS cos_s,
       |         round(
       |           (SELECT SUM(CAST(qe[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE))
       |            FROM generate_series(1, 64) i(i)), 6) AS dot_s
       |  FROM q, embeddings e WHERE e.vec_id <> q.qid),
       |bycos AS (
       |  SELECT qid, vec_id,
       |         CAST(row_number() OVER (PARTITION BY qid
       |                ORDER BY cos_s DESC, vec_id ASC) AS BIGINT) AS rc
       |  FROM cand QUALIFY rc <= $FuseN),
       |bydot AS (
       |  SELECT qid, vec_id,
       |         CAST(row_number() OVER (PARTITION BY qid
       |                ORDER BY dot_s DESC, vec_id ASC) AS BIGINT) AS rd
       |  FROM cand QUALIFY rd <= $FuseN),
       |fused AS (
       |  SELECT COALESCE(c.qid, d2.qid) AS qid,
       |         COALESCE(c.vec_id, d2.vec_id) AS vec_id, c.rc, d2.rd,
       |         COALESCE(1.0 / ($RrfK0 + c.rc), 0.0)
       |           + COALESCE(1.0 / ($RrfK0 + d2.rd), 0.0) AS rrf
       |  FROM bycos c FULL OUTER JOIN bydot d2
       |    ON c.qid = d2.qid AND c.vec_id = d2.vec_id),
       |cut AS (
       |  SELECT qid, vec_id, COALESCE(rc, 0) AS rank_cos,
       |         COALESCE(rd, 0) AS rank_dot, rrf,
       |         CAST(row_number() OVER (PARTITION BY qid
       |                ORDER BY rrf DESC, vec_id ASC) AS BIGINT)
       |           AS fused_rank
       |  FROM fused QUALIFY fused_rank <= $FuseK)
       |SELECT qid, vec_id, CAST(rank_cos AS BIGINT) AS rank_cos,
       |       CAST(rank_dot AS BIGINT) AS rank_dot, rrf, fused_rank
       |FROM cut ORDER BY qid, fused_rank""".stripMargin

  // ------------------------------------------------------------------
  // q_hybrid_search — lexical + vector hybrid retrieval, the capstone
  // of the two retrieval families: BM25 more-like-this ranks (the
  // q_bm25_mlt pipeline, shared code AND shared oracle CTEs) fused
  // with embedding-cosine ranks over the same query/candidate space
  // (the corpus convention: document i's embedding is vec_id i, so
  // candidates are the doc ids that carry an embedding), merged by the
  // same RRF-60 rule as q_rank_fusion. This is the retrieval stack
  // RAG deployments actually run — BM25 for exact-term evidence,
  // vectors for paraphrase — and the fusion needs no score
  // calibration between the two scales.
  //
  // Scale shape: the lexical side is the inverted-index-traversal
  // shape (query terms × postings); the vector side is one broadcast
  // of the bounded query set over the embedding scan; both collapse
  // to K-bounded per-query rank lists before the (qid, doc_id) list
  // join, and the fused cut is the bounded top-K window.
  // ------------------------------------------------------------------
  val HybK = 5 // per-retriever list length AND fused emit

  val qHybridSearch: Q = (s, d) => {
    val lex = graft.ext.Corpus.qBm25Mlt(s, d)
      .select(col("qid"), col("doc_id"), col("rn").as("rl"))
    val docIds = Tables.documents(s, d).select(col("doc_id"))
    val e = Tables.embeddings(s, d)
      .join(docIds, col("vec_id") === col("doc_id"))
      .select(col("vec_id"), col("embedding"),
              VectorFunctions.vecNorm(col("embedding")).as("nrm"))
    val q = e.filter(col("vec_id") < graft.ext.Corpus.Bm25NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
              col("nrm").as("qnrm"))
    val cand = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("doc_id"),
              round(VectorFunctions.vecDot(col("qe"), col("embedding")) /
                      (col("qnrm") * col("nrm")), 6).as("cos_s"))
    val vec = Ops.topKPerGroup(cand, Seq("qid"), -col("cos_s"),
        col("doc_id"), HybK)
      .select(col("qid"), col("doc_id"), col("rn").as("rv"))
    val fused = lex.join(vec, Seq("qid", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(RrfK0) + col("rl")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK0) + col("rv")), lit(0.0)))
    Ops.topKPerGroup(fused, Seq("qid"), -col("rrf"), col("doc_id"), HybK,
        rnCol = "fused_rank")
      .select(col("qid"), col("doc_id"),
              coalesce(col("rl"), lit(0L)).as("rank_lex"),
              coalesce(col("rv"), lit(0L)).as("rank_vec"),
              col("rrf"), col("fused_rank"))
      .orderBy(col("qid"), col("fused_rank"))
  }

  val qHybridSearchSql: String =
    s"""WITH ${graft.ext.Corpus.bm25CtesSql},
       |lex AS (
       |  SELECT qid, doc_id, rn AS rl FROM ranked
       |  WHERE rn <= ${graft.ext.Corpus.Bm25TopK}),
       |ed AS (
       |  SELECT e.vec_id, e.embedding FROM embeddings e
       |  JOIN documents d2 ON e.vec_id = d2.doc_id),
       |vq AS (SELECT vec_id AS qid, embedding AS qe FROM ed
       |       WHERE vec_id < ${graft.ext.Corpus.Bm25NumQueries}),
       |vcand AS (
       |  SELECT vq.qid, ed.vec_id AS doc_id,
       |         round(
       |           (SELECT SUM(CAST(qe[i.i] AS DOUBLE) * CAST(ed.embedding[i.i] AS DOUBLE))
       |            FROM generate_series(1, 64) i(i)) /
       |           (sqrt((SELECT SUM(CAST(qe[i.i] AS DOUBLE) ** 2)
       |                  FROM generate_series(1, 64) i(i))) *
       |            sqrt((SELECT SUM(CAST(ed.embedding[i.i] AS DOUBLE) ** 2)
       |                  FROM generate_series(1, 64) i(i)))), 6) AS cos_s
       |  FROM vq, ed WHERE ed.vec_id <> vq.qid),
       |vranked AS (
       |  SELECT qid, doc_id,
       |         CAST(row_number() OVER (PARTITION BY qid
       |                ORDER BY cos_s DESC, doc_id ASC) AS BIGINT) AS rv
       |  FROM vcand QUALIFY rv <= $HybK),
       |fused AS (
       |  SELECT COALESCE(l.qid, v.qid) AS qid,
       |         COALESCE(l.doc_id, v.doc_id) AS doc_id, l.rl, v.rv,
       |         COALESCE(1.0 / ($RrfK0 + l.rl), 0.0)
       |           + COALESCE(1.0 / ($RrfK0 + v.rv), 0.0) AS rrf
       |  FROM lex l FULL OUTER JOIN vranked v
       |    ON l.qid = v.qid AND l.doc_id = v.doc_id),
       |cut AS (
       |  SELECT qid, doc_id, COALESCE(rl, 0) AS rank_lex,
       |         COALESCE(rv, 0) AS rank_vec, rrf,
       |         CAST(row_number() OVER (PARTITION BY qid
       |                ORDER BY rrf DESC, doc_id ASC) AS BIGINT)
       |           AS fused_rank
       |  FROM fused QUALIFY fused_rank <= $HybK)
       |SELECT qid, doc_id, CAST(rank_lex AS BIGINT) AS rank_lex,
       |       CAST(rank_vec AS BIGINT) AS rank_vec, rrf, fused_rank
       |FROM cut ORDER BY qid, fused_rank""".stripMargin

  // ------------------------------------------------------------------
  // Sign-LSH ANN (non-SQL-expressible → rows-only check).
  // ------------------------------------------------------------------
  val NumPlanes = 16
  val Dim = 64

  /** Deterministic pseudo-random hyperplanes in [-1, 1], from a plain LCG
    * (same constants as java.util.Random) seeded per (plane, dim). Plan
    * literals: shipped once with the plan, identical on every executor
    * and every run.
    */
  private[ext] def planesN(n: Int): Seq[Seq[Float]] =
    (0 until n).map { j =>
      (0 until Dim).map { i =>
        var x = (j.toLong * 1000003L + i.toLong * 7919L + 12345L)
        x = (x * 0x5DEECE66DL + 0xBL) & ((1L << 48) - 1)
        x = (x * 0x5DEECE66DL + 0xBL) & ((1L << 48) - 1)
        ((x.toDouble / (1L << 47).toDouble) - 1.0).toFloat
      }
    }

  private[ext] def planes: Seq[Seq[Float]] = planesN(NumPlanes)

  /** 16-bit sign-LSH bucket of an embedding column — one native
    * expression over a row-major plane matrix (a plan-bound reference
    * object) instead of 16 dot/when/OR subtrees, so analysis and codegen
    * cost stay O(1) in NumPlanes.
    */
  def lshBucket(emb: Column): Column =
    VectorFunctions.signBucket(emb, planes.flatten.toArray, Dim)

  // ANN: bucket the corpus once, probe each query's bucket only, exact
  // cosine re-rank inside the bucket. Output keeps the bucket id so
  // recall/selectivity is inspectable.
  val qAnnLsh: Q = (s, d) => annLshTopk(s, d).orderBy(col("qid"), col("rn"))

  /** q_ann_lsh's ranked list, unsorted: (qid, bucket, vec_id, score, rn). */
  private def annLshTopk(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
              lshBucket(col("embedding")).as("bucket"),
              VectorFunctions.vecNorm(col("embedding")).as("nrm"))
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
              col("bucket").as("qbucket"), col("nrm").as("qnrm"))
    val cand = e.join(broadcast(q),
                      col("bucket") === col("qbucket") && col("vec_id") =!= col("qid"))
      .withColumn("score",
        round(VectorFunctions.vecDot(col("qe"), col("embedding")) / (col("qnrm") * col("nrm")), 6))
    Ops.topKPerGroup(cand, Seq("qid"), -col("score"), col("vec_id"), TopK)
      .select(col("qid"), col("bucket"), col("vec_id"), col("score"), col("rn"))
  }

  // ------------------------------------------------------------------
  // IVF ANN: coarse-quantize the corpus into NumCells inverted lists,
  // probe the query's NProbe nearest cells only, exact cosine re-rank
  // inside them. The codebook is TRAINED — KmIters seeded Lloyd
  // iterations over a deterministic md5 hash sample — not positional:
  // a degenerate codebook means unbalanced cells ≈ no pruning at scale.
  //
  // Every training step is cross-engine exact, so the full funnel
  // (sample → seed → iterate → assign → probe → re-rank) still
  // hash-matches its DuckDB oracle:
  //  - sample membership is an md5-threshold decision, not an RNG;
  //  - seeds are the NumCells smallest sampled vec_ids (bounded collect);
  //  - each Lloyd update sums components in exact integer MICRO-UNITS
  //    (round(x·1e6) HALF_UP as BIGINT — order-free across partitions,
  //    far from overflow: |sum| < 2^53 up to ~2^32 sample rows), then
  //    takes the mean with a single IEEE double division and casts to
  //    float — bit-identical in both engines, no decimal→double rounding
  //    risk;
  //  - assignment ranks cells by (dot desc, cell asc) with index-order
  //    double folds (FloatMatrixDotRank ≡ the SQL window).
  //
  // Each Lloyd step is ONE Spark job with no shuffle (lloydStep): every
  // partition folds its rows into one long[] of micro-unit sums and
  // counts (O(NumCells·Dim) state), and the driver merges those arrays —
  // the integer sums are order-free, so this is the same codebook a
  // per-(cell, dim) groupBy produces, float for float. At 100 TB a step
  // is a map pass plus one small array per task; the corpus-side
  // assignment stays a pure map.
  // ------------------------------------------------------------------
  val NumCells = 16
  val NProbe = 2
  val KmIters = 2
  val KmSampleMod = 4L // md5(vec_id:km) % 4 == 0 → ~25% training sample

  /** Train the codebook: seeds + KmIters Lloyd steps. Returns a
    * row-major NumCells×Dim float matrix; cells that lose all members
    * keep their previous centroid.
    */
  private[graft] def trainCodebook(e0: DataFrame): Array[Float] = {
    val sample = e0
      .filter(Ops.md5Bits60(concat(col("vec_id").cast("string"), lit(":km")))
                % KmSampleMod === 0L)
      .select(col("vec_id"), col("embedding"))
    val seeds: Array[Array[Float]] = sample.orderBy(col("vec_id"))
      .limit(NumCells).collect().map(_.getSeq[Float](1).toArray)
    require(seeds.length == NumCells,
      s"corpus sample smaller than $NumCells vectors")
    var mat: Array[Float] = seeds.flatten
    for (_ <- 1 to KmIters) {
      mat = lloydStep(sample.select(
        element_at(VectorFunctions.matrixDotRank(col("embedding"), mat, Dim), 1)
          .as("cell"),
        col("embedding").as("x")), mat, Dim)
    }
    mat
  }

  /** One exact Lloyd update as ONE Spark job with no shuffle. `rows` is
    * (cell int, x array<float>): each row adds its vector to `cell`.
    * `prev` is the row-major cells×dim codebook; the result replaces
    * each (cell, dim) that received a value by the micro-unit mean
    * Σ round(x·1e6, HALF_UP) / (n·1e6) cast to float, and keeps the
    * previous value elsewhere (empty cells keep their centroid).
    *
    * Each partition folds its rows into one long[] of sums and counts
    * and the driver adds the arrays. Integer addition is order-free, so
    * the result equals the per-(cell, dim) groupBy-sum form bit for bit
    * (`round` here is Spark's: java.math.BigDecimal.valueOf(d), HALF_UP,
    * back to double, then cast to long; null vectors and null components
    * are skipped as the groupBy form's posexplode and SUM skip them).
    */
  private[graft] def lloydStep(rows: DataFrame, prev: Array[Float],
                               dim: Int): Array[Float] = {
    val cells = prev.length / dim
    val width = cells * dim // sums in [0, width), counts in [width, 2·width)
    val acc = rows.queryExecution.toRdd.mapPartitions { it =>
      val a = new Array[Long](2 * width)
      it.foreach { r =>
        if (!r.isNullAt(0) && !r.isNullAt(1)) {
          val base = r.getInt(0) * dim
          val x = r.getArray(1)
          val n = math.min(x.numElements(), dim)
          var i = 0
          while (i < n) {
            if (!x.isNullAt(i)) {
              a(base + i) += java.math.BigDecimal.valueOf(x.getFloat(i).toDouble * 1e6)
                .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
            }
            a(width + base + i) += 1
            i += 1
          }
        }
      }
      Iterator.single(a)
    }.reduce { (a, b) =>
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    Array.tabulate(width) { j =>
      val n = acc(width + j)
      if (n == 0) prev(j) else (acc(j).toDouble / (n.toDouble * 1e6)).toFloat
    }
  }

  val qAnnIvf: Q = (s, d) => annIvfTopk(s, d).orderBy(col("qid"), col("rn"))

  /** q_ann_ivf's ranked list, unsorted: (qid, cell, vec_id, score, rn). */
  private def annIvfTopk(s: SparkSession, d: String): DataFrame = {
    val e0 = Tables.embeddings(s, d)
    ivfTopkWith(e0, trainCodebook(e0), NProbe)
  }

  /** The IVF probe retrieval over a pre-trained codebook, parametrized
    * by nprobe — shared by q_ann_ivf (nprobe = NProbe) and q_ivf_sweep
    * (the tuning curve trains ONCE and sweeps nprobe over the same
    * codebook, which is also what makes the curve comparable).
    */
  private[graft] def ivfTopkWith(e0: DataFrame, mat: Array[Float],
                                 nprobe: Int): DataFrame =
    ivfProbeTopk(ivfAssigned(e0, mat), e0, mat, nprobe)

  /** The corpus side of the IVF index: every vector with its nearest
    * cell and norm — the expensive full-scan half, split out so
    * q_ivf_sweep can persist it ONCE across the whole nprobe curve.
    */
  private[graft] def ivfAssigned(e0: DataFrame, mat: Array[Float]): DataFrame =
    e0.select(col("vec_id"), col("embedding"),
              element_at(VectorFunctions.matrixDotRank(col("embedding"),
                                                       mat, Dim), 1)
                .cast("bigint").as("cell"),
              VectorFunctions.vecNorm(col("embedding")).as("nrm"))

  /** The query side: probe the top-nprobe cells of each query vector
    * against a (possibly persisted) assigned corpus.
    */
  private[graft] def ivfProbeTopk(e: DataFrame, e0: DataFrame,
                                  mat: Array[Float], nprobe: Int): DataFrame = {
    val q = e0.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
              VectorFunctions.vecNorm(col("embedding")).as("qnrm"),
              explode(slice(VectorFunctions.matrixDotRank(col("embedding"),
                                                          mat, Dim),
                            1, nprobe)).as("pc"))
      .select(col("qid"), col("qe"), col("qnrm"),
              col("pc").cast("bigint").as("probe_cell"))
    val cand = e.join(broadcast(q),
                      col("cell") === col("probe_cell") && col("vec_id") =!= col("qid"))
      .withColumn("score",
        round(VectorFunctions.vecDot(col("qe"), col("embedding")) /
                (col("qnrm") * col("nrm")), 6))
    Ops.topKPerGroup(cand, Seq("qid"), -col("score"), col("vec_id"), TopK)
      .select(col("qid"), col("cell"), col("vec_id"), col("score"), col("rn"))
  }

  /** DuckDB oracle for the sign-LSH ANN. The hyperplanes are re-derived
    * IN SQL from the same two-step LCG as `planes` (HUGEINT modmul keeps
    * the 48-bit wrap exact; the REAL cast reproduces `.toFloat`), so both
    * engines bucket identically — dots are in-index-order double sums on
    * both sides, making even the sign of a near-zero dot deterministic.
    */
  /** The LSH retrieval as bare CTEs (ending at `ranked`), shared by
    * q_ann_lsh's oracle and q_lsh_recall's — the bm25CtesSql pattern.
    */
  /** The hyperplane value as a DuckDB scalar over aliases `j.j` (plane
    * index) and `i.i` (1-based dimension) — the same two-step LCG as
    * [[planesN]], shared by the LSH ANN oracle and ext.Stats' DBSCAN
    * band oracle.
    */
  private[ext] val planeSqlReal: String = {
    val x0 = "(j.j*1000003 + (i.i-1)*7919 + 12345)"
    val step1 = s"((CAST($x0 AS HUGEINT) * 25214903917 + 11) % 281474976710656)"
    val step2 = s"((CAST($step1 AS HUGEINT) * 25214903917 + 11) % 281474976710656)"
    s"CAST(CAST($step2 AS DOUBLE) / 140737488355328.0 - 1.0 AS REAL)"
  }

  val lshCtesSql: String = {
    val plane = planeSqlReal
    s"""pd AS (
       |  SELECT e.vec_id, j.j,
       |         (SELECT SUM(CAST(e.embedding[i.i] AS DOUBLE) * CAST($plane AS DOUBLE))
       |          FROM generate_series(1, $Dim) i(i)) AS dot
       |  FROM embeddings e CROSS JOIN generate_series(0, ${NumPlanes - 1}) j(j)),
       |buckets AS (
       |  SELECT vec_id,
       |         CAST(SUM(CASE WHEN dot >= 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM pd GROUP BY 1),
       |nrm AS (
       |  SELECT vec_id, sqrt((SELECT SUM(CAST(embedding[i.i] AS DOUBLE) ** 2)
       |                       FROM generate_series(1, $Dim) i(i))) AS nrm
       |  FROM embeddings),
       |q AS (SELECT vec_id AS qid, bucket AS qbucket FROM buckets WHERE vec_id < $NumQueries),
       |cand AS (
       |  SELECT q.qid, b.bucket, e.vec_id,
       |         round((SELECT SUM(CAST(qe.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE))
       |                FROM generate_series(1, $Dim) i(i)) / (nq.nrm * ne.nrm), 6) AS score
       |  FROM q
       |  JOIN buckets b ON b.bucket = q.qbucket
       |  JOIN embeddings e ON e.vec_id = b.vec_id
       |  JOIN embeddings qe ON qe.vec_id = q.qid
       |  JOIN nrm nq ON nq.vec_id = q.qid
       |  JOIN nrm ne ON ne.vec_id = e.vec_id
       |  WHERE e.vec_id <> q.qid),
       |ranked AS (
       |  SELECT qid, bucket, vec_id, score,
       |         CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS BIGINT) AS rn
       |  FROM cand)""".stripMargin
  }

  val qAnnLshSql: String =
    s"""WITH $lshCtesSql
       |SELECT qid, bucket, vec_id, score, rn FROM ranked WHERE rn <= $TopK
       |ORDER BY qid, rn""".stripMargin

  /** Shared oracle CTE chain: the SAME training funnel re-derived
    * relationally — md5 hash sample, seed by smallest sampled vec_ids,
    * KmIters unrolled Lloyd steps with exact integer micro-unit sums and
    * a single IEEE mean division cast to REAL, then full-corpus
    * assignment by the (dot desc, cell asc) ranking plus norms.
    * Centroid lists are rebuilt in dim order with list(… ORDER BY) so
    * the in-index dot folds agree. Used by both the IVF probe oracle
    * and the clustering-summary oracle.
    */
  private def kmeansFunnelCtes: String = {
    // One Lloyd step: assign `sample` to `prev`(cell, ce), then per-cell
    // per-dim micro-unit means; empty cells keep the previous centroid.
    def lloyd(prev: String, next: String): String =
      s"""asg_$next AS (
         |  SELECT s.vec_id, c.cell,
         |         row_number() OVER (PARTITION BY s.vec_id ORDER BY
         |           (SELECT SUM(CAST(s.embedding[i.i] AS DOUBLE) * CAST(c.ce[i.i] AS DOUBLE))
         |            FROM generate_series(1, $Dim) i(i)) DESC, c.cell) AS rn
         |  FROM sample s CROSS JOIN $prev c),
         |upd_$next AS (
         |  SELECT a.cell, i.i AS dim,
         |         CAST(CAST(SUM(CAST(round(CAST(s.embedding[i.i] AS DOUBLE) * 1000000.0, 0) AS BIGINT)) AS DOUBLE)
         |              / (CAST(count(*) AS DOUBLE) * 1000000.0) AS REAL) AS v
         |  FROM sample s
         |  JOIN asg_$next a ON a.vec_id = s.vec_id AND a.rn = 1
         |  CROSS JOIN generate_series(1, $Dim) i(i)
         |  GROUP BY 1, 2),
         |new_$next AS (
         |  SELECT cell, list(v ORDER BY dim) AS ce FROM upd_$next GROUP BY 1),
         |$next AS (
         |  SELECT p.cell, COALESCE(n.ce, p.ce) AS ce
         |  FROM $prev p LEFT JOIN new_$next n ON n.cell = p.cell)""".stripMargin
    s"""sample AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR) || ':km'), 1, 15))::BIGINT
       |          % $KmSampleMod = 0),
       |cents0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) - 1 AS cell,
       |         embedding AS ce
       |  FROM sample ORDER BY vec_id LIMIT $NumCells),
       |${lloyd("cents0", "cents1")},
       |${lloyd("cents1", "cents2")},
       |dots AS (
       |  SELECT e.vec_id, c.cell,
       |         row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |           (SELECT SUM(CAST(e.embedding[i.i] AS DOUBLE) * CAST(c.ce[i.i] AS DOUBLE))
       |            FROM generate_series(1, $Dim) i(i)) DESC, c.cell) AS cell_rn
       |  FROM embeddings e CROSS JOIN cents2 c),
       |assigned AS (SELECT vec_id, cell FROM dots WHERE cell_rn = 1),
       |nrm AS (
       |  SELECT vec_id, sqrt((SELECT SUM(CAST(embedding[i.i] AS DOUBLE) ** 2)
       |                       FROM generate_series(1, $Dim) i(i))) AS nrm
       |  FROM embeddings)""".stripMargin
  }

  val qAnnIvfSql: String =
    s"""WITH $kmeansFunnelCtes,
       |probes AS (
       |  SELECT vec_id AS qid, cell AS probe_cell FROM dots
       |  WHERE vec_id < $NumQueries AND cell_rn <= $NProbe),
       |cand AS (
       |  SELECT p.qid, a.cell, e.vec_id,
       |         round((SELECT SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE))
       |                FROM generate_series(1, $Dim) i(i)) / (nq.nrm * ne.nrm), 6) AS score
       |  FROM probes p
       |  JOIN assigned a ON a.cell = p.probe_cell
       |  JOIN embeddings e ON e.vec_id = a.vec_id
       |  JOIN embeddings q ON q.vec_id = p.qid
       |  JOIN nrm nq ON nq.vec_id = p.qid
       |  JOIN nrm ne ON ne.vec_id = e.vec_id
       |  WHERE e.vec_id <> p.qid),
       |ranked AS (
       |  SELECT qid, cell, vec_id, score,
       |         CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS BIGINT) AS rn
       |  FROM cand)
       |SELECT qid, cell, vec_id, score, rn FROM ranked WHERE rn <= $TopK
       |ORDER BY qid, rn""".stripMargin

  // ------------------------------------------------------------------
  // q_ann_recall — retrieval-quality evaluation IN the engine:
  // recall@TopK of the IVF probe retrieval (q_ann_ivf, shared code and
  // shared oracle funnel) against the exact brute-force cosine ranking
  // (q_similarity_topk), per query. The eval every ANN deployment runs
  // before trusting an index — surfaced as a relational query so the
  // recall numbers carry the same exact-oracle guarantee as the
  // retrieval itself (both lists are deterministic rankings, so the
  // intersection count is exact, not sampled).
  //
  // Scale shape: both sides are the already-K-bounded per-query lists;
  // the eval is ONE qid-keyed aggregation over their tagged union —
  // metadata-sized regardless of corpus. (The candidate-generation cost
  // IS the two retrievals; at 100 TB an eval run samples queries, which
  // is what NumQueries is.)
  // ------------------------------------------------------------------
  /** recall@K of an approximate (qid, vec_id) list against the exact
    * one — shared by the per-index-family eval queries. One aggregation
    * over the tagged union of both lists, grouped on qid: each qid's
    * exact and approximate id sets give n_exact and n_hits (their
    * intersection) together; a qid absent from the exact list has an
    * empty exact set and is dropped.
    */
  def recallOf(approx: DataFrame, exact: DataFrame): DataFrame =
    exact.select(col("qid"), col("vec_id"), lit(true).as("exact"))
      .unionByName(approx.select(col("qid"), col("vec_id"), lit(false).as("exact")))
      .groupBy(col("qid"))
      .agg(collect_set(when(col("exact"), col("vec_id"))).as("xs"),
           collect_set(when(!col("exact"), col("vec_id"))).as("as"))
      .filter(size(col("xs")) > 0)
      .transform(recallRows)

  /** (qid, xs, as) — each qid's exact and approximate id sets — → the
    * eval's rows (qid, n_exact, n_hits, recall), sorted by qid for
    * presentation.
    */
  private def recallRows(sets: DataFrame): DataFrame = {
    val nHits = size(array_intersect(col("xs"), col("as"))).cast("bigint")
    sets.select(col("qid"), size(col("xs")).cast("bigint").as("n_exact"),
                nHits.as("n_hits"),
                (nHits.cast("double") / size(col("xs")).cast("double")).as("recall"))
      .orderBy(col("qid"))
  }

  val qAnnRecall: Q = (s, d) => recallOf(
    annIvfTopk(s, d).select(col("qid"), col("vec_id")),
    exactTopk(s, d).select(col("qid"), col("vec_id")))

  // q_lsh_recall — the same eval grading the sign-LSH single-bucket
  // retrieval; on near-uniform embeddings its recall sits well below
  // IVF's (the AnnClusteredSpec-documented geometry effect), and
  // surfacing that number IS the operator's job.
  val qLshRecall: Q = (s, d) => recallOf(
    annLshTopk(s, d).select(col("qid"), col("vec_id")),
    exactTopk(s, d).select(col("qid"), col("vec_id")))

  // q_pq_recall — the eval grading the PQ ADC shortlist + exact
  // re-rank: quantifies what the 8-byte-code scan trade costs in
  // retrieval quality, completing the per-index-family recall panel
  // (IVF / LSH / PQ against one shared exact baseline and one shared
  // oracle tail).
  val qPqRecall: Q = (s, d) => recallOf(
    annPqTopk(s, d).select(col("qid"), col("vec_id")),
    exactTopk(s, d).select(col("qid"), col("vec_id")))

  /** recall@K of brute-force cosine over an approximate per-vector form
    * `approx` (an array<float> column over the embeddings) against the
    * full-precision exact top-K — for the evals whose approximate
    * retrieval re-scores the same full candidate set. One candidate
    * pass scores both forms, and one qid-keyed aggregation keeps each
    * form's top-K ids as a bounded heap (graftshim.BoundedTopK, ranked
    * score desc, vec_id — the topKPerGroup order): map-side partial
    * aggregation ships at most K ids per qid per partition and form,
    * where rank windows over the candidates would shuffle every
    * candidate row.
    */
  private def formRecall(vecs: DataFrame, approx: Column): DataFrame = {
    import org.apache.spark.sql.graftshim.{BoundedTopK, Shim}
    def topIds(score: String): Column =
      Shim.column(BoundedTopK(Shim.expression(-col(score)),
                              Shim.expression(col("vec_id")), TopK)
        .toAggregateExpression()).getField("id")
    bruteScores(vecs, "exact" -> col("embedding"), "approx" -> approx)
      .groupBy(col("qid"))
      .agg(topIds("score_exact").as("xs"), topIds("score_approx").as("as"))
      .transform(recallRows)
  }

  /** The exact-side + intersection tail of a recall oracle: grades the
    * CTE named `approx_list` (qid, vec_id) against brute-force cosine.
    * Expects a `nrm` CTE in scope (both retrieval chains define one).
    */
  /** The exact brute-force top-K list as CTEs ending in `exact`
    * (qid, vec_id) — the shared baseline of every recall oracle.
    * Expects a `nrm` CTE in scope.
    */
  private def exactListCtesSql: String =
    s"""xq AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
       |       WHERE vec_id < $NumQueries),
       |xcand AS (
       |  SELECT xq.qid, e.vec_id,
       |         round((SELECT SUM(CAST(qe[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE))
       |                FROM generate_series(1, $Dim) i(i)) / (nq.nrm * ne.nrm), 6) AS score
       |  FROM xq
       |  JOIN embeddings e ON e.vec_id <> xq.qid
       |  JOIN nrm nq ON nq.vec_id = xq.qid
       |  JOIN nrm ne ON ne.vec_id = e.vec_id),
       |exact AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |           row_number() OVER (PARTITION BY qid
       |             ORDER BY score DESC, vec_id) AS rn
       |    FROM xcand) WHERE rn <= $TopK)""".stripMargin

  private def recallTailSql: String =
    s"""$exactListCtesSql,
       |hits AS (
       |  SELECT x.qid, CAST(count(*) AS BIGINT) AS n_hits
       |  FROM exact x JOIN approx_list v
       |    ON v.qid = x.qid AND v.vec_id = x.vec_id
       |  GROUP BY 1)
       |SELECT x.qid, CAST(count(*) AS BIGINT) AS n_exact,
       |       COALESCE(h.n_hits, 0) AS n_hits,
       |       CAST(COALESCE(h.n_hits, 0) AS DOUBLE)
       |         / CAST(count(*) AS DOUBLE) AS recall
       |FROM exact x LEFT JOIN hits h ON h.qid = x.qid
       |GROUP BY x.qid, h.n_hits ORDER BY x.qid""".stripMargin

  val qLshRecallSql: String =
    s"""WITH $lshCtesSql,
       |approx_list AS (SELECT qid, vec_id FROM ranked WHERE rn <= $TopK),
       |$recallTailSql""".stripMargin

  val qAnnRecallSql: String =
    s"""WITH $kmeansFunnelCtes,
       |probes AS (
       |  SELECT vec_id AS qid, cell AS probe_cell FROM dots
       |  WHERE vec_id < $NumQueries AND cell_rn <= $NProbe),
       |icand AS (
       |  SELECT p.qid, e.vec_id,
       |         round((SELECT SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE))
       |                FROM generate_series(1, $Dim) i(i)) / (nq.nrm * ne.nrm), 6) AS score
       |  FROM probes p
       |  JOIN assigned a ON a.cell = p.probe_cell
       |  JOIN embeddings e ON e.vec_id = a.vec_id
       |  JOIN embeddings q ON q.vec_id = p.qid
       |  JOIN nrm nq ON nq.vec_id = p.qid
       |  JOIN nrm ne ON ne.vec_id = e.vec_id
       |  WHERE e.vec_id <> p.qid),
       |approx_list AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |           row_number() OVER (PARTITION BY qid
       |             ORDER BY score DESC, vec_id) AS rn
       |    FROM icand) WHERE rn <= $TopK),
       |$recallTailSql""".stripMargin

  // ------------------------------------------------------------------
  // Product-quantization ANN (q_ann_pq): split the 64-dim vector into
  // PqM=8 subspaces of 8 dims; per subspace train a PqKSub=8-entry
  // sub-codebook (md5-sampled seeds + one joint Lloyd step — the same
  // exact-arithmetic funnel as IVF); encode every corpus vector as 8
  // one-byte codes. Queries score candidates by ADC (asymmetric distance
  // computation): per subspace, dot(query_sub, sub_centroid[code]) from
  // a 64-entry lookup table, summed — reading 8 codes per vector instead
  // of 64 floats, the 8× scan-bandwidth cut that makes exhaustive ANN
  // affordable at 100 TB (and composes with IVF cells for the full
  // IVF-PQ). The ADC shortlist is then re-ranked with exact cosine.
  //
  // Cross-engine exactness: per-subspace dots are index-order double
  // folds on both sides; each is snapped to integer MICRO-UNITS before
  // the per-pair sum, so the 8-term ADC total is an order-free BIGINT
  // sum. Assignment ties rank (dot desc, cell asc) exactly as IVF.
  // ------------------------------------------------------------------
  val PqM = 8        // subspaces
  val PqSubDim = 8   // dims per subspace (PqM × PqSubDim = Dim)
  val PqKSub = 8     // sub-centroids per subspace
  val PqShortlist = 40
  val PqSampleMod = 4L // md5(vec_id:pq) % 4 == 0 → ~25% training sample

  /** Train the PQ codebook: per-subspace seeds from the PqKSub smallest
    * md5-sampled vec_ids, plus one joint Lloyd step (all subspaces in a
    * single one-job lloydStep; micro-unit exact sums; empty cells keep
    * their seed). Returns cents(m)(cell) = PqSubDim floats.
    */
  private[graft] def trainPqCodebook(e0: DataFrame): Array[Array[Array[Float]]] = {
    val sample = e0
      .filter(Ops.md5Bits60(concat(col("vec_id").cast("string"), lit(":pq")))
                % PqSampleMod === 0L)
      .select(col("vec_id"), col("embedding"))
    val seeds: Array[Array[Float]] = sample.orderBy(col("vec_id"))
      .limit(PqKSub).collect().map(_.getSeq[Float](1).toArray)
    require(seeds.length == PqKSub,
      s"corpus sample smaller than $PqKSub vectors")
    val cents0: Array[Array[Array[Float]]] =
      Array.tabulate(PqM, PqKSub)((m, c) =>
        seeds(c).slice(m * PqSubDim, (m + 1) * PqSubDim))
    // One Lloyd step, all subspaces at once: assign each (vector,
    // subspace) pair to its nearest sub-centroid via the native
    // (dot desc, cell asc) rank, then per-(m, cell, dim) micro-unit
    // means — the shared one-job lloydStep over PqM·PqKSub flat cells.
    val pairs = sample
      .select(col("embedding"),
              explode(pqCodeStructs(col("embedding"), cents0)).as("c"))
      .select((col("c.m") * PqKSub + col("c.code")).as("cell"),
              slice(col("embedding"), col("c.m") * PqSubDim + 1, lit(PqSubDim))
                .as("x"))
    lloydStep(pairs, cents0.flatten.flatten, PqSubDim)
      .grouped(PqSubDim).toArray.grouped(PqKSub).toArray
  }

  /** Map-only PQ encoder: array of (m, code) structs, one per subspace,
    * each code from a native matrixDotRank against that subspace's
    * sub-codebook — no join, no shuffle on the corpus side.
    */
  private[graft] def pqCodeStructs(emb: Column,
                                   cents: Array[Array[Array[Float]]]): Column =
    array((0 until PqM).map { m =>
      struct(lit(m).as("m"),
             element_at(VectorFunctions.matrixDotRank(
                 slice(emb, m * PqSubDim + 1, PqSubDim),
                 cents(m).flatten, PqSubDim), 1)
               .cast("int").as("code"))
    }: _*)

  val qAnnPq: Q = (s, d) => annPqTopk(s, d).orderBy(col("qid"), col("rn"))

  /** q_ann_pq's ranked list, unsorted: (qid, vec_id, adc, score, rn). */
  private def annPqTopk(s: SparkSession, d: String): DataFrame =
    Ops.topKPerGroup(pqRerankedShortlist(s, Tables.embeddings(s, d)), Seq("qid"),
                     -col("score"), col("vec_id"), TopK)
      .select(col("qid"), col("vec_id"), col("adc"), col("score"), col("rn"))

  /** The PQ funnel through the exact-cosine re-rank of the ADC
    * shortlist, ADC rank (`srn`) retained — shared by q_ann_pq (final
    * top-K over the full PqShortlist) and q_refine_sweep (recall as a
    * function of re-rank DEPTH over the same codes and shortlist).
    * Returns (qid, vec_id, srn, adc, score).
    */
  private[graft] def pqRerankedShortlist(s: SparkSession,
                                         e0: DataFrame): DataFrame = {
    val cents = trainPqCodebook(e0)
    val centsDf = s.createDataFrame(
      for (m <- 0 until PqM; c <- 0 until PqKSub)
        yield (m, c, cents(m)(c).toSeq)
    ).toDF("m", "cell", "ce")
    // corpus → (vec_id, m, code): pure map + explode
    val codes = e0.select(col("vec_id"),
        explode(pqCodeStructs(col("embedding"), cents)).as("c"))
      .select(col("vec_id"), col("c.m").as("m"), col("c.code").as("code"))
    // query-side ADC lookup table: micro-unit dot of each query subvector
    // with each of the 64 sub-centroids (10 × 64 rows, broadcast)
    val qdots = e0.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .crossJoin(centsDf)
      .select(col("qid"), col("m"), col("cell"),
              round(VectorFunctions.vecDot(
                  slice(col("qe"), col("m") * PqSubDim + 1, lit(PqSubDim)),
                  col("ce")) * 1e6).cast("long").as("dmicro"))
    val adc = codes
      .join(broadcast(qdots),
            codes("m") === qdots("m") && codes("code") === qdots("cell") &&
              col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("dmicro")).as("adc_micro"))
    val short = Ops.topKPerGroup(adc, Seq("qid"), -col("adc_micro"),
                                 col("vec_id"), PqShortlist, rnCol = "srn")
    // exact cosine re-rank of the ADC shortlist
    val e = e0.select(col("vec_id"), col("embedding"),
                      VectorFunctions.vecNorm(col("embedding")).as("nrm"))
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid2"), col("embedding").as("qe"),
              col("nrm").as("qnrm"))
    short
      .join(e, Seq("vec_id"))
      .join(broadcast(q), col("qid") === col("qid2"))
      .select(col("qid"), col("vec_id"), col("srn"),
              round(col("adc_micro").cast("double") / 1e6, 6).as("adc"),
              round(VectorFunctions.vecDot(col("qe"), col("embedding")) /
                      (col("qnrm") * col("nrm")), 6).as("score"))
  }

  /** Shared oracle CTE chain for the PQ funnel, pq_-prefixed so it can
    * coexist with `kmeansFunnelCtes` in one statement (q_ann_ivfpq):
    * md5 sample, seed sub-codebooks, one Lloyd step with micro-unit
    * means, full-corpus encoding by (dot desc, cell asc), and the
    * query-side micro-unit ADC lookup table.
    */
  private def pqFunnelCtes: String = {
    def subdot(vec: String, m: String, ce: String) =
      s"""(SELECT SUM(CAST($vec[$m*$PqSubDim+i.i] AS DOUBLE) * CAST($ce[i.i] AS DOUBLE))
         | FROM generate_series(1, $PqSubDim) i(i))""".stripMargin.replace("\n", "")
    s"""pq_sample AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR) || ':pq'), 1, 15))::BIGINT
       |          % $PqSampleMod = 0),
       |pq_seeds AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cell,
       |         embedding
       |  FROM pq_sample ORDER BY vec_id LIMIT $PqKSub),
       |pq_cents0 AS (
       |  SELECT m.m, s.cell,
       |         list_slice(s.embedding, m.m * $PqSubDim + 1,
       |                    (m.m + 1) * $PqSubDim) AS ce
       |  FROM pq_seeds s CROSS JOIN generate_series(0, ${PqM - 1}) m(m)),
       |pq_asg AS (
       |  SELECT s.vec_id, c.m, c.cell,
       |         row_number() OVER (PARTITION BY s.vec_id, c.m ORDER BY
       |           ${subdot("s.embedding", "c.m", "c.ce")} DESC, c.cell) AS rn
       |  FROM pq_sample s CROSS JOIN pq_cents0 c),
       |pq_upd AS (
       |  SELECT a.m, a.cell, i.i AS dim,
       |         CAST(CAST(SUM(CAST(round(CAST(s.embedding[a.m*$PqSubDim+i.i] AS DOUBLE)
       |                                  * 1000000.0, 0) AS BIGINT)) AS DOUBLE)
       |              / (CAST(count(*) AS DOUBLE) * 1000000.0) AS REAL) AS v
       |  FROM pq_sample s
       |  JOIN pq_asg a ON a.vec_id = s.vec_id AND a.rn = 1
       |  CROSS JOIN generate_series(1, $PqSubDim) i(i)
       |  GROUP BY 1, 2, 3),
       |pq_newc AS (SELECT m, cell, list(v ORDER BY dim) AS ce
       |            FROM pq_upd GROUP BY 1, 2),
       |pq_cents AS (
       |  SELECT c0.m, c0.cell, COALESCE(n.ce, c0.ce) AS ce
       |  FROM pq_cents0 c0
       |  LEFT JOIN pq_newc n ON n.m = c0.m AND n.cell = c0.cell),
       |pq_coderank AS (
       |  SELECT e.vec_id, c.m, c.cell,
       |         row_number() OVER (PARTITION BY e.vec_id, c.m ORDER BY
       |           ${subdot("e.embedding", "c.m", "c.ce")} DESC, c.cell) AS rn
       |  FROM embeddings e CROSS JOIN pq_cents c),
       |pq_codes AS (SELECT vec_id, m, cell AS code FROM pq_coderank WHERE rn = 1),
       |pq_q AS (SELECT vec_id AS qid, embedding FROM embeddings
       |         WHERE vec_id < $NumQueries),
       |pq_qdots AS (
       |  SELECT q.qid, c.m, c.cell,
       |         CAST(round(${subdot("q.embedding", "c.m", "c.ce")} * 1000000.0,
       |                    0) AS BIGINT) AS dmicro
       |  FROM pq_q q CROSS JOIN pq_cents c)""".stripMargin
  }

  /** The PQ ADC chain as bare CTEs (ending at `ranked`), shared by
    * q_ann_pq's oracle and q_pq_recall's — the bm25CtesSql pattern.
    */
  val pqChainCtesSql: String =
    s"""$pqFunnelCtes,
       |adc AS (
       |  SELECT qd.qid, co.vec_id, SUM(qd.dmicro) AS adc_micro
       |  FROM pq_codes co
       |  JOIN pq_qdots qd ON qd.m = co.m AND qd.cell = co.code
       |  WHERE co.vec_id <> qd.qid
       |  GROUP BY 1, 2),
       |short AS (
       |  SELECT *, row_number() OVER (PARTITION BY qid
       |           ORDER BY adc_micro DESC, vec_id) AS srn
       |  FROM adc),
       |nrm AS (
       |  SELECT vec_id, sqrt((SELECT SUM(CAST(embedding[i.i] AS DOUBLE) ** 2)
       |                       FROM generate_series(1, $Dim) i(i))) AS nrm
       |  FROM embeddings),
       |rer AS (
       |  SELECT s.qid, s.vec_id, s.srn,
       |         round(CAST(s.adc_micro AS DOUBLE) / 1000000.0, 6) AS adc,
       |         round((SELECT SUM(CAST(qe.embedding[i.i] AS DOUBLE)
       |                           * CAST(e.embedding[i.i] AS DOUBLE))
       |                FROM generate_series(1, $Dim) i(i))
       |               / (nq.nrm * ne.nrm), 6) AS score
       |  FROM short s
       |  JOIN embeddings e ON e.vec_id = s.vec_id
       |  JOIN embeddings qe ON qe.vec_id = s.qid
       |  JOIN nrm nq ON nq.vec_id = s.qid
       |  JOIN nrm ne ON ne.vec_id = s.vec_id
       |  WHERE s.srn <= $PqShortlist),
       |ranked AS (
       |  SELECT qid, vec_id, adc, score,
       |         CAST(row_number() OVER (PARTITION BY qid
       |                ORDER BY score DESC, vec_id) AS BIGINT) AS rn
       |  FROM rer)""".stripMargin

  val qAnnPqSql: String =
    s"""WITH $pqChainCtesSql
       |SELECT qid, vec_id, adc, score, rn FROM ranked WHERE rn <= $TopK
       |ORDER BY qid, rn""".stripMargin

  // Defined HERE (after pqChainCtesSql) — object vals initialize in
  // declaration order, and this one interpolates the chain val.
  val qPqRecallSql: String =
    s"""WITH $pqChainCtesSql,
       |approx_list AS (SELECT qid, vec_id FROM ranked WHERE rn <= $TopK),
       |$recallTailSql""".stripMargin

  // ------------------------------------------------------------------
  // q_refine_sweep — the RE-RANK DEPTH tuning curve, the third knob of
  // the ANN operating point after nprobe (q_ivf_sweep) and b×r
  // (q_band_sweep): recall@TopK when only the top-`depth` ADC
  // candidates are re-ranked with exact cosine, for depth ∈
  // RefineDepths over ONE code table and ONE ADC pass (train once,
  // sweep the knob — the house sweep discipline). This is the
  // compute/recall trade every two-stage retrieval deployment prices:
  // each re-ranked candidate costs a full-vector fetch + Dim mults, so
  // depth is the dominant per-query cost term once codes fit in cache.
  //
  // Recall is monotone nondecreasing in depth — re-ranking BY EXACT
  // SCORE from a superset candidate set can never evict a true-top-K
  // member (fewer than K vectors beat it globally, so fewer than K can
  // beat it in any candidate subset); RefineSweepSpec states and pins
  // the theorem, with q_pq_recall (depth = PqShortlist) as the curve's
  // closed end.
  //
  // Scale shape: the ADC scan + shortlist runs once (persisted,
  // K-bounded per query); each sweep point adds only a filter over the
  // ≤PqShortlist-per-query re-ranked list and two bounded counts —
  // the whole curve is one index pass plus metadata-sized evals.
  // ------------------------------------------------------------------
  val RefineDepths: Seq[Int] = Seq(5, 10, 20, PqShortlist)

  val qRefineSweep: Q = (s, d) => {
    val e0 = Tables.embeddings(s, d)
    // Checkpointed leaves, not persist (round 15): the per-point
    // branches under the one report action otherwise race the unfilled
    // caches and re-optimize the PQ/brute-force funnels per stage-job.
    val rer = graft.PlanMode.checkpointTail(pqRerankedShortlist(s, e0))
    val exact = graft.PlanMode.checkpointTail(
      exactTopk(s, d).select(col("qid"), col("vec_id")))
    // Round-15 shape: ONE fused plan for the whole depth curve (the
    // qIvfSweep note) — each re-ranked row fans out to every depth that
    // includes its shortlist rank, then one (depth, qid) top-K + one
    // semi-join + one bounded aggregate replace the per-depth branches.
    val cArr = array(RefineDepths.map(c => lit(c.toLong)): _*)
    val fanned = rer.select(col("qid"), col("vec_id"), col("score"),
        explode(filter(cArr, c => c >= col("srn"))).as("depth"))
    val approxAll = Ops.topKPerGroup(fanned, Seq("depth", "qid"),
                                     -col("score"), col("vec_id"), TopK)
      .select(col("depth"), col("qid"), col("vec_id"))
    val hits = approxAll.join(exact, Seq("qid", "vec_id"), "left_semi")
      .groupBy(col("depth")).agg(count(lit(1)).as("n_hits"))
    val points = e0.sparkSession.range(1).select(explode(cArr).as("depth"))
    val out = points
      .crossJoin(exact.agg(count(lit(1)).as("n_exact")))
      .join(hits, Seq("depth"), "left")
      .select(col("depth"), col("n_exact"),
              coalesce(col("n_hits"), lit(0L)).as("n_hits"),
              round(coalesce(col("n_hits"), lit(0L)).cast("double")
                      / col("n_exact").cast("double"), 6).as("recall"))
      .orderBy(col("depth"))
    out
  }

  val qRefineSweepSql: String = {
    val per = RefineDepths.map { c =>
      s"""rappx_$c AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id,
         |           row_number() OVER (PARTITION BY qid
         |             ORDER BY score DESC, vec_id) AS rn
         |    FROM rer WHERE srn <= $c) WHERE rn <= $TopK),
         |rrow_$c AS (
         |  SELECT CAST($c AS BIGINT) AS depth,
         |         (SELECT CAST(COUNT(*) AS BIGINT) FROM exact) AS n_exact,
         |         (SELECT CAST(COUNT(*) AS BIGINT) FROM exact x
         |          JOIN rappx_$c v ON v.qid = x.qid AND v.vec_id = x.vec_id)
         |           AS n_hits)""".stripMargin
    }
    s"""WITH $pqChainCtesSql,
       |$exactListCtesSql,
       |${per.mkString(",\n")}
       |SELECT depth, n_exact, n_hits,
       |       ROUND(CAST(n_hits AS DOUBLE) / CAST(n_exact AS DOUBLE), 6)
       |         AS recall
       |FROM (${RefineDepths.map(c => s"SELECT * FROM rrow_$c")
                 .mkString(" UNION ALL ")})
       |ORDER BY depth""".stripMargin
  }

  // ------------------------------------------------------------------
  // q_sq_recall — scalar-quantization (int8) retrieval eval, the FIFTH
  // axis of the recall panel: IVF prunes CANDIDATES, LSH prunes
  // BUCKETS, PQ compresses CODES, MRL truncates DIMENSIONS, SQ shrinks
  // BITS-PER-VALUE — each vector stored as 64 one-byte codes under the
  // per-vector (min, max) affine map q_embed_quantize audits, cutting
  // the float32 store 4× with no codebook to train. Retrieval is
  // brute-force cosine over the RECONSTRUCTED (dequantized) vectors —
  // the symmetric-distance regime an SQ8 index actually scans in —
  // graded against the full-precision exact top-K (formRecall; the
  // oracle's tail is the shared recallTailSql).
  //
  // Exactness: reconstruction is the floor-based double arithmetic of
  // q_embed_quantize verbatim, snapped to REAL per element (DuckDB's
  // CAST(… AS REAL) ≡ Java's .toFloat — the planeSqlReal precedent),
  // so both engines score the identical float vectors with the same
  // in-index-order double folds and round-6 tiebreak.
  //
  // Scale shape: the recon projection is map-only, and ONE
  // NumQueries-sampled candidate scan scores both the full and the
  // dequantized vectors; one qid-keyed bounded top-K aggregation ranks
  // both (formRecall) — the operator prices the 4× bandwidth cut, it
  // does not add plan weight.
  // ------------------------------------------------------------------
  val SqLevels = 255

  /** Map-only dequantized corpus: per-vector affine int8 round trip,
    * reconstructed values snapped to float. (vec_id, recon).
    */
  private[graft] def sqReconstructed(e0: DataFrame): DataFrame =
    withSqRecon(e0).select(col("vec_id"), col("recon"))

  /** `e0` with `recon`, the dequantized form of `embedding`, appended —
    * the one definition of the SQ vector.
    */
  private def withSqRecon(e0: DataFrame): DataFrame = {
    val xd = (c: Column) => c.cast("double")
    e0.withColumn("mn", xd(array_min(col("embedding"))))
      .withColumn("scale",
        (xd(array_max(col("embedding"))) - col("mn")) / lit(SqLevels.toDouble))
      .withColumn("recon", transform(col("embedding"), x =>
        when(col("scale") === 0.0, col("mn")).otherwise(
          col("mn") + floor((xd(x) - col("mn")) / col("scale"))
            * col("scale")).cast("float")))
      .drop("mn", "scale")
  }

  val qSqRecall: Q = (s, d) =>
    formRecall(withSqRecon(Tables.embeddings(s, d)), col("recon"))

  val qSqRecallSql: String = {
    val recon =
      s"""CAST(CASE WHEN scale = 0 THEN mn
         |          ELSE mn + floor((CAST(x AS DOUBLE) - mn) / scale) * scale
         |     END AS REAL)""".stripMargin.replace("\n", " ")
    s"""WITH nrm AS (
       |  SELECT vec_id, sqrt((SELECT SUM(CAST(embedding[i.i] AS DOUBLE) ** 2)
       |                       FROM generate_series(1, $Dim) i(i))) AS nrm
       |  FROM embeddings),
       |sq AS (
       |  SELECT vec_id, embedding,
       |         CAST(list_min(embedding) AS DOUBLE) AS mn,
       |         (CAST(list_max(embedding) AS DOUBLE)
       |            - CAST(list_min(embedding) AS DOUBLE)) / $SqLevels.0
       |           AS scale
       |  FROM embeddings),
       |rq AS (
       |  SELECT vec_id,
       |         list_transform(embedding, x -> $recon) AS recon
       |  FROM sq),
       |rnrm AS (
       |  SELECT vec_id, sqrt((SELECT SUM(CAST(recon[i.i] AS DOUBLE) ** 2)
       |                       FROM generate_series(1, $Dim) i(i))) AS rn
       |  FROM rq),
       |sqq AS (SELECT vec_id AS qid, recon AS qrecon FROM rq
       |        WHERE vec_id < $NumQueries),
       |scand AS (
       |  SELECT sqq.qid, e.vec_id,
       |         round((SELECT SUM(CAST(qrecon[i.i] AS DOUBLE)
       |                           * CAST(e.recon[i.i] AS DOUBLE))
       |                FROM generate_series(1, $Dim) i(i)) / (nq.rn * ne.rn),
       |               6) AS score
       |  FROM sqq
       |  JOIN rq e ON e.vec_id <> sqq.qid
       |  JOIN rnrm nq ON nq.vec_id = sqq.qid
       |  JOIN rnrm ne ON ne.vec_id = e.vec_id),
       |approx_list AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |           row_number() OVER (PARTITION BY qid
       |             ORDER BY score DESC, vec_id) AS rn
       |    FROM scand) WHERE rn <= $TopK),
       |$recallTailSql""".stripMargin
  }

  // ------------------------------------------------------------------
  // q_mrl_recall — Matryoshka-style dimension-truncation eval
  // (Kusupati et al. 2022, "Matryoshka Representation Learning"): grade
  // brute-force cosine retrieval over only the FIRST MrlDim of Dim
  // embedding dimensions against the full-dimension exact top-K. This
  // is the storage/recall knob a 100 TB pipeline prices before
  // committing to truncated vectors (16 of 64 dims = 4x smaller index,
  // 4x cheaper scans — worth exactly as much recall as this number
  // says); it completes the recall panel's fourth axis: IVF prunes
  // CANDIDATES, LSH prunes BUCKETS, PQ compresses CODES, MRL truncates
  // DIMENSIONS, all graded against one shared exact baseline.
  //
  // Exactness: the truncated side is the q_similarity_topk arithmetic
  // verbatim on slice(embedding, 1, MrlDim) — same round-6 score, same
  // (score DESC, vec_id) tiebreak — and the eval counts hits as
  // BIGINTs (formRecall; the oracle's tail is the shared
  // recallTailSql), so recall is one division of identical integers.
  //
  // Scale shape: the q_sq_recall shape — one NumQueries-sampled
  // brute-force scan scores both the full and the truncated vectors,
  // and one qid-keyed bounded top-K aggregation ranks both. A
  // truncated-only index reads MrlDim/Dim of the vector bytes (the
  // knob's entire point); the eval reads both, once.
  // ------------------------------------------------------------------
  val MrlDim = 16

  /** The first `dims` dimensions of a vector — MRL's truncated form. */
  private def mrlTruncated(emb: Column, dims: Int): Column = slice(emb, 1, dims)

  /** Brute-force cosine top-K over the first `dims` dimensions —
    * parametrized so the spec can pin dims = Dim ≡ the exact retrieval
    * (structural self-consistency of the truncation pipeline).
    */
  def mrlTopk(s: SparkSession, d: String, dims: Int): DataFrame =
    bruteTopk(Tables.embeddings(s, d), mrlTruncated(col("embedding"), dims))
      .select(col("qid"), col("vec_id"))

  val qMrlRecall: Q = (s, d) =>
    formRecall(Tables.embeddings(s, d), mrlTruncated(col("embedding"), MrlDim))

  val qMrlRecallSql: String =
    s"""WITH nrm AS (
       |  SELECT vec_id, sqrt((SELECT SUM(CAST(embedding[i.i] AS DOUBLE) ** 2)
       |                       FROM generate_series(1, $Dim) i(i))) AS nrm
       |  FROM embeddings),
       |tnrm AS (
       |  SELECT vec_id, sqrt((SELECT SUM(CAST(embedding[i.i] AS DOUBLE) ** 2)
       |                       FROM generate_series(1, $MrlDim) i(i))) AS tn
       |  FROM embeddings),
       |mq AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
       |       WHERE vec_id < $NumQueries),
       |mcand AS (
       |  SELECT mq.qid, e.vec_id,
       |         round((SELECT SUM(CAST(qe[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE))
       |                FROM generate_series(1, $MrlDim) i(i)) / (tq.tn * te.tn), 6) AS score
       |  FROM mq
       |  JOIN embeddings e ON e.vec_id <> mq.qid
       |  JOIN tnrm tq ON tq.vec_id = mq.qid
       |  JOIN tnrm te ON te.vec_id = e.vec_id),
       |approx_list AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id,
       |           row_number() OVER (PARTITION BY qid
       |             ORDER BY score DESC, vec_id) AS rn
       |    FROM mcand) WHERE rn <= $TopK),
       |$recallTailSql""".stripMargin

  // ------------------------------------------------------------------
  // q_ivf_sweep — the IVF TUNING CURVE: recall@TopK at nprobe ∈
  // {1, 2, 4, 8} over ONE shared codebook, the number an ANN deployment
  // reads to pick its scan-fraction/recall operating point (probing p
  // of NumCells cells reads ~p/NumCells of the corpus — the entire
  // point of the index — and this query prices what each step of that
  // dial buys). The q_threshold_sweep discipline applied to retrieval:
  // train once, sweep the knob, emit the curve.
  //
  // Exactness: each sweep point is the q_ann_ivf retrieval verbatim
  // (shared ivfProbeTopk, shared kmeans funnel in the oracle) against
  // the shared exact list; counts are BIGINTs and recall is one
  // division of identical integers — micro-averaged over queries
  // (Σhits/Σexact), matching the oracle's aggregate exactly.
  //
  // Scale shape: the corpus-side cell assignment (the expensive full
  // scan) is computed ONCE and persisted across the whole curve; each
  // sweep point adds only its probe join (p/NumCells of the corpus)
  // and a K-bounded semi-join against the persisted exact list. The
  // exact baseline is the NumQueries-sampled brute-force scan — the
  // eval's documented fixed budget, not a corpus-scaling cost.
  // ------------------------------------------------------------------
  val SweepProbes = Seq(1, 2, 4, 8)

  val qIvfSweep: Q = (s, d) => {
    val e0 = Tables.embeddings(s, d)
    val mat = trainCodebook(e0)
    // Checkpointed leaves, not persist (round 15) — the qRefineSweep
    // rationale: one materialization each, leaf plans for all points.
    val e = graft.PlanMode.checkpointTail(ivfAssigned(e0, mat))
    val exact = graft.PlanMode.checkpointTail(
      exactTopk(s, d).select(col("qid"), col("vec_id")))
    // Round-15 shape: ONE fused plan for the whole nprobe curve instead
    // of a 4-branch union that re-ran the probe join per point (the
    // sweep was pure job cadence — 37 AQE stage-jobs, cpu ≈ 1 s). Each
    // candidate row knows its probe cell's RANK, so fanning it out to
    // every sweep point with nprobe ≥ that rank reproduces exactly the
    // per-point candidate sets, and one (nprobe, qid) top-K + one
    // semi-join + one bounded aggregate replace the per-point branches.
    // Identical rows: same comparator per group, same score expression,
    // zero-hit points still emitted via the dense point frame.
    val maxP = SweepProbes.max
    val q = e0.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
              VectorFunctions.vecNorm(col("embedding")).as("qnrm"),
              posexplode(slice(VectorFunctions.matrixDotRank(col("embedding"),
                                                             mat, Dim),
                               1, maxP)))
      .select(col("qid"), col("qe"), col("qnrm"),
              col("col").cast("bigint").as("probe_cell"),
              (col("pos") + 1).cast("long").as("cell_rank"))
    val pArr = array(SweepProbes.map(p => lit(p.toLong)): _*)
    val cand = e.join(broadcast(q),
                      col("cell") === col("probe_cell") &&
                        col("vec_id") =!= col("qid"))
      .withColumn("score",
        round(VectorFunctions.vecDot(col("qe"), col("embedding")) /
                (col("qnrm") * col("nrm")), 6))
      .select(col("qid"), col("vec_id"), col("score"),
              explode(filter(pArr, p => p >= col("cell_rank"))).as("nprobe"))
    val approxAll = Ops.topKPerGroup(cand, Seq("nprobe", "qid"),
                                     -col("score"), col("vec_id"), TopK)
      .select(col("nprobe"), col("qid"), col("vec_id"))
    val hits = approxAll.join(exact, Seq("qid", "vec_id"), "left_semi")
      .groupBy(col("nprobe")).agg(count(lit(1)).as("n_hits"))
    val points = e0.sparkSession.range(1)
      .select(explode(pArr).as("nprobe"))
    val out = points
      .crossJoin(exact.agg(count(lit(1)).as("n_exact")))
      .join(hits, Seq("nprobe"), "left")
      .select(col("nprobe"), col("n_exact"),
              coalesce(col("n_hits"), lit(0L)).as("n_hits"),
              round(coalesce(col("n_hits"), lit(0L)).cast("double")
                      / col("n_exact").cast("double"), 6).as("recall"))
      .orderBy(col("nprobe"))
    out
  }

  val qIvfSweepSql: String = {
    val per = SweepProbes.map { p =>
      s"""sprobes_$p AS (
         |  SELECT vec_id AS qid, cell AS probe_cell FROM dots
         |  WHERE vec_id < $NumQueries AND cell_rn <= $p),
         |scand_$p AS (
         |  SELECT sp.qid, e.vec_id,
         |         round((SELECT SUM(CAST(q.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE))
         |                FROM generate_series(1, $Dim) i(i)) / (nq.nrm * ne.nrm), 6) AS score
         |  FROM sprobes_$p sp
         |  JOIN assigned a ON a.cell = sp.probe_cell
         |  JOIN embeddings e ON e.vec_id = a.vec_id
         |  JOIN embeddings q ON q.vec_id = sp.qid
         |  JOIN nrm nq ON nq.vec_id = sp.qid
         |  JOIN nrm ne ON ne.vec_id = e.vec_id
         |  WHERE e.vec_id <> sp.qid),
         |sappx_$p AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id,
         |           row_number() OVER (PARTITION BY qid
         |             ORDER BY score DESC, vec_id) AS rn
         |    FROM scand_$p) WHERE rn <= $TopK),
         |srow_$p AS (
         |  SELECT CAST($p AS BIGINT) AS nprobe,
         |         (SELECT CAST(COUNT(*) AS BIGINT) FROM exact) AS n_exact,
         |         (SELECT CAST(COUNT(*) AS BIGINT) FROM exact x
         |          JOIN sappx_$p v ON v.qid = x.qid AND v.vec_id = x.vec_id)
         |           AS n_hits)""".stripMargin
    }
    s"""WITH $kmeansFunnelCtes,
       |$exactListCtesSql,
       |${per.mkString(",\n")}
       |SELECT nprobe, n_exact, n_hits,
       |       ROUND(CAST(n_hits AS DOUBLE) / CAST(n_exact AS DOUBLE), 6)
       |         AS recall
       |FROM (${SweepProbes.map(p => s"SELECT * FROM srow_$p")
                 .mkString(" UNION ALL ")})
       |ORDER BY nprobe""".stripMargin
  }

  // ------------------------------------------------------------------
  // IVF-PQ (q_ann_ivfpq): the composed 100 TB ANN path — the IVF coarse
  // quantizer prunes the search to NProbe cells (read ~NProbe/NumCells
  // of the corpus), and WITHIN those cells candidates are scored by PQ
  // ADC codes (8 bytes/vector instead of 256), with exact cosine
  // re-ranking of the shortlist. Both codebooks are the already-oracled
  // training funnels (IVF: 2 Lloyd iters; PQ: 1 joint Lloyd step).
  // This variant encodes raw vectors, not IVF residuals: residual
  // encoding buys fidelity but needs float-subtraction parity across
  // engines; the pruning/bandwidth structure — the part that matters
  // at scale — is identical.
  // ------------------------------------------------------------------
  val qAnnIvfpq: Q = (s, d) => {
    val e0 = Tables.embeddings(s, d)
    val ivfMat = trainCodebook(e0)
    val cents = trainPqCodebook(e0)
    val centsDf = s.createDataFrame(
      for (m <- 0 until PqM; c <- 0 until PqKSub)
        yield (m, c, cents(m)(c).toSeq)
    ).toDF("m", "cell", "ce")
    def rankedCells(emb: Column): Column =
      VectorFunctions.matrixDotRank(emb, ivfMat, Dim)
    // corpus: one map pass emits the coarse cell + the 8 PQ codes
    val coded = e0.select(col("vec_id"),
        element_at(rankedCells(col("embedding")), 1)
          .cast("bigint").as("cell"),
        explode(pqCodeStructs(col("embedding"), cents)).as("c"))
      .select(col("vec_id"), col("cell"),
              col("c.m").as("m"), col("c.code").as("code"))
    // queries: probed cells × ADC lookup table, both bounded+broadcast
    val probes = e0.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"),
              explode(slice(rankedCells(col("embedding")), 1, NProbe)).as("pc"))
      .select(col("qid"), col("pc").cast("bigint").as("probe_cell"))
    val qdots = e0.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .crossJoin(centsDf)
      .select(col("qid"), col("m"), col("cell").as("pcell"),
              round(VectorFunctions.vecDot(
                  slice(col("qe"), col("m") * PqSubDim + 1, lit(PqSubDim)),
                  col("ce")) * 1e6).cast("long").as("dmicro"))
    val adc = coded
      .join(broadcast(probes), col("cell") === col("probe_cell"))
      .join(broadcast(qdots),
            coded("m") === qdots("m") && coded("code") === qdots("pcell") &&
              coded("vec_id") =!= qdots("qid") && probes("qid") === qdots("qid"))
      .select(probes("qid").as("qid"), coded("vec_id").as("vec_id"),
              coded("cell").as("cell"), col("dmicro"))
      .groupBy(col("qid"), col("vec_id"), col("cell"))
      .agg(sum(col("dmicro")).as("adc_micro"))
    val short = Ops.topKPerGroup(adc, Seq("qid"), -col("adc_micro"),
                                 col("vec_id"), PqShortlist, rnCol = "srn")
    val e = e0.select(col("vec_id"), col("embedding"),
                      VectorFunctions.vecNorm(col("embedding")).as("nrm"))
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid2"), col("embedding").as("qe"),
              col("nrm").as("qnrm"))
    val rer = short
      .join(e, Seq("vec_id"))
      .join(broadcast(q), col("qid") === col("qid2"))
      .select(col("qid"), col("cell"), col("vec_id"),
              round(col("adc_micro").cast("double") / 1e6, 6).as("adc"),
              round(VectorFunctions.vecDot(col("qe"), col("embedding")) /
                      (col("qnrm") * col("nrm")), 6).as("score"))
    Ops.topKPerGroup(rer, Seq("qid"), -col("score"), col("vec_id"), TopK)
      .select(col("qid"), col("cell"), col("vec_id"), col("adc"),
              col("score"), col("rn"))
      .orderBy(col("qid"), col("rn"))
  }

  /** DuckDB oracle: both training funnels' CTE chains composed — IVF
    * probes restrict the candidate set, PQ codes supply the ADC score,
    * exact cosine re-ranks the shortlist.
    */
  val qAnnIvfpqSql: String =
    s"""WITH $kmeansFunnelCtes,
       |$pqFunnelCtes,
       |probes AS (
       |  SELECT vec_id AS qid, cell AS probe_cell FROM dots
       |  WHERE vec_id < $NumQueries AND cell_rn <= $NProbe),
       |adc AS (
       |  SELECT p.qid, a.vec_id, a.cell, SUM(qd.dmicro) AS adc_micro
       |  FROM probes p
       |  JOIN assigned a ON a.cell = p.probe_cell
       |  JOIN pq_codes co ON co.vec_id = a.vec_id
       |  JOIN pq_qdots qd ON qd.qid = p.qid AND qd.m = co.m
       |                  AND qd.cell = co.code
       |  WHERE a.vec_id <> p.qid
       |  GROUP BY 1, 2, 3),
       |short AS (
       |  SELECT *, row_number() OVER (PARTITION BY qid
       |           ORDER BY adc_micro DESC, vec_id) AS srn
       |  FROM adc),
       |rer AS (
       |  SELECT s.qid, s.cell, s.vec_id,
       |         round(CAST(s.adc_micro AS DOUBLE) / 1000000.0, 6) AS adc,
       |         round((SELECT SUM(CAST(qe.embedding[i.i] AS DOUBLE)
       |                           * CAST(e.embedding[i.i] AS DOUBLE))
       |                FROM generate_series(1, $Dim) i(i))
       |               / (nq.nrm * ne.nrm), 6) AS score
       |  FROM short s
       |  JOIN embeddings e ON e.vec_id = s.vec_id
       |  JOIN embeddings qe ON qe.vec_id = s.qid
       |  JOIN nrm nq ON nq.vec_id = s.qid
       |  JOIN nrm ne ON ne.vec_id = s.vec_id
       |  WHERE s.srn <= $PqShortlist),
       |ranked AS (
       |  SELECT qid, cell, vec_id, adc, score,
       |         CAST(row_number() OVER (PARTITION BY qid
       |                ORDER BY score DESC, vec_id) AS BIGINT) AS rn
       |  FROM rer)
       |SELECT qid, cell, vec_id, adc, score, rn FROM ranked WHERE rn <= $TopK
       |ORDER BY qid, rn""".stripMargin

  // ------------------------------------------------------------------
  // K-means clustering summary — the codebook surfaced as a first-class
  // clustering OPERATOR (corpus partitioning for curriculum mixing /
  // diversity-balanced sampling), not just IVF plumbing: train, assign
  // every vector, and report per-cluster size, label diversity, id
  // range and total norm. Norm sums ride the round-6→DECIMAL exact-sum
  // discipline so the double aggregate is order-free.
  // ------------------------------------------------------------------
  val qKmeansCells: Q = (s, d) => {
    val e0 = Tables.embeddings(s, d)
    val mat = trainCodebook(e0)
    e0.select(col("vec_id"), col("label"),
              element_at(
                VectorFunctions.matrixDotRank(col("embedding"), mat, Dim), 1)
                .cast("bigint").as("cell"),
              VectorFunctions.vecNorm(col("embedding")).as("nrm"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"),
           count_distinct(col("label")).as("n_labels"),
           min(col("vec_id")).as("min_vec_id"),
           sum(round(col("nrm"), 6).cast("decimal(18,6)")).cast("double")
             .as("sum_norm"))
      .orderBy(col("cell"))
  }

  val qKmeansCellsSql: String =
    s"""WITH $kmeansFunnelCtes
       |SELECT a.cell, count(*) AS n_vecs,
       |       CAST(count(DISTINCT e.label) AS BIGINT) AS n_labels,
       |       min(e.vec_id) AS min_vec_id,
       |       CAST(SUM(CAST(round(n.nrm, 6) AS DECIMAL(18,6))) AS DOUBLE)
       |         AS sum_norm
       |FROM assigned a
       |JOIN embeddings e ON e.vec_id = a.vec_id
       |JOIN nrm n ON n.vec_id = a.vec_id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // q_cluster_purity — the external clustering eval: per k-means cell,
  // the majority gold label, its count, and purity = majority/size,
  // plus the corpus-level weighted purity as a sentinel cell = -1 row
  // (Σ majority / Σ size — the one number a curriculum/mixture
  // designer reads before trusting cells as topic units). Majority
  // ties break (count DESC, label ASC) — deterministic on both
  // engines. On the sf gates' near-uniform embeddings purity sits near
  // 1/|labels| (the honest geometry baseline, same caveat as the
  // recall panel); on clustered embeddings it approaches 1 — the spec
  // pins the fold algebra on a crafted assignment and the bounds at
  // the gate.
  //
  // Scale shape: one (cell, label)-keyed partial agg — bounded output
  // (NumCells × |labels| rows) from the same map-only assignment scan
  // q_kmeans_cells rides; everything downstream is arithmetic over
  // that bounded table.
  // ------------------------------------------------------------------
  val qClusterPurity: Q = (s, d) => {
    val e0 = Tables.embeddings(s, d)
    val mat = trainCodebook(e0)
    purityOf(e0.select(
      col("label").cast("bigint").as("label"),
      element_at(VectorFunctions.matrixDotRank(col("embedding"), mat, Dim), 1)
        .cast("bigint").as("cell")))
  }

  /** The purity fold over any (cell, label) assignment frame — split
    * out so specs can pin the majority/tie/total algebra exactly on a
    * crafted assignment.
    */
  def purityOf(asg: DataFrame): DataFrame = {
    val cl = asg.groupBy(col("cell"), col("label"))
      .agg(count(lit(1)).as("n")) // bounded: cells × labels
    val top = Ops.topKPerGroup(cl, Seq("cell"), -col("n"), col("label"), 1)
      .select(col("cell"), col("label").as("top_label"), col("n").as("top_n"))
    val size = cl.groupBy(col("cell")).agg(sum(col("n")).as("n_vecs"))
    val per = size.join(top, Seq("cell"))
      .select(col("cell"), col("n_vecs"), col("top_label"), col("top_n"),
              round(col("top_n").cast("double")
                      / col("n_vecs").cast("double"), 6).as("purity"))
    val tot = per
      .agg(sum(col("n_vecs")).as("n_vecs"), sum(col("top_n")).as("top_n"))
      .select(lit(-1L).as("cell"), col("n_vecs"),
              lit(-1L).as("top_label"), col("top_n"),
              round(col("top_n").cast("double")
                      / col("n_vecs").cast("double"), 6).as("purity"))
    per.unionByName(tot).orderBy(col("cell"))
  }

  val qClusterPuritySql: String =
    s"""WITH $kmeansFunnelCtes,
       |cl AS (
       |  SELECT a.cell, CAST(e.label AS BIGINT) AS label,
       |         CAST(count(*) AS BIGINT) AS n
       |  FROM assigned a JOIN embeddings e ON e.vec_id = a.vec_id
       |  GROUP BY 1, 2),
       |top AS (
       |  SELECT cell, label AS top_label, n AS top_n FROM (
       |    SELECT *, row_number() OVER (PARTITION BY cell
       |                                 ORDER BY n DESC, label) AS rn
       |    FROM cl) WHERE rn = 1),
       |sz AS (SELECT cell, CAST(SUM(n) AS BIGINT) AS n_vecs
       |       FROM cl GROUP BY 1),
       |per AS (
       |  SELECT s.cell, s.n_vecs, t.top_label, t.top_n,
       |         ROUND(CAST(t.top_n AS DOUBLE) / CAST(s.n_vecs AS DOUBLE), 6)
       |           AS purity
       |  FROM sz s JOIN top t ON t.cell = s.cell),
       |tot AS (
       |  SELECT CAST(-1 AS BIGINT) AS cell,
       |         CAST(SUM(n_vecs) AS BIGINT) AS n_vecs,
       |         CAST(-1 AS BIGINT) AS top_label,
       |         CAST(SUM(top_n) AS BIGINT) AS top_n,
       |         ROUND(CAST(SUM(top_n) AS DOUBLE)
       |               / CAST(SUM(n_vecs) AS DOUBLE), 6) AS purity
       |  FROM per)
       |SELECT * FROM per UNION ALL SELECT * FROM tot ORDER BY cell""".stripMargin

  // ------------------------------------------------------------------
  // Int8 range quantization audit: per-vector (min, max) affine code
  // (the storage format that cuts a float32 embedding store 4×), with
  // the reconstruction MSE aggregated per label. All quantization math
  // is floor-based double arithmetic (floor is deterministic where
  // round-half could straddle engines), the per-vector MSE is an
  // in-index-order fold, and the per-label sum rides DECIMAL — so a
  // lossy-compression audit still hash-matches its oracle exactly.
  // ------------------------------------------------------------------
  val qEmbedQuantize: Q = (s, d) => {
    val xd = (c: Column) => c.cast("double")
    val e = Tables.embeddings(s, d)
      .select(col("label"), col("vec_id"), col("embedding"),
              xd(array_min(col("embedding"))).as("mn"),
              xd(array_max(col("embedding"))).as("mx"))
      .withColumn("scale", (col("mx") - col("mn")) / 255.0)
      .withColumn("mse", round(
        when(col("scale") === 0.0, 0.0).otherwise(
          aggregate(col("embedding"), lit(0.0), (acc, x) => {
            val err = xd(x) -
              (col("mn") + floor((xd(x) - col("mn")) / col("scale")) * col("scale"))
            acc + err * err
          }) / lit(Dim.toDouble)), 6))
    e.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
           sum(col("mse").cast("decimal(18,6)")).cast("double").as("sum_mse"),
           round(max(col("mx") - col("mn")), 6).as("max_range"))
      .orderBy(col("label"))
  }

  val qEmbedQuantizeSql: String = {
    val x = "CAST(s.embedding[i.i] AS DOUBLE)"
    val recon = s"(s.mn + floor(($x - s.mn) / s.scale) * s.scale)"
    s"""WITH per AS (
       |  SELECT label, vec_id, embedding,
       |         CAST(list_min(embedding) AS DOUBLE) AS mn,
       |         CAST(list_max(embedding) AS DOUBLE) AS mx
       |  FROM embeddings),
       |sc AS (SELECT *, (mx - mn) / 255.0 AS scale FROM per),
       |m AS (
       |  SELECT label, mx - mn AS range,
       |         round(CASE WHEN scale = 0 THEN 0.0 ELSE
       |           (SELECT SUM(($x - $recon) * ($x - $recon))
       |            FROM generate_series(1, $Dim) i(i)) / $Dim.0 END, 6) AS mse
       |  FROM sc s)
       |SELECT label, count(*) AS n_vecs,
       |       CAST(SUM(CAST(mse AS DECIMAL(18,6))) AS DOUBLE) AS sum_mse,
       |       round(max(range), 6) AS max_range
       |FROM m GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ------------------------------------------------------------------
  // Cluster LABELING (q_cluster_topics) — the cross-modal composition:
  // k-means cells over the embedding table joined to the documents
  // table on id, reporting each cluster's top-3 terms by member token
  // count. This is what makes a clustering actionable for curriculum /
  // mixture decisions ("cluster 7 is the code-heavy slice"). The
  // (vec_id, cell) assignment is corpus-sized, so the join shuffles on
  // the id key and the term count partial-aggregates; top-3 per cell
  // is a window over the bounded (cell, term) table.
  // ------------------------------------------------------------------
  val TopicsPerCell = 3

  val qClusterTopics: Q = (s, d) => {
    val e0 = Tables.embeddings(s, d)
    val mat = trainCodebook(e0)
    val cells = e0.select(col("vec_id"),
      element_at(VectorFunctions.matrixDotRank(col("embedding"), mat, Dim), 1)
        .cast("bigint").as("cell"))
    // collapse to per-(doc, term) counts BEFORE the cells join, so the
    // id-key shuffle moves distinct pairs rather than every occurrence
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), explode(Ops.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("m"))
    val counts = tok.join(cells, tok("doc_id") === cells("vec_id"))
      .groupBy(col("cell"), col("term")).agg(sum(col("m")).as("cnt"))
    Ops.topKPerGroup(counts, Seq("cell"), -col("cnt"), col("term"),
                     TopicsPerCell)
      .select(col("cell"), col("rn"), col("term"), col("cnt"))
      .orderBy(col("cell"), col("rn"))
  }

  val qClusterTopicsSql: String =
    s"""WITH $kmeansFunnelCtes,
       |tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |  FROM documents),
       |counts AS (
       |  SELECT a.cell, t.term, COUNT(*) AS cnt
       |  FROM tok t JOIN assigned a ON a.vec_id = t.doc_id
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT cell, term, cnt,
       |         CAST(row_number() OVER (PARTITION BY cell
       |                ORDER BY cnt DESC, term ASC) AS BIGINT) AS rn
       |  FROM counts)
       |SELECT cell, rn, term, cnt FROM ranked WHERE rn <= $TopicsPerCell
       |ORDER BY cell, rn""".stripMargin

  // ------------------------------------------------------------------
  // q_semdedup — SemDeDup-style semantic deduplication (Abbas et al.
  // 2023): cluster the embedding space with the TRAINED k-means funnel
  // (the same seeded-Lloyd codebook as IVF — not the given labels,
  // which is what separates this from q_dedup_embedding's label
  // blocking), find near-duplicate pairs WITHIN each cell, and keep the
  // member of each duplicate relation with the LOWEST cosine to its
  // cell centroid (the paper's keep-rule: prefer the least-redundant
  // exemplar). A vector is dropped iff some same-cell partner at
  // cos >= SemDupThreshold has strictly lower centroid-cosine (ties by
  // smaller vec_id), so in a fully-connected duplicate group exactly
  // the min-centroid-cosine member survives — deterministic and
  // order-free.
  //
  // Scale shape: candidate generation never leaves a cell — at 100 TB
  // NumCells grows ~sqrt(corpus) (the paper's regime) so per-cell
  // pairwise work stays bounded, and SemCellCap caps participation per
  // cell (rank by vec_id, mirrored in the oracle) as the same
  // degenerate-mega-cell defense as AhMaxBucket/MaxGramDf — capped-out
  // members pass through kept, never silently vanish. All comparisons
  // use 6-decimal-rounded cosines on both engines, so a last-ulp
  // summation difference can never flip a drop decision.
  // ------------------------------------------------------------------
  val SemDupThreshold = 0.3
  val SemCellCap = 256

  val qSemDedup: Q = (s, d) => {
    import s.implicits._
    val e0 = Tables.embeddings(s, d)
    val mat = trainCodebook(e0)
    val cents = (0 until NumCells)
      .map(c => (c.toLong, mat.slice(c * Dim, (c + 1) * Dim).toSeq))
      .toDF("cell", "ce")
      .withColumn("cnrm", VectorFunctions.vecNorm(col("ce")))
    val mem = e0.select(col("vec_id"), col("embedding"),
        element_at(
          VectorFunctions.matrixDotRank(col("embedding"), mat, Dim), 1)
          .cast("bigint").as("cell"),
        VectorFunctions.vecNorm(col("embedding")).as("nrm"))
      .join(broadcast(cents), Seq("cell"))
      .withColumn("cent_cos",
        round(VectorFunctions.vecDot(col("embedding"), col("ce")) /
                (col("nrm") * col("cnrm")), 6))
    val part = Ops.topKPerGroup(mem, Seq("cell"), col("vec_id"),
                                col("vec_id"), graft.GraftConf.semCellCap(s))
      .select(col("cell"), col("vec_id"), col("embedding"), col("nrm"),
              col("cent_cos"))
    val a = part.select(col("cell"), col("vec_id").as("va"),
                        col("embedding").as("ea"), col("nrm").as("na"),
                        col("cent_cos").as("ca"))
    val b = part.select(col("cell"), col("vec_id").as("vb"),
                        col("embedding").as("eb"), col("nrm").as("nb"),
                        col("cent_cos").as("cb"))
    val losers = a.join(b, Seq("cell"))
      .filter(col("va") < col("vb"))
      .withColumn("cos",
        round(VectorFunctions.vecDot(col("ea"), col("eb")) /
                (col("na") * col("nb")), 6))
      .filter(col("cos") >= SemDupThreshold)
      .select(when(col("ca") > col("cb") ||
                   (col("ca") === col("cb") && col("va") > col("vb")),
                   col("va")).otherwise(col("vb")).as("vec_id"))
      .distinct()
      .withColumn("dropped", lit(1L))
    mem.join(losers, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("cent_cos"),
              coalesce(col("dropped"), lit(0L)).as("is_dropped"))
      .orderBy(col("vec_id"))
  }

  val qSemDedupSql: String =
    s"""WITH $kmeansFunnelCtes,
       |cnrm AS (
       |  SELECT cell, sqrt((SELECT SUM(CAST(ce[i.i] AS DOUBLE) ** 2)
       |                     FROM generate_series(1, $Dim) i(i))) AS cn
       |  FROM cents2),
       |mem AS (
       |  SELECT a.vec_id, a.cell,
       |         row_number() OVER (PARTITION BY a.cell ORDER BY a.vec_id) AS rnk,
       |         round((SELECT SUM(CAST(e.embedding[i.i] AS DOUBLE) * CAST(c.ce[i.i] AS DOUBLE))
       |                FROM generate_series(1, $Dim) i(i)) / (n.nrm * cn.cn), 6) AS cent_cos
       |  FROM assigned a
       |  JOIN embeddings e ON e.vec_id = a.vec_id
       |  JOIN cents2 c ON c.cell = a.cell
       |  JOIN nrm n ON n.vec_id = a.vec_id
       |  JOIN cnrm cn ON cn.cell = a.cell),
       |part AS (SELECT * FROM mem WHERE rnk <= $SemCellCap),
       |pairs AS (
       |  SELECT a.cell, a.vec_id AS va, b.vec_id AS vb,
       |         a.cent_cos AS ca, b.cent_cos AS cb,
       |         round((SELECT SUM(CAST(ea.embedding[i.i] AS DOUBLE) * CAST(eb.embedding[i.i] AS DOUBLE))
       |                FROM generate_series(1, $Dim) i(i)) / (na.nrm * nb.nrm), 6) AS cos
       |  FROM part a JOIN part b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  JOIN embeddings ea ON ea.vec_id = a.vec_id
       |  JOIN embeddings eb ON eb.vec_id = b.vec_id
       |  JOIN nrm na ON na.vec_id = a.vec_id
       |  JOIN nrm nb ON nb.vec_id = b.vec_id),
       |losers AS (
       |  SELECT DISTINCT CASE WHEN ca > cb OR (ca = cb AND va > vb)
       |                       THEN va ELSE vb END AS vec_id
       |  FROM pairs WHERE cos >= $SemDupThreshold)
       |SELECT m.vec_id, m.cell, m.cent_cos,
       |       CAST(CASE WHEN l.vec_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
       |         AS is_dropped
       |FROM mem m LEFT JOIN losers l ON l.vec_id = m.vec_id
       |ORDER BY m.vec_id""".stripMargin

  // ------------------------------------------------------------------
  // q_embed_project — seeded RANDOM-PROJECTION dimensionality reduction
  // (Achlioptas-style dense ±1 matrix): each 64-dim embedding maps to
  // ProjDim=16 signed sums, the JL-lemma step a pipeline runs BEFORE
  // LSH/clustering when the native dimension is wide (distance
  // preservation w.h.p. at 1/4 the bytes — at 100 TB the projected
  // table is what ships to every downstream shuffle, not the raw
  // vectors).
  //
  // Determinism: the sign matrix derives from md5("j_i") hex parity —
  // no RNG state, the same matrix on every run, every engine, any
  // parallelism. Spark bakes the signs in as PLAN LITERALS (constant
  // 64-long arrays, broadcast for free inside codegen); the oracle
  // re-derives them with SQL md5() — so the cross-check also validates
  // the derivation. Components quantize to integer micro-units first
  // (round(x·1e6) BIGINT), so every projected value is an exact
  // order-free integer sum — no float-association risk.
  //
  // Scale shape: a pure per-row MAP — zero shuffles, zero joins; the
  // only exchange is the final cosmetic orderBy. Long format (vec_id,
  // j, proj) keeps the output schema engine-neutral.
  // ------------------------------------------------------------------
  val ProjDim = 16
  val EmbedDim = 64 // TESTDATA.md: embeddings.embedding is 64-dim

  private def md5Hex(x: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    d.digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** sign(j, i) = +1 iff the first hex digit of md5("j_i") is even —
    * re-derivable in any engine with md5(); the oracle reconstructs the
    * matrix independently in SQL.
    */
  private def projSign(j: Int, i: Int): Long =
    if ("02468ace".indexOf(md5Hex(s"${j}_${i}").charAt(0)) >= 0) 1L else -1L

  /** The projected table in wide form: (vec_id, p0..p15) — shared by
    * q_embed_project (long-format dump) and q_ann_project (retrieval in
    * the projected space).
    */
  private def projectedWide(s: SparkSession, d: String): DataFrame = {
    val q = Tables.embeddings(s, d)
      .select(col("vec_id"),
              expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)" +
                   " * 1000000.0, 0) AS BIGINT))").as("qarr"))
    val projCols: Seq[Column] = (0 until ProjDim).map { j =>
      val signs = (0 until EmbedDim).map(i => s"${projSign(j, i)}L")
        .mkString("array(", ", ", ")")
      expr(s"aggregate(zip_with(qarr, $signs, (a, b) -> a * b), 0L," +
           " (acc, v) -> acc + v)").as(s"p$j")
    }
    q.select(col("vec_id") +: projCols: _*)
  }

  val qEmbedProject: Q = (s, d) =>
    projectedWide(s, d)
      .select(col("vec_id"),
              posexplode(array((0 until ProjDim).map(j => col(s"p$j")): _*)))
      .toDF("vec_id", "j", "proj")
      .select(col("vec_id"), col("j").cast("bigint").as("j"), col("proj"))
    // No final orderBy: corpus-sized output; the gate sorts rows.

  val qEmbedProjectSql: String =
    s"""WITH q AS (
       |  SELECT vec_id,
       |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)
       |             * 1000000.0, 0) AS BIGINT)) AS qarr
       |  FROM embeddings),
       |cells AS (
       |  SELECT q.vec_id, j.j, i.i,
       |         qarr[i.i + 1] * (CASE WHEN strpos('02468ace',
       |             substring(md5(CAST(j.j AS VARCHAR) || '_'
       |                           || CAST(i.i AS VARCHAR)), 1, 1)) > 0
       |           THEN 1 ELSE -1 END) AS v
       |  FROM q, range($ProjDim) j(j), range($EmbedDim) i(i))
       |SELECT vec_id, j, CAST(SUM(v) AS BIGINT) AS proj
       |FROM cells GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // q_ann_project — SHORTLIST-THEN-RERANK retrieval through the
  // projected space: the downstream half of q_embed_project's JL story.
  // Stage 1 ranks every candidate by PROJECTED cosine (16 BIGINTs per
  // vector — 1/4 the scan/shuffle bytes of the raw floats) and keeps a
  // ProjShortK shortlist per query; stage 2 re-ranks ONLY the shortlist
  // by exact cosine on the raw embeddings. The 100 TB play: the full
  // corpus is touched only in the cheap projected representation, and
  // the expensive 64-float math runs on queries × ProjShortK rows.
  //
  // 16 dims preserve COARSE geometry (which cluster), not fine
  // within-cluster ranks — measured shortlist containment of the brute
  // top-5 on a 500-vector clustered twin: 0.88 at ProjShortK=32, 1.00
  // at 64 (vs 0.34 if the projected rank is used directly — why the
  // rerank stage exists; AnnClusteredSpec pins the end-to-end recall).
  //
  // Exactness: projected dots and squared norms are EXACT BIGINT sums
  // of micro-unit components (|p_j| ≤ 64·10⁶ ⇒ dot ≤ 16·(64·10⁶)² ≈
  // 6.6·10¹⁶, inside int64); the stage-2 cosine is q_similarity_topk's
  // proven lockstep expression; both ranks round to 6 dp with a vec_id
  // tiebreak (the house ranking rule).
  // ------------------------------------------------------------------
  val ProjShortK = 64
  /** Projected-space cosine of every (query, candidate) pair:
    * (qid, vec_id, pscore). Exposed for the recall spec.
    */
  private[graft] def qAnnProjectCand(s: SparkSession, d: String): DataFrame = {
    val parr = array((0 until ProjDim).map(j => col(s"p$j")): _*)
    val p = projectedWide(s, d).select(col("vec_id"), parr.as("pv"))
      .withColumn("n2", expr("aggregate(pv, 0L, (acc, v) -> acc + v * v)"))
    val q = p.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("pv").as("pq"),
              col("n2").as("qn2"))
    p.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("dot",
        expr("aggregate(zip_with(pq, pv, (a, b) -> a * b), 0L," +
             " (acc, v) -> acc + v)"))
      .withColumn("pscore",
        round(col("dot").cast("double") /
              (sqrt(col("qn2").cast("double")) *
               sqrt(col("n2").cast("double"))), 6))
      .select(col("qid"), col("vec_id"), col("pscore"))
  }

  val qAnnProject: Q = (s, d) => {
    val short = Ops.topKPerGroup(qAnnProjectCand(s, d), Seq("qid"),
                                 -col("pscore"), col("vec_id"), ProjShortK)
      .select(col("qid"), col("vec_id"))
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
              VectorFunctions.vecNorm(col("embedding")).as("nrm"))
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
              col("nrm").as("qnrm"))
    val rer = short.join(e, Seq("vec_id")).join(broadcast(q), Seq("qid"))
      .withColumn("score",
        round(VectorFunctions.vecDot(col("qe"), col("embedding")) /
              (col("qnrm") * col("nrm")), 6))
    Ops.topKPerGroup(rer, Seq("qid"), -col("score"), col("vec_id"), TopK)
      .select(col("qid"), col("vec_id"), col("score"), col("rn"))
      .orderBy(col("qid"), col("rn"))
  }

  val qAnnProjectSql: String =
    s"""WITH q AS (
       |  SELECT vec_id,
       |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)
       |             * 1000000.0, 0) AS BIGINT)) AS qarr
       |  FROM embeddings),
       |proj AS (
       |  SELECT q.vec_id, j.j,
       |         CAST(SUM(qarr[i.i + 1] * (CASE WHEN strpos('02468ace',
       |             substring(md5(CAST(j.j AS VARCHAR) || '_'
       |                           || CAST(i.i AS VARCHAR)), 1, 1)) > 0
       |           THEN 1 ELSE -1 END)) AS BIGINT) AS v
       |  FROM q, range($ProjDim) j(j), range($EmbedDim) i(i)
       |  GROUP BY 1, 2),
       |n2 AS (SELECT vec_id, CAST(SUM(v * v) AS BIGINT) AS n2
       |       FROM proj GROUP BY 1),
       |dots AS (
       |  SELECT a.vec_id AS qid, b.vec_id AS vec_id,
       |         CAST(SUM(a.v * b.v) AS BIGINT) AS dot
       |  FROM proj a JOIN proj b ON b.j = a.j AND b.vec_id <> a.vec_id
       |  WHERE a.vec_id < $NumQueries
       |  GROUP BY 1, 2),
       |pscored AS (
       |  SELECT d.qid, d.vec_id,
       |         round(CAST(d.dot AS DOUBLE)
       |               / (sqrt(CAST(na.n2 AS DOUBLE))
       |                  * sqrt(CAST(nb.n2 AS DOUBLE))), 6) AS pscore
       |  FROM dots d JOIN n2 na ON na.vec_id = d.qid
       |  JOIN n2 nb ON nb.vec_id = d.vec_id),
       |short AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
       |             ORDER BY pscore DESC, vec_id) AS srn
       |    FROM pscored) WHERE srn <= $ProjShortK),
       |qv AS (SELECT vec_id AS qid, embedding AS qe
       |       FROM embeddings WHERE vec_id < $NumQueries),
       |rer AS (
       |  SELECT s.qid, s.vec_id,
       |         round(
       |           (SELECT SUM(CAST(qv.qe[i.i] AS DOUBLE)
       |                       * CAST(e.embedding[i.i] AS DOUBLE))
       |            FROM generate_series(1, $EmbedDim) i(i)) /
       |           (sqrt((SELECT SUM(CAST(qv.qe[i.i] AS DOUBLE) ** 2)
       |                  FROM generate_series(1, $EmbedDim) i(i))) *
       |            sqrt((SELECT SUM(CAST(e.embedding[i.i] AS DOUBLE) ** 2)
       |                  FROM generate_series(1, $EmbedDim) i(i)))), 6) AS score
       |  FROM short s JOIN embeddings e ON e.vec_id = s.vec_id
       |  JOIN qv ON qv.qid = s.qid),
       |ranked AS (
       |  SELECT qid, vec_id, score,
       |         CAST(row_number() OVER (PARTITION BY qid
       |                ORDER BY score DESC, vec_id) AS BIGINT) AS rn
       |  FROM rer)
       |SELECT qid, vec_id, score, rn FROM ranked WHERE rn <= $TopK
       |ORDER BY qid, rn""".stripMargin

  // ------------------------------------------------------------------
  // q_select_mmr — Maximal Marginal Relevance diverse top-k: the
  // retrieval-side counterpart of dedup. A plain cosine top-k returns
  // near-duplicates of the best hit; MMR greedily picks
  //   argmax over remaining of  λ·rel(c) − (1−λ)·max sim(c, selected)
  // so each pick is relevant AND novel — the standard diversified
  // selection for RAG context packing and eval-set curation.
  //
  // Scale shape (the two-phase bounded-selection discipline): phase 1 is
  // distributed — one corpus scan against the broadcast query vector,
  // cut to the MmrCand shortlist via orderBy().limit() →
  // TakeOrderedAndProject (≤MmrCand rows cross the wire per partition).
  // Phase 2, the greedy argmax chain, is inherently SEQUENTIAL (pick k
  // depends on picks 1..k−1) over a set that is bounded BY CONSTRUCTION
  // — so it runs on the driver over ONE ≤MmrCand-row collect, the same
  // justification as the PQ codebook collects. No all-pairs over the
  // corpus: only shortlist×shortlist sims (≤MmrCand²) are ever formed.
  //
  // Exactness: rel and pairwise sims are round(·,6) cosines; the
  // greedy key λ·rel − (1−λ)·maxsim is computed from those rounded
  // doubles by the same literal constants (0.7 / 0.3 — NOT 1−λ, whose
  // double 0.30000000000000004 would diverge from the SQL literal) in
  // index-order arithmetic on both engines, and ORDER BY uses the
  // unrounded key with vec_id tiebreak on both sides.
  // ------------------------------------------------------------------
  val MmrCand = 32
  val MmrK = 8

  val qSelectMmr: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
              VectorFunctions.vecNorm(col("embedding")).as("nrm"))
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"), col("nrm").as("qnrm"))
    val shortlist = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
              round(VectorFunctions.vecDot(col("qe"), col("embedding"))
                      / (col("qnrm") * col("nrm")), 6).as("rel"),
              col("embedding"), col("nrm"))
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(MmrCand)
    val rows = shortlist.collect() // bounded: ≤ MmrCand rows
    final case class C(id: Long, rel: Double, emb: Array[Float], nrm: Double)
    val cs = rows.map(r => C(r.getLong(0), r.getDouble(1),
                             r.getSeq[Float](2).toArray, r.getDouble(3)))
    // Spark round(_, 6) semantics (BigDecimal HALF_UP), mirrored for the
    // driver-side pair sims so they equal the oracle's round(_, 6).
    def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    def sim(a: C, b: C): Double = { // FloatVectorDot's index-order loop
      var acc = 0.0; var i = 0
      while (i < a.emb.length) { acc += a.emb(i).toDouble * b.emb(i).toDouble; i += 1 }
      r6(acc / (a.nrm * b.nrm))
    }
    val byId = cs.map(c => c.id -> c).toMap
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double, Double)]
    val remaining = scala.collection.mutable.LinkedHashSet(cs.map(_.id): _*)
    while (selected.length < MmrK && remaining.nonEmpty) {
      val best = remaining.toSeq.map { id =>
        val c = byId(id)
        val maxSim = if (selected.isEmpty) 0.0
                     else selected.iterator.map(p => sim(c, byId(p._2))).max
        (id, c.rel, 0.7 * c.rel - 0.3 * maxSim)
      }.minBy { case (id, _, m) => (-m, id) }
      selected += ((selected.length + 1L, best._1, best._2, r6(best._3)))
      remaining -= best._1
    }
    import s.implicits._
    selected.toSeq.toDF("sel_rank", "vec_id", "rel", "mmr")
      .orderBy(col("sel_rank"))
  }

  val qSelectMmrSql: String = {
    def dot(a: String, b: String): String =
      s"""(SELECT SUM(CAST($a.embedding[i.i] AS DOUBLE)
         |            * CAST($b.embedding[i.i] AS DOUBLE))
         |  FROM generate_series(1, $Dim) i(i))""".stripMargin
    def nrm(a: String): String =
      s"""sqrt((SELECT SUM(CAST($a.embedding[i.i] AS DOUBLE) ** 2)
         |  FROM generate_series(1, $Dim) i(i)))""".stripMargin
    // One greedy pick: the SAME unrounded ordering key as the driver
    // loop (λ·rel − (1−λ)·max sim to the already-picked set), vec_id
    // tiebreak, then the key rounded for output.
    def step(k: Int): String = {
      val prev = s"s${k - 1}"
      val key = s"""0.7 * c.rel - 0.3 * (SELECT max(p.sim) FROM pair p
                   |      WHERE p.va = c.vec_id
                   |        AND p.vb IN (SELECT vec_id FROM $prev))""".stripMargin
      s"""s$k AS MATERIALIZED (
         |  SELECT * FROM $prev
         |  UNION ALL
         |  (SELECT CAST($k AS BIGINT) AS sel_rank, c.vec_id, c.rel,
         |          round($key, 6) AS mmr
         |   FROM cand c
         |   WHERE c.vec_id NOT IN (SELECT vec_id FROM $prev)
         |   ORDER BY $key DESC, c.vec_id
         |   LIMIT 1))""".stripMargin
    }
    s"""WITH qv AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
       |rel AS (
       |  SELECT e.vec_id,
       |         round(${dot("qv", "e")} / (${nrm("qv")} * ${nrm("e")}), 6)
       |           AS rel
       |  FROM embeddings e, qv WHERE e.vec_id <> 0),
       |cand AS MATERIALIZED (
       |  SELECT vec_id, rel FROM rel ORDER BY rel DESC, vec_id LIMIT $MmrCand),
       |pair AS MATERIALIZED (
       |  SELECT a.vec_id AS va, b.vec_id AS vb,
       |         round(${dot("ea", "eb")} / (${nrm("ea")} * ${nrm("eb")}), 6)
       |           AS sim
       |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
       |  JOIN embeddings ea ON ea.vec_id = a.vec_id
       |  JOIN embeddings eb ON eb.vec_id = b.vec_id),
       |s1 AS MATERIALIZED (
       |  SELECT CAST(1 AS BIGINT) AS sel_rank, vec_id, rel,
       |         round(0.7 * rel, 6) AS mmr
       |  FROM cand ORDER BY 0.7 * rel DESC, vec_id LIMIT 1),
       |${(2 to MmrK).map(step).mkString(",\n")}
       |SELECT sel_rank, vec_id, rel, mmr FROM s$MmrK ORDER BY sel_rank""".stripMargin
  }

  // ------------------------------------------------------------------
  // q_embed_pca — top principal direction of the embedding corpus by
  // distributed power iteration, and every vector's coordinate along
  // it: the TRAINED projection that complements q_embed_project's
  // random one (whitening, drift monitoring, PQ pre-rotation all start
  // here). Classic two-phase decomposition:
  //   phase 1 (distributed): per-dim mean, then the d×d second-moment
  //     (Gram) matrix of centered vectors as ONE partial-aggregated
  //     shuffle keyed on (i,j) — map-side each row fans out its d²
  //     products, so the wire carries ≤ d²·partitions cells, never
  //     rows. O(N·d²) work, O(d²) state: the standard scalable PCA
  //     shape for d ≪ N (64 ≪ corpus).
  //   phase 2 (driver, bounded): T power-iteration steps on the
  //     collected d² = 4096-cell matrix (constant-size, the PQ-codebook
  //     collect justification), then one distributed scoring pass.
  //
  // Exactness (the trained-funnel discipline): every cross-row / cross-
  // term float sum — dim sums for the mean, Gram cells, matrix-vector
  // products, the norm, the final projection — snaps per-term to
  // 1e-6 micro-units and sums BIGINTs, so all accumulation is order-
  // free; the remaining double ops (subtract, divide, sqrt, the loop
  // itself) are IEEE-deterministic and identical on both engines. The
  // oracle unrolls the T iterations as materialized CTE stages. Sign is
  // fixed by making the largest-|v| component (ties → lowest dim)
  // positive — computed on bit-identical doubles on both sides.
  // ------------------------------------------------------------------
  val PcaIters = 8

  val qEmbedPca: Q = (s, d) => embedPca(Tables.embeddings(s, d))

  /** Core of q_embed_pca over any (vec_id, embedding: array<float>,
    * label) frame — split out so specs can feed a crafted corpus with a
    * known principal direction.
    */
  def embedPca(e: DataFrame): DataFrame = {
    require(Dim == 64, "v0 literal 0.125 is 1/sqrt(Dim) for Dim = 64")
    // phase-1a: per-dim micro-unit sums + the corpus count (one job,
    // d-bounded collect)
    val dimRows = e
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(sum(round(col("x").cast("double") * 1e6).cast("long")).as("s_u"),
           count(lit(1)).as("n"))
      .collect()
    val nVec = if (dimRows.isEmpty) 1L else dimRows.head.getLong(2)
    val mean = Array.ofDim[Double](Dim)
    dimRows.foreach(r =>
      mean(r.getInt(0)) = r.getLong(1).toDouble / 1e6 / nVec)
    val meanLit = typedLit(mean.toSeq)
    val centered = zip_with(col("embedding"), meanLit,
                            (x, m) => x.cast("double") - m)
    // phase-1b: Gram cells — the native GramMatrixAgg accumulates all d²
    // snapped products per partition in a tight primitive loop (one
    // 32 KiB long buffer per partition crosses the wire; the former
    // d²-struct explode pushed 82M interpreted allocations through a
    // shuffle at 10× for the same bit-identical cells)
    import org.apache.spark.sql.graftshim.{GramMatrixAgg, Shim}
    val gramFlat = e
      .agg(Shim.column(
        GramMatrixAgg(Shim.expression(col("embedding")), mean, Dim)
          .toAggregateExpression()).as("g"))
      .head().getSeq[Long](0) // bounded: d² = 4096 cells, constant
    val g = Array.tabulate(Dim, Dim)((i, j) => gramFlat(i * Dim + j) / 1e6)
    // phase-2: power iteration, micro-unit-snapped like the oracle CTEs.
    // SQL round() is half-AWAY-FROM-ZERO; Scala math.round is half-
    // toward-+inf (differs on negative .5 terms), so snap with the same
    // away-from-zero rule the engines use.
    def snap(x: Double): Long =
      (math.signum(x) * math.floor(math.abs(x) + 0.5)).toLong
    var v = Array.fill(Dim)(0.125) // 1/sqrt(64)
    for (_ <- 1 to PcaIters) {
      val w = Array.tabulate(Dim) { i =>
        var acc = 0L
        var j = 0
        while (j < Dim) {
          acc += snap(g(i)(j) * v(j) * 1e6); j += 1
        }
        acc / 1e6
      }
      val norm2u = w.map(x => snap(x * x * 1e6)).sum
      val norm = math.sqrt(norm2u / 1e6)
      v = if (norm == 0.0) w else w.map(_ / norm)
    }
    val top = (0 until Dim).minBy(i => (-math.abs(v(i)), i))
    if (v(top) < 0) v = v.map(-_)
    // scoring pass: distributed, map-only over the corpus
    val vLit = typedLit(v.toSeq)
    e.select(col("vec_id"), col("label"), centered.as("c"))
      .select(col("vec_id"), col("label"),
              round(aggregate(zip_with(col("c"), vLit,
                                       (c, vv) => round(c * vv * 1e6).cast("long")),
                              lit(0L), (acc, t) => acc + t)
                      / 1e6, 6).as("proj"))
      // No final orderBy: corpus-sized output; the gate sorts rows.
  }

  val qEmbedPcaSql: String = {
    // one power-iteration stage: w = snap(G·v), v' = w / ||w||
    def iter(k: Int): String = {
      val prev = if (k == 1) "v0" else s"v${k - 1}"
      s"""w$k AS (
         |  SELECT g.gi AS j,
         |         CAST(SUM(CAST(round(g.g * v.v * 1000000.0, 0) AS BIGINT))
         |              AS DOUBLE) / 1000000.0 AS w
         |  FROM gram g JOIN $prev v ON g.gj = v.j GROUP BY 1),
         |n$k AS (
         |  SELECT sqrt(CAST(SUM(CAST(round(w.w * w.w * 1000000.0, 0)
         |                            AS BIGINT)) AS DOUBLE) / 1000000.0)
         |           AS nm
         |  FROM w$k w),
         |v$k AS MATERIALIZED (
         |  SELECT w.j, CASE WHEN n.nm = 0 THEN w.w ELSE w.w / n.nm END AS v
         |  FROM w$k w, n$k n)""".stripMargin
    }
    s"""WITH nn AS (SELECT CASE WHEN count(*) = 0 THEN 1
       |                        ELSE CAST(count(*) AS BIGINT) END AS n
       |            FROM embeddings),
       |su AS (
       |  SELECT i.i AS j,
       |         SUM(CAST(round(CAST(embedding[i.i] AS DOUBLE) * 1000000.0, 0)
       |                  AS BIGINT)) AS s_u
       |  FROM embeddings, generate_series(1, $Dim) i(i) GROUP BY 1),
       |mean AS MATERIALIZED (
       |  SELECT j, CAST(s_u AS DOUBLE) / 1000000.0 / nn.n AS m
       |  FROM su, nn),
       |cent AS MATERIALIZED (
       |  SELECT e.vec_id, m.j,
       |         CAST(e.embedding[m.j] AS DOUBLE) - m.m AS c
       |  FROM embeddings e CROSS JOIN mean m),
       |gram AS MATERIALIZED (
       |  SELECT a.j AS gi, b.j AS gj,
       |         CAST(SUM(CAST(round(a.c * b.c * 1000000.0, 0) AS BIGINT))
       |              AS DOUBLE) / 1000000.0 AS g
       |  FROM cent a JOIN cent b ON a.vec_id = b.vec_id
       |  GROUP BY 1, 2),
       |v0 AS (SELECT i.i AS j, 0.125 AS v FROM generate_series(1, $Dim) i(i)),
       |${(1 to PcaIters).map(iter).mkString(",\n")},
       |sgn AS (
       |  SELECT CASE WHEN (SELECT v FROM v$PcaIters
       |                    ORDER BY abs(v) DESC, j LIMIT 1) < 0
       |              THEN -1.0 ELSE 1.0 END AS s),
       |vf AS MATERIALIZED (
       |  SELECT v.j, v.v * s.s AS v FROM v$PcaIters v, sgn s)
       |SELECT e.vec_id, e.label,
       |       round(CAST(SUM(CAST(round(c.c * v.v * 1000000.0, 0) AS BIGINT))
       |                  AS DOUBLE) / 1000000.0, 6) AS proj
       |FROM cent c JOIN vf v ON v.j = c.j
       |JOIN embeddings e ON e.vec_id = c.vec_id
       |GROUP BY 1, 2 ORDER BY 1""".stripMargin
  }

  // ------------------------------------------------------------------
  // q_kcenter_coreset — greedy farthest-point traversal (Gonzalez
  // 1985, the classic 2-approximation to k-center): seed at the
  // minimum vec_id, then KcK−1 times select the vector FARTHEST from
  // the already-selected set (max over points of min over selected of
  // squared L2), vec_id-ascending tiebreak. The diversity/coreset
  // selection a curation pipeline runs to pick maximally-spread
  // exemplars (prototype sets, eval probes, annotation batches) — the
  // geometric complement of q_select_mmr's relevance–diversity blend,
  // with a coverage guarantee instead of a tuned trade-off.
  //
  // Exactness: components quantize to integer micro-units first
  // (round(x·1e6) BIGINT — the q_embed_project discipline), so every
  // squared distance is an exact order-free integer (≤ 64·(2·10⁶)² ≈
  // 2.6·10¹³ per pair, comfortably int64) and every argmax/tiebreak is
  // an integer comparison on both engines. The oracle unrolls the
  // KcK−1 selection stages as CTEs (the Lloyd-funnel discipline).
  //
  // Scale shape: each round is one scan → TakeOrderedAndProject(1) →
  // bounded 1-row collect (the trainCodebook pattern); the selected
  // set rides the next round's plan as ≤ KcK·64 literals (broadcast
  // for free inside codegen). KcK bounded jobs total, zero unbounded
  // driver state, no pairwise materialization — the n·k distance work
  // is recomputed per round rather than cached, the right trade when
  // n is corpus-scale and k is a constant.
  // ------------------------------------------------------------------
  val KcK = 8

  val qKcenterCoreset: Q = (s, d) =>
    kcenterCoreset(s, Tables.embeddings(s, d))

  /** Core of q_kcenter_coreset over any (vec_id, embedding) frame —
    * factored for the crafted-geometry spec (known-sequence and
    * radius-monotonicity pins).
    */
  def kcenterCoreset(s: SparkSession, emb: DataFrame): DataFrame = {
    val q = emb.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)" +
             " * 1000000.0, 0) AS BIGINT))").as("qv"))
      .persist()
    try {
      val seed = q.orderBy(col("vec_id")).limit(1).collect()
      if (seed.isEmpty) {
        import s.implicits._
        return Seq.empty[(Long, Long, Long)]
          .toDF("sel_rank", "vec_id", "d2_u")
      }
      // (rank, vec_id, quantized vector, distance-to-prior-set)
      var sel = Vector((1L, seed(0).getLong(0),
                        seed(0).getSeq[Long](1).toArray, 0L))
      for (r <- 2 to KcK) {
        val minD = sel.map { case (_, _, v, _) =>
          val arr = v.map(x => s"${x}L").mkString("array(", ", ", ")")
          expr(s"aggregate(zip_with(qv, $arr, (a, b) -> (a - b) * (a - b))," +
               " 0L, (acc, x) -> acc + x)")
        }.reduce(least(_, _))
        val picked = q
          .filter(!col("vec_id").isInCollection(sel.map(_._2)))
          .select(col("vec_id"), col("qv"), minD.as("d2"))
          .orderBy(col("d2").desc, col("vec_id")).limit(1).collect()
        if (picked.nonEmpty)
          sel = sel :+ ((r.toLong, picked(0).getLong(0),
                         picked(0).getSeq[Long](1).toArray,
                         picked(0).getLong(2)))
      }
      import s.implicits._
      sel.map { case (r, id, _, d2) => (r, id, d2) }
        .toDF("sel_rank", "vec_id", "d2_u")
        .orderBy(col("sel_rank"))
    } finally q.unpersist()
  }

  val qKcenterCoresetSql: String = {
    def stage(k: Int): String =
      s"""mind$k AS (
         |  SELECT q.vec_id,
         |         MIN(CAST(list_sum(list_transform(range(len(q.v)),
         |               i -> (q.v[i+1] - s.v[i+1]) * (q.v[i+1] - s.v[i+1])))
         |             AS BIGINT)) AS d2
         |  FROM kq q CROSS JOIN sel${k - 1} s
         |  WHERE q.vec_id NOT IN (SELECT vec_id FROM sel${k - 1})
         |  GROUP BY 1),
         |pick$k AS (SELECT vec_id, d2 FROM mind$k
         |           ORDER BY d2 DESC, vec_id LIMIT 1),
         |sel$k AS MATERIALIZED (
         |  SELECT r, vec_id, d2, v FROM sel${k - 1}
         |  UNION ALL
         |  SELECT $k AS r, p.vec_id, p.d2, q.v
         |  FROM pick$k p JOIN kq q ON q.vec_id = p.vec_id)""".stripMargin
    s"""WITH kq AS MATERIALIZED (
       |  SELECT vec_id,
       |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)
       |             * 1000000.0, 0) AS BIGINT)) AS v
       |  FROM embeddings),
       |s1 AS (SELECT vec_id, v FROM kq ORDER BY vec_id LIMIT 1),
       |sel1 AS (SELECT 1 AS r, vec_id, CAST(0 AS BIGINT) AS d2, v FROM s1),
       |${(2 to KcK).map(stage).mkString(",\n")}
       |SELECT CAST(r AS BIGINT) AS sel_rank, vec_id, d2 AS d2_u
       |FROM sel$KcK ORDER BY 1""".stripMargin
  }

  // ------------------------------------------------------------------
  // q_cluster_margin — assignment-margin audit of the trained k-means
  // codebook: for every vector, the gap between its dot product with
  // its OWN centroid and the best OTHER centroid (the simplified
  // silhouette under the codebook's own max-dot assignment rule).
  // Per-cell mean margin and the count of negative-margin vectors —
  // the clustering-quality readout that says whether cells are real
  // structure or arbitrary Voronoi noise (a negative margin means the
  // snapped dots disagree with the raw assignment by more than the
  // 1e-6 quantum — a boundary vector).
  //
  // Exactness: per-(vector, cell) dots snap to micro-units (BIGINT);
  // margins and their per-cell sums are integer; the published mean
  // is one double division of identical integers. Assignment itself
  // reuses matrixDotRank / the `dots` CTE (raw-dot rank), exactly as
  // every other codebook consumer.
  //
  // Scale shape: one broadcast of the NumCells×Dim codebook; the dot
  // fan-out is NumCells columns per vector computed map-side (no
  // explode, no shuffle); the rollup is NumCells rows.
  // ------------------------------------------------------------------
  val qClusterMargin: Q = (s, d) => {
    val e0 = Tables.embeddings(s, d)
    val mat = trainCodebook(e0)
    val dcols = (0 until NumCells).map { c =>
      round(VectorFunctions.vecDot(col("embedding"),
              typedlit(mat.slice(c * Dim, (c + 1) * Dim))) * 1e6)
        .cast("long").as(s"d$c")
    }
    val base = e0.select(
      col("vec_id") +:
        element_at(VectorFunctions.matrixDotRank(col("embedding"), mat, Dim), 1)
          .cast("bigint").as("cell") +: dcols: _*)
    val own = (0 until NumCells).foldLeft(lit(Long.MinValue)) { (acc, c) =>
      when(col("cell") === c, col(s"d$c")).otherwise(acc)
    }
    val other = greatest((0 until NumCells).map(c =>
      when(col("cell") === c, lit(Long.MinValue)).otherwise(col(s"d$c"))): _*)
    base.withColumn("margin_u", own - other)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"),
           (sum(col("margin_u")).cast("double") / 1e6
              / count(lit(1)).cast("double")).as("mean_margin"),
           sum(when(col("margin_u") < 0L, 1L).otherwise(0L))
             .as("n_negative"))
      .orderBy(col("cell"))
  }

  val qClusterMarginSql: String =
    s"""WITH $kmeansFunnelCtes,
       |dmic AS (
       |  SELECT e.vec_id, c.cell AS dcell,
       |         CAST(round(
       |           (SELECT SUM(CAST(e.embedding[i.i] AS DOUBLE)
       |                       * CAST(c.ce[i.i] AS DOUBLE))
       |            FROM generate_series(1, $Dim) i(i)) * 1000000.0, 0)
       |           AS BIGINT) AS dmic
       |  FROM embeddings e CROSS JOIN cents2 c),
       |own AS (
       |  SELECT a.vec_id, a.cell, d.dmic AS own
       |  FROM assigned a JOIN dmic d
       |    ON d.vec_id = a.vec_id AND d.dcell = a.cell),
       |oth AS (
       |  SELECT a.vec_id, MAX(d.dmic) AS other
       |  FROM assigned a JOIN dmic d
       |    ON d.vec_id = a.vec_id AND d.dcell <> a.cell
       |  GROUP BY 1)
       |SELECT o.cell, CAST(count(*) AS BIGINT) AS n_vecs,
       |       CAST(SUM(o.own - t.other) AS DOUBLE) / 1000000.0
       |         / CAST(count(*) AS DOUBLE) AS mean_margin,
       |       CAST(SUM(CASE WHEN o.own < t.other THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_negative
       |FROM own o JOIN oth t ON t.vec_id = o.vec_id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, Q] = Map(
    "q_cluster_margin"  -> qClusterMargin,
    "q_kcenter_coreset" -> qKcenterCoreset,
    "q_embed_pca"       -> qEmbedPca,
    "q_select_mmr"      -> qSelectMmr,
    "q_embed_project"   -> qEmbedProject,
    "q_ann_project"     -> qAnnProject,
    "q_cluster_topics"  -> qClusterTopics,
    "q_similarity_topk" -> qSimilarityTopk,
    "q_rank_fusion"     -> qRankFusion,
    "q_hybrid_search"   -> qHybridSearch,
    "q_ann_recall"      -> qAnnRecall,
    "q_lsh_recall"      -> qLshRecall,
    "q_pq_recall"       -> qPqRecall,
    "q_mrl_recall"      -> qMrlRecall,
    "q_sq_recall"       -> qSqRecall,
    "q_cluster_purity"  -> qClusterPurity,
    "q_ivf_sweep"       -> qIvfSweep,
    "q_refine_sweep"    -> qRefineSweep,
    "q_ann_lsh"         -> qAnnLsh,
    "q_ann_ivf"         -> qAnnIvf,
    "q_ann_pq"          -> qAnnPq,
    "q_ann_ivfpq"       -> qAnnIvfpq,
    "q_kmeans_cells"    -> qKmeansCells,
    "q_embed_quantize"  -> qEmbedQuantize,
    "q_semdedup"        -> qSemDedup,
  )

  val oracles: Map[String, String] = Map(
    "q_cluster_margin"  -> qClusterMarginSql,
    "q_kcenter_coreset" -> qKcenterCoresetSql,
    "q_embed_pca"       -> qEmbedPcaSql,
    "q_select_mmr"      -> qSelectMmrSql,
    "q_embed_project"   -> qEmbedProjectSql,
    "q_ann_project"     -> qAnnProjectSql,
    "q_cluster_topics"  -> qClusterTopicsSql,
    "q_ann_pq"          -> qAnnPqSql,
    "q_ann_ivfpq"       -> qAnnIvfpqSql,
    "q_similarity_topk" -> qSimilarityTopkSql,
    "q_rank_fusion"     -> qRankFusionSql,
    "q_hybrid_search"   -> qHybridSearchSql,
    "q_ann_recall"      -> qAnnRecallSql,
    "q_lsh_recall"      -> qLshRecallSql,
    "q_pq_recall"       -> qPqRecallSql,
    "q_mrl_recall"      -> qMrlRecallSql,
    "q_sq_recall"       -> qSqRecallSql,
    "q_cluster_purity"  -> qClusterPuritySql,
    "q_ivf_sweep"       -> qIvfSweepSql,
    "q_refine_sweep"    -> qRefineSweepSql,
    "q_ann_lsh"         -> qAnnLshSql,
    "q_ann_ivf"         -> qAnnIvfSql,
    "q_kmeans_cells"    -> qKmeansCellsSql,
    "q_embed_quantize"  -> qEmbedQuantizeSql,
    "q_semdedup"        -> qSemDedupSql,
  )
}
