package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reusable column/DataFrame combinators re-expressing the reference's
  * hand-rolled MapReduce idioms as declarative Spark operators.
  *
  * Design rule: everything here is built from `org.apache.spark.sql.
  * functions._` (whole-stage-codegen'd) — no Scala UDFs — so plans stay
  * inside WholeStageCodegen and survive a 100 TB scale-up.
  */
object Ops {

  // ---------------------------------------------------------------------
  // Fixed-width projection (reference MaxTemperatureMapper.java:17-22).
  // Java substring(a,b) is 0-based [a,b); Spark substring(pos,len) is
  // 1-based — callers pass the Java offsets and we convert.
  // ---------------------------------------------------------------------
  def fixedWidth(c: Column, from: Int, until: Int): Column =
    substring(c, from + 1, until - from)

  /** Signed fixed-width int, tolerating a leading '+' (the NCDC encoding:
    * `+0011` / `-0011`). try_cast, not cast: Spark 4 runs ANSI mode, where
    * a plain cast THROWS on malformed slices — try_cast yields null so the
    * reference's malformed-row drop (P3, arity/parse guards) stays a
    * filter instead of a job crash.
    */
  def fixedWidthInt(c: Column, from: Int, until: Int): Column =
    fixedWidth(c, from, until).try_cast("int")

  // ---------------------------------------------------------------------
  // Permissive numeric parse (reference UserHotcar.java:57-62: parseFloat
  // in try/catch, default 0.0F on failure).
  // ---------------------------------------------------------------------
  def permissiveDouble(c: Column, default: Double = 0.0): Column =
    coalesce(c.try_cast("double"), lit(default))

  // ---------------------------------------------------------------------
  // Packed-pair micro-format `id@score[,id@score...]` (reference
  // UserHotcar.java:67-74). unpackPairs explodes `sep`-separated `id@val`
  // pairs into (id, value) columns. NB the reference's `split("$")` is a
  // regex-anchor bug (SURVEY §7.4.1) — we implement the *intended*
  // semantics: `[$]` splits on a literal dollar.
  // ---------------------------------------------------------------------
  def unpackPairs(df: DataFrame, packed: String, sep: String,
                  idCol: String, valCol: String): DataFrame =
    df.withColumn("__pair", explode(split(col(packed), sep)))
      .withColumn(idCol, substring_index(col("__pair"), "@", 1))
      .withColumn(valCol, substring_index(col("__pair"), "@", -1))
      .drop("__pair", packed)

  /** Pack `idCol@valCol` pairs into one string per group — the inverse,
    * used to build reference-shaped packed strings from relational data.
    */
  def packPairs(id: Column, v: Column): Column = concat(id, lit("@"), v)

  // ---------------------------------------------------------------------
  // Per-group top-K by ascending sort key (reference TreeSet sort +
  // bounded emit, UserHotcar.java:152-193). A deterministic tiebreaker is
  // mandatory: the reference's comparator never returns 0 so its tie
  // order is insertion order (nondeterministic under shuffle) — SURVEY
  // §7.4.4 resolves this by always adding `tiebreak`.
  // At scale this is one shuffle on the group key; no driver collect.
  // ---------------------------------------------------------------------
  def topKPerGroup(df: DataFrame, groupCols: Seq[String], orderCol: Column,
                   tiebreak: Column, k: Int, rnCol: String = "rn"): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(orderCol.asc, tiebreak.asc)
    df.withColumn(rnCol, row_number().over(w).cast("bigint"))
      .filter(col(rnCol) <= k)
  }

  /** Skew-resistant two-phase top-K: per-(group, salt) top-K first, then
    * top-K of the ≤ saltBuckets×k survivors per group. Identical result
    * to topKPerGroup (the global top-K is contained in the union of
    * per-salt top-Ks), but a hot key's first-phase sort is spread across
    * saltBuckets partitions instead of one reducer — the classic salting
    * pattern for power-law group sizes at scale.
    */
  def topKPerGroupSalted(df: DataFrame, groupCols: Seq[String], orderCol: Column,
                         tiebreak: Column, k: Int,
                         saltBuckets: Int = 16): DataFrame = {
    val salted = df.withColumn("__salt", pmod(hash(tiebreak), lit(saltBuckets)))
    val phase1 = topKPerGroup(salted, groupCols :+ "__salt", orderCol, tiebreak,
                              k, rnCol = "__rn1")
      .drop("__salt", "__rn1")
    topKPerGroup(phase1, groupCols, orderCol, tiebreak, k)
  }

  /** Per-group bounded top-K as a heap aggregate (graftshim.BoundedTopK):
    * map-side partial aggregation keeps ≤ k rows per group per partition,
    * so the shuffle carries O(groups × k) instead of every row — the
    * scale path when groups are huge or skewed. Output schema matches
    * topKPerGroup: groupCols ++ (idCol, scoreCol, rn).
    */
  def topKHeap(df: DataFrame, groupCols: Seq[String], scoreCol: Column,
               idCol: Column, k: Int,
               outScore: String = "score", outId: String = "id"): DataFrame = {
    import org.apache.spark.sql.graftshim.{BoundedTopK, Shim}
    val agg = Shim.column(
      BoundedTopK(Shim.expression(scoreCol), Shim.expression(idCol), k)
        .toAggregateExpression())
    df.groupBy(groupCols.map(col): _*)
      .agg(agg.as("__topk"))
      .select(groupCols.map(col) :+ posexplode(col("__topk")): _*)
      .select(groupCols.map(col) ++ Seq(
        col("col.id").as(outId),
        col("col.score").as(outScore),
        (col("pos") + 1).cast("bigint").as("rn")): _*)
  }

  // ---------------------------------------------------------------------
  // Min-max normalization per group: 1 − (x − min)/(max − min)
  // (reference UserHotcar.java:183). The reference divides by zero when a
  // group has a single distinct value (NaN into the output); per SURVEY
  // §7.4.3 we guard: max == min → score 1.0 (deterministic, oracle-able).
  // ---------------------------------------------------------------------
  def minMaxNorm(x: Column, groupCols: Seq[Column]): Column = {
    val w = Window.partitionBy(groupCols: _*)
    val mn = min(x).over(w)
    val mx = max(x).over(w)
    when(mx === mn, lit(1.0)).otherwise(lit(1.0) - (x - mn) / (mx - mn))
  }

  // ---------------------------------------------------------------------
  // Exact decimal aggregation helpers. Money columns in the harness data
  // are 2-decimal doubles; double summation is order-dependent, so every
  // re-associative aggregate goes through DECIMAL (exact, associative,
  // bit-identical to the DuckDB oracle regardless of row order /
  // parallelism). Per-row arithmetic stays IEEE-double (deterministic).
  // ---------------------------------------------------------------------
  /** Round-robin-spread a SLIM projection whose scan would otherwise run
    * on fewer tasks than the session has cores, for scan stages whose
    * per-row compute (decimal aggregation, heavy exprs) dominates bytes
    * — the q_recommend small-bytes/heavy-CPU regime, made conditional.
    * A single-row-group test file is ONE effective scan split, so its
    * whole map stage serializes on one core (profiled: q_linear_fit
    * 2.4 executor-cpu-s on one task at sf0.1 while 31 cores idle). On
    * any real deployment the input splits naturally, the guard sees
    * scan parallelism ≥ cores, and NO repartition (and no extra
    * exchange) is added — so this cannot regress the 100 TB plan.
    * Callers must project to the needed columns FIRST: the exchange
    * ships whole rows.
    */
  def spreadScan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val defPar = df.sparkSession.sparkContext.defaultParallelism
    // Size bound: the helper exists for the tiny-single-split regime
    // ONLY. A mid-size input (e.g. the 100×-rung's ~1.4 GB lineitem,
    // 11 natural splits) must NOT be round-tripped through an exchange
    // for a parallelism top-up — measured +4.9 s on q_linear_fit at
    // 100× when the guard was partition-count-only. 64 MB ≈ half a
    // default split: anything larger has (or will soon have) real scan
    // parallelism.
    val smallEnough =
      df.queryExecution.optimizedPlan.stats.sizeInBytes <= (64L << 20)
    if (smallEnough && df.rdd.getNumPartitions < defPar)
      // Hash-repartition on a deterministic whole-row hash, NOT
      // round-robin: keyless repartition pays sortBeforeRepartition (a
      // full local sort of the scan partition — serial again, and pure
      // CPU), while a deterministic key is retry-safe by construction
      // (guide §2.5). 32× more key values than partitions spreads the
      // hash evenly.
      df.repartition(defPar,
        pmod(xxhash64(df.columns.map(col).toIndexedSeq: _*),
             lit(defPar * 32L)))
    else df
  }

  def exactSum(c: Column, scale: Int = 2): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double")

  // ---------------------------------------------------------------------
  // Ordered group-concat (reference's sorted emit + trailing-comma strip,
  // UserHotcar.java:175-198): collect, sort, join — concat_ws makes the
  // trailing-delimiter strip (F7) unnecessary.
  // ---------------------------------------------------------------------
  def orderedConcat(c: Column, sep: String = ","): Column =
    array_join(array_sort(collect_list(c)), sep)

  // ---------------------------------------------------------------------
  // Embedding math over array<float> — all higher-order functions, no
  // UDFs. Accumulation in double, sequential left fold (deterministic).
  // ---------------------------------------------------------------------
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def l2Norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0),
      (acc, v) => acc + v.cast("double") * v.cast("double")))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  // ---------------------------------------------------------------------
  // Text helpers for the LLM-pipeline operators.
  // ---------------------------------------------------------------------
  /** Whitespace tokenizer (single-space split matches the oracle's
    * string_split; the corpus is single-spaced).
    */
  def tokens(c: Column): Column = split(c, " ")

  /** Collapse runs of whitespace and lowercase — canonical form used by
    * fingerprinting / near-dup blocking.
    */
  def normalizeText(c: Column): Column = {
    // Compiled single byte-pass (graftshim.NormalizeWs) — replaces the
    // Java-regex walk of every document at the 8 fingerprint/keying
    // call sites; spec-pinned equal to the regex form kept below.
    import org.apache.spark.sql.graftshim.{NormalizeWs, Shim}
    Shim.column(NormalizeWs(Shim.expression(c)))
  }

  /** The replaced formulation — TokenTextExprsSpec's oracle for
    * NormalizeWs (and the shape the DuckDB transliterations spell).
    */
  def normalizeTextRegexForm(c: Column): Column =
    // Explicit class, not \s: Java \s includes vertical tab (\x0B) while
    // DuckDB/RE2's does not, so the oracle transliteration of this
    // function must spell the same five-char+space set on both sides.
    lower(regexp_replace(c, "[ \\t\\n\\x0B\\f\\r]+", " "))

  /** Word n-gram shingles of a token array (distinct), for MinHash /
    * Jaccard near-dup — backed by the native WordShingles expression
    * (single-pass, codegen'd; ~5× the interpreted HOF stack on the
    * documents corpus). shinglesHof is the pure-built-in formulation,
    * kept as the semantic reference (spec pins native == HOF).
    */
  def shingles(toks: Column, n: Int): Column = {
    import org.apache.spark.sql.graftshim.{Shim, WordShingles}
    Shim.column(WordShingles(Shim.expression(toks), n))
  }

  /** ALL word n-gram shingle occurrences in position order (element i =
    * the shingle starting at token i) — the multiplicity-preserving form
    * the span operators need (dup-span mass, substring dedup). Same
    * native single-pass expression; the HOF reference is Dedup's
    * allSpansHof (spec-pinned equal).
    */
  def shinglesAll(toks: Column, n: Int): Column = {
    import org.apache.spark.sql.graftshim.{Shim, WordShingles}
    Shim.column(WordShingles(Shim.expression(toks), n, keepDuplicates = true))
  }

  def shinglesHof(toks: Column, n: Int): Column =
    array_distinct(
      transform(
        sequence(lit(0), greatest(size(toks) - n, lit(0))),
        i => array_join(slice(toks, i + 1, lit(n)), " ")))

  // ---------------------------------------------------------------------
  // Cross-engine-deterministic hashing: md5 hex is byte-identical in
  // Spark and DuckDB, so a 60-bit integer digest (15 hex chars — 16
  // would overflow signed BIGINT) gives both engines the same hash
  // values, making MinHash/SimHash/HLL sketches exact-oracle-able.
  // ---------------------------------------------------------------------
  val HashModP = 1000000007L

  /** First 60 bits of md5(c) as a non-negative bigint: one native
    * expression over the digest bytes (graftshim.Md5Bits60).
    */
  def md5Bits60(c: Column): Column = {
    import org.apache.spark.sql.graftshim.{Md5Bits60, Shim}
    Shim.column(Md5Bits60(Shim.expression(c)))
  }

  /** The hex round trip [[md5Bits60]] replaces — md5 hex, first 15
    * chars, base 16 → 10 — kept as the spec oracle; it is also the
    * DuckDB oracles' formulation.
    */
  def md5Bits60HexForm(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("bigint")

  /** MinHash signature over pre-hashed gram values (md5Bits60 % HashModP):
    * hash family k ↦ ((2k+1)·x + (1000003k + 12345)) mod P — one md5 per
    * gram, then nHashes cheap affine maps. Same family is re-derivable in
    * plain SQL, so the signature is engine-portable. Native single-pass
    * expression (graftshim.MinHashSig): the HOF formulation below
    * interprets nHashes × |grams| lambdas per row — the dominant cost of
    * the whole MinHash pipeline (spec pins native == HOF).
    */
  def minHashSignatureMod(xs: Column, nHashes: Int): Column = {
    import org.apache.spark.sql.graftshim.{MinHashSig, Shim}
    Shim.column(MinHashSig(Shim.expression(xs), nHashes))
  }

  /** Interpreted HOF reference for [[minHashSignatureMod]]. */
  def minHashSignatureModHof(xs: Column, nHashes: Int): Column =
    transform(
      sequence(lit(0), lit(nHashes - 1)),
      k => array_min(transform(xs,
        x => ((k.cast("bigint") * 2L + 1L) * x +
              (k.cast("bigint") * 1000003L + 12345L)) % HashModP)))

  /** Deterministic polynomial rolling hash of the first `maxLen` chars,
    * mod 1e9+7. Native single-pass expression (graftshim.RollingHash64):
    * the HOF reference below re-evaluates its child string expression at
    * every fold step in interpreted mode — maxLen full regexp passes per
    * row when the child is a normalizer — and pays O(i) per
    * substring(c, i, 1). Spec pins native == HOF.
    */
  def rollingHash(c: Column, maxLen: Int = 64): Column = {
    import org.apache.spark.sql.graftshim.{RollingHash64, Shim}
    Shim.column(RollingHash64(Shim.expression(c), maxLen))
  }

  /** Count of `[a-zA-Z0-9 ]` characters — native single-byte-scan
    * drop-in for `length(regexp_replace(c, "[^a-zA-Z0-9 ]", ""))`,
    * which builds the replaced string through the regex engine just to
    * measure it (the q_quality_score CPU floor at 100×-diverse —
    * docs/SCALE.md round-13 split). Integer-identical by ASCII/UTF-8
    * disjointness; spec pins native == regex formulation.
    */
  def alnumSpaceCount(c: Column): Column = {
    import org.apache.spark.sql.graftshim.{AlnumSpaceCount, Shim}
    Shim.column(AlnumSpaceCount(Shim.expression(c)))
  }

  /** Interpreted HOF reference for [[rollingHash]]. Empty input is
    * explicitly 0: without the guard, sequence(1, 0) DESCENDS to [1, 0]
    * and the result is 0 only by accident of ascii('') — and the DuckDB
    * oracle's list_reduce ERRORS on an empty list, so both sides guard
    * the same way.
    */
  def rollingHashHof(c: Column, maxLen: Int = 64): Column =
    when(length(c) === 0, lit(0L)).otherwise(
      aggregate(
        sequence(lit(1), least(length(c), lit(maxLen))),
        lit(0L),
        (acc, i) => (acc * 31L + ascii(substring(c, i.cast("int"), lit(1)))) % 1000000007L))
}
