package graft

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Dev utility: deterministically scale an sf dir N× into a new dir.
  *
  * Two modes:
  *
  *  - `copy` (default): union key-shifted copies (fact keys shifted per
  *    copy so cardinality ratios are preserved; static dims kept
  *    single-copy). Duplicate-SATURATED by construction — duplicates
  *    grow quadratically, which flatters df-capped operators and
  *    understates ANN recall (unclustered vectors).
  *
  *  - `diverse`: documents are REGENERATED per copy as seeded Zipf-ish
  *    word mixtures over the corpus's own vocabulary — every text is
  *    unique (no verbatim copies), token counts follow the source
  *    corpus's length distribution, so frequency-capped text operators
  *    see an organically diverse gram stream instead of copy-grams.
  *    Embeddings are regenerated CLUSTERED: per-label centroid (seeded,
  *    in [-1,1]^Dim) plus bounded per-vector noise — the realistic
  *    shape for ANN recall grading (real embedding spaces cluster;
  *    uniform vectors are the worst case, not the typical one).
  *    Other fact tables fall back to key-shifted copies.
  *
  *  - `stress`: diverse + a StopMix fraction of every document drawn
  *    from a fixed 24-word stopword head — the Zipfian function-word
  *    regime where stopword 5-grams repeat across thousands of
  *    documents. The adversarial gate for every gram-df-capped
  *    operator (ContamMaxDf, MaxGramDf): uncapped gram joins go
  *    quadratic here; capped ones stay linear.
  *
  *   runMain graft.ScaleGen /root/testdata/sf0.1 /tmp/sfbig 10 [diverse|stress]
  */
object ScaleGen {
  val Offset = 10000000L

  // bigint key columns to shift per copy; everything else is carried
  val ShiftCols: Map[String, Seq[String]] = Map(
    "customer"   -> Seq("c_custkey"),
    "supplier"   -> Seq("s_suppkey"),
    "part"       -> Seq("p_partkey"),
    "orders"     -> Seq("o_orderkey", "o_custkey"),
    "lineitem"   -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events"     -> Seq("event_id", "user_id"),
    "documents"  -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
  )
  val StaticDims = Seq("region", "nation")

  def scaled(df: DataFrame, shift: Seq[String], copies: Int): DataFrame =
    (0 until copies).map { i =>
      shift.foldLeft(df)((d, c) => d.withColumn(c, col(c) + i * Offset))
    }.reduce(_.unionByName(_))

  /** Uniform-ish u in [0,1) from a 64-bit hash of the seed columns —
    * whole pipeline stays inside codegen (xxhash64 + arithmetic).
    */
  private def u01(seed: Column): Column =
    (pmod(xxhash64(seed), lit(1000000L))).cast("double") / 1000000.0

  /** Regenerate each document `copies` times as a seeded word mixture:
    * word j of new doc d' indexes the vocabulary at floor(V·u²) for
    * u = hash(d', j) — a rank-frequency ∝ k^(−1/2) Zipf-ish skew, so
    * common words stay common without any text being a verbatim copy.
    * Token count mirrors the source doc, so the corpus length
    * distribution survives. The vocabulary rides the plan as an array
    * literal (language-bounded; capped below — at a vocabulary too big
    * for a literal this becomes a broadcast index join on word rank).
    */
  // `stress` mode's stopword head: a fixed 24-word function-word list
  // mixed into every regenerated document at StopMix rate. Natural text
  // is Zipf-headed — ~40% of tokens are function words — which is
  // exactly what the diverse generator's u² skew over a 65k vocabulary
  // CANNOT produce (its most common word lands in ~1/256 of positions,
  // so no 5-gram ever repeats across documents and gram-df caps never
  // bind). The stress corpus makes stopword-headed 5-grams ("the of
  // and to in") appear in THOUSANDS of documents — the adversarial
  // Zipfian regime the contamination family's ContamMaxDf cap exists
  // for.
  val StopMix = 0.4
  val StressStopwords: Seq[String] = Seq(
    "the", "of", "and", "to", "in", "a", "is", "that", "it", "for",
    "was", "on", "are", "as", "with", "his", "they", "at", "be", "this",
    "have", "from", "or", "by")

  // Single-token stopword mixing alone cannot make a specific 5-gram
  // hot (five independent 1.7% draws ≈ 1e-9 per position); natural
  // text gets its hot 5-grams from TEMPLATE PHRASES ("in the middle of
  // the") repeated verbatim across documents. Stress mode appends one
  // seeded template per document, so each template's document
  // frequency is ~corpus/|templates| — thousands of docs at 10×, far
  // past ContamMaxDf: the uncapped gram join would fan out
  // df_left × df_right per template, the capped one drops them.
  val TemplateGrams: Seq[String] = Seq(
    "in the middle of the", "at the end of the", "as a result of the",
    "on the other hand the", "it is important to note",
    "in the case of the", "at the time of the", "for the rest of the")

  def diverseDocuments(spark: SparkSession, docs: DataFrame,
                       copies: Int, stopMix: Double = 0.0): DataFrame = {
    val vocab = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .distinct().orderBy(col("w")).limit(65536)
      .collect().map(_.getString(0))
    require(vocab.nonEmpty, "diverse mode needs an alphabetic vocabulary")
    val vlit = array(vocab.map(lit): _*)
    val slit = array(StressStopwords.map(lit): _*)
    val base = docs.select(col("doc_id"), col("lang"), col("source"),
                           size(split(col("text"), " ")).as("n_toks"))
    (0 until copies).map { i =>
      base
        .withColumn("doc_id", col("doc_id") + i * Offset)
        .withColumn("text", array_join(
          transform(sequence(lit(1), col("n_toks")), j => {
            val zipfWord = element_at(
              vlit,
              (floor(lit(vocab.length) *
                     pow(u01(concat_ws(":", col("doc_id"), j, lit("w"))),
                         2.0)) + 1).cast("int"))
            if (stopMix <= 0.0) zipfWord
            else when(
              u01(concat_ws(":", col("doc_id"), j, lit("m"))) < stopMix,
              element_at(slit,
                (floor(lit(StressStopwords.length) *
                       u01(concat_ws(":", col("doc_id"), j, lit("s"))))
                   + 1).cast("int")))
              .otherwise(zipfWord)
          }),
          " "))
        .withColumn("text",
          if (stopMix <= 0.0) col("text")
          else concat(col("text"), lit(" "),
            element_at(array(TemplateGrams.map(lit): _*),
              (floor(lit(TemplateGrams.length) *
                     u01(concat_ws(":", col("doc_id"), lit("tpl"))))
                 + 1).cast("int"))))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
                length(col("text")).cast("bigint").as("n_chars"))
    }.reduce(_.unionByName(_))
  }

  /** Regenerate each embedding `copies` times CLUSTERED: vector v' of
    * label L is centroid(L) + noise(v'), with centroid(L)[k] seeded
    * uniform in [-1,1] and noise bounded ±NoiseAmp — tight, separated
    * clusters (the typical real-embedding shape). Labels are carried
    * from the source rows, so cluster sizes keep their distribution.
    */
  // Noise/centroid ratio picked for non-trivial but realistic structure:
  // at 0.5 the mean within-cluster cosine is ~0.9 with near-orthogonal
  // centroids — clustered like real embedding spaces, not so tight that
  // every ANN variant trivially scores 1.0.
  val NoiseAmp = 0.5

  def clusteredEmbeddings(spark: SparkSession, embs: DataFrame,
                          copies: Int, dim: Int = 64): DataFrame =
    (0 until copies).map { i =>
      embs
        .withColumn("vec_id", col("vec_id") + i * Offset)
        .withColumn("embedding",
          transform(sequence(lit(0), lit(dim - 1)), k =>
            ((u01(concat_ws(":", col("label"), k, lit("c"))) * 2.0 - 1.0) +
             (u01(concat_ws(":", col("vec_id"), k, lit("n"))) * 2.0 - 1.0)
               * NoiseAmp).cast("float")))
        .select(col("vec_id"), col("embedding"), col("label"))
    }.reduce(_.unionByName(_))

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/sfbig")
    val copies = args.lift(2).getOrElse("10").toInt
    val mode = args.lift(3).getOrElse("copy") // copy | diverse | stress
    val diverse = mode == "diverse" || mode == "stress"
    val stopMix = if (mode == "stress") StopMix else 0.0
    val spark = Harness.session("graft-scale-gen", 16)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    StaticDims.foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode(SaveMode.Overwrite).parquet(s"$dst/$t.parquet")
    }
    // Split-friendly layout: each scaled table is written as ~one file
    // per core. The single-file form wrote one parquet row group, so
    // EVERY scan of the stress corpus ran as ONE task regardless of
    // maxPartitionBytes — CPU-heavy text/vector rows (quality scoring,
    // Levenshtein, signatures) measured serial execution, not the
    // operator (q_quality_score: 4.9 s at 10× single-file vs ~10 small
    // files; a real corpus has thousands of row groups and never hits
    // this). Round-robin repartition, not coalesce: copies arrive
    // unioned in copy order, and coalesce would keep copy-skewed files.
    val nFiles = Harness.cpus(16)
    ShiftCols.foreach { case (t, cols) =>
      val df = spark.read.parquet(s"$src/$t.parquet")
      val out = (t, diverse) match {
        case ("documents", true)  => diverseDocuments(spark, df, copies, stopMix)
        case ("embeddings", true) => clusteredEmbeddings(spark, df, copies)
        case _                    => scaled(df, cols, copies)
      }
      out.repartition(nFiles)
        .write.mode(SaveMode.Overwrite).parquet(s"$dst/$t.parquet")
      println(s"[scalegen] $t x$copies written" +
        (if (diverse && (t == "documents" || t == "embeddings")) " (diverse)"
         else ""))
    }
    spark.stop()
  }
}
