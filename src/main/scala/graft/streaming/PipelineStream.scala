package graft.streaming

import graft.ext.{Corpus, Pipeline, TextOps}
import graft.ops.Ops
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming face of the composed curation run (q_pipeline_run) — the
  * 16th streaming surface: documents arrive in micro-batches, pass the
  * SAME stage chain (quarantine → quality → exact dedup → near dedup →
  * decontamination → source caps), and every admission decision plus
  * every drop is durably ledgered, so `attritionView` folds the full
  * history into exactly the attrition table the batch operator emits.
  * This is how a 100 TB corpus is actually curated: continuously, as
  * crawl slices land, not as one monolithic job.
  *
  * State, like every ledger on this plane, lives in PERSISTED bucketed
  * tables probed per micro-batch — never in streaming operator state
  * (exact/near dedup need every hash/key ever admitted; operator state
  * would grow without bound and die with the checkpoint):
  *
  *   - `docs/`  (bucket = sha-256 prefix): admitted documents
  *     (text_hash, doc_id, source, n_toks) — the exact-dup probe, the
  *     caps accounting source of truth, and the pack-fold input.
  *   - `keys/`  (bucket = xxhash64 prefix of the star key): blocking
  *     keys of admitted docs (Corpus.starKeyed — shared definition
  *     with the batch component labeling). A new doc sharing ANY star
  *     key with an admitted doc is a near-dup and is dropped:
  *     first-seen-wins, the streaming analogue of keep-component-min.
  *   - `attrition/`: one row per (batch, stage) — docs/tokens offered
  *     and dropped. Pure accounting, append-only.
  *
  * BATCH PARITY (pinned by spec): ingesting the whole corpus as ONE
  * batch into empty ledgers reproduces `Pipeline.pipelineRun`'s
  * attrition table row-for-row — within a single batch the in-batch
  * near-dedup IS clusterLabelsOf keep-component-min, the in-batch
  * decontamination df cap sees the same gram frequencies, and greedy
  * caps see the same candidate order. ACROSS batches the semantics
  * are arrival-order greedy (first-seen-wins dedup, per-batch gram-df
  * caps unless a precomputed global hot-gram frame is supplied, caps
  * admission against the ledgered per-source total) — the
  * standard streaming divergence this plane documents on CorpusStream:
  * a global-min / global-df re-resolution would mean rewriting history
  * every batch.
  *
  * Idempotent replay: a replayed document is dropped by the exact-dup
  * ledger probe (or earlier), admits nothing, and only adds attrition
  * rows recording the drop — admitted state and the packed-sequence
  * count are unchanged (pinned by spec).
  *
  * Single-writer contract and staged-rename commit are inherited from
  * CorpusStream (shared stagedAppend).
  */
object PipelineStream {

  val docsLedgerSchema: StructType = StructType(Seq(
    StructField("text_hash", StringType),
    StructField("doc_id", LongType),
    StructField("source", StringType),
    StructField("n_toks", LongType)))

  val keysLedgerSchema: StructType = StructType(Seq(
    StructField("key", StringType)))

  val attritionSchema: StructType = StructType(Seq(
    StructField("batch_id", StringType),
    StructField("stage", StringType),
    StructField("docs_dropped", LongType),
    StructField("toks_dropped", LongType),
    StructField("docs_in", LongType),
    StructField("toks_in", LongType)))

  /** Per-batch per-source admitted token mass — the caps stage's probe.
    * Folding THIS (O(batches × sources) rows) instead of summing the
    * whole docs ledger keeps the per-batch caps lookup independent of
    * corpus size.
    */
  val capsSchema: StructType = StructType(Seq(
    StructField("source", StringType),
    StructField("adm_toks", LongType)))

  private def docsDir(root: String) = s"$root/docs"
  private def keysDir(root: String) = s"$root/keys"
  private def attrDir(root: String) = s"$root/attrition"
  private def capsDir(root: String) = s"$root/caps"

  private def emptyOf(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  private def readOrEmpty(spark: SparkSession, dir: String,
                          schema: StructType): DataFrame =
    if (CorpusStream.fs(spark, dir)
          .exists(new org.apache.hadoop.fs.Path(dir)))
      spark.read.schema(schema.add(StructField("bucket", StringType)))
        .option("basePath", dir).parquet(dir)
        .select(schema.fieldNames.map(col): _*)
    else emptyOf(spark, schema)

  /** One micro-batch of curation. `batch` is documents-shaped (doc_id,
    * text, lang, source, n_chars); `bench` is the static benchmark
    * frame (same shape) the decontamination stage screens against.
    * Returns the number of documents admitted.
    *
    * `batchId` keys the batch's attrition rows. Callers with a
    * delivery-tracking source (runOnce: the checkpointed foreachBatch
    * batch id) MUST pass a stable id — an engine RETRY of the same
    * micro-batch then skips the attrition append (rows for that id
    * already exist; the state appends are idempotent on their own via
    * the ledger probes), so redelivery can never over-count docs_in or
    * drops. The random default serves direct callers for whom each
    * invocation IS a new delivery (re-ingesting a file on purpose is
    * new intake and must be accounted).
    *
    * `globalHotGrams` optionally supplies a PRECOMPUTED corpus-wide
    * hot-gram frame (one `gram` column — Corpus.hotGrams over the full
    * postings) for the decontamination stage's df cap. Per micro-batch
    * no gram may reach ContamMaxDf, so the per-batch fallback cap
    * stops suppressing corpus-wide idioms and the stream drops MORE
    * docs than the batch operator — a deployment refreshes this frame
    * periodically (it is tiny and broadcastable by construction) and
    * passes it here.
    */
  def ingestBatch(batch: DataFrame, bench: DataFrame,
                  rootDir: String,
                  batchId: String = java.util.UUID.randomUUID().toString,
                  globalHotGrams: Option[DataFrame] = None): Long = {
    val spark = batch.sparkSession
    // Retry guard: attrition rows keyed by this id already ledgered
    // means this delivery was already accounted — run the state-side
    // ingest (idempotent) but never re-append accounting.
    val alreadyAccounted = !readOrEmpty(spark, attrDir(rootDir),
                                        attritionSchema)
      .filter(col("batch_id") === batchId).isEmpty

    val d0 = batch
      .withColumn("n_toks", size(Ops.tokens(col("text"))).cast("bigint"))
      .localCheckpoint(true) // one stable snapshot across all stages
    // 1: benchmark quarantine (same membership rule as the batch op)
    val pool1 = d0.filter(col("doc_id") % 50 =!= 0)
    // 2: quality gate (shared funnel rules)
    val pool2 = pool1.filter(TextOps.funnelStage === "5_pass")
    // 3: exact dedup — collapse in-batch copies to min doc_id, then
    // drop hashes already admitted (bucket-pruned ledger probe). The
    // fingerprint is the BATCH operator's (md5 of whitespace-normalized
    // text, q_fingerprint's rule) — not CorpusStream's raw sha-256 —
    // so whitespace-variant copies resolve identically on both planes.
    val hashed = pool2.withColumn("text_hash",
      md5(Ops.normalizeText(col("text"))))
    val collapsed = hashed
      .withColumn("min_id",
        min(col("doc_id")).over(Window.partitionBy(col("text_hash"))))
      .filter(col("doc_id") === col("min_id")).drop("min_id")
      .withColumn("bucket", substring(col("text_hash"), 1, 2))
      .localCheckpoint(true) // stable: bucket list + probe + later stages
    val hashBuckets = collapsed.select(col("bucket")).distinct()
      .collect().map(_.getString(0)).toSeq // ≤ 256 by construction
    val docsProbe = CorpusStream.bucketPaths(spark, docsDir(rootDir),
                                             hashBuckets) match {
      case Seq() => emptyOf(spark, docsLedgerSchema)
      case paths => spark.read.schema(docsLedgerSchema).parquet(paths: _*)
    }
    val pool3 = collapsed.join(docsProbe.select(col("text_hash")),
                               Seq("text_hash"), "left_anti")
    // 4: near dedup — in-batch keep-component-min (the batch operator's
    // exact rule via shared clusterLabelsOf), then drop docs sharing
    // any star key with an already-admitted doc (bucket-pruned probe)
    val inBatchKept = pool3.join(
      Corpus.clusterLabelsOf(pool3).filter(col("label") === col("doc_id"))
        .select(col("doc_id")), Seq("doc_id"))
    val batchKeys = Corpus.starKeyed(inBatchKept)
      .select(col("doc_id"), col("key"),
        format_string("%02x", pmod(xxhash64(col("key")), lit(256L))).as("bucket"))
      .localCheckpoint(true)
    val keyBuckets = batchKeys.select(col("bucket")).distinct()
      .collect().map(_.getString(0)).toSeq
    val keysProbe = CorpusStream.bucketPaths(spark, keysDir(rootDir),
                                             keyBuckets) match {
      case Seq() => emptyOf(spark, keysLedgerSchema)
      case paths => spark.read.schema(keysLedgerSchema).parquet(paths: _*)
    }
    val hitIds = batchKeys
      .join(keysProbe.select(col("key")), Seq("key"), "left_semi")
      .select(col("doc_id")).distinct()
    val pool4 = inBatchKept.join(hitIds, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    // 5: decontamination — any shared df-capped word-n-gram with the
    // benchmark (per-batch df cap: the streaming approximation of the
    // batch operator's corpus-wide cap; a deployment would broadcast a
    // precomputed global hot-gram list instead)
    val survGrams = pool4.select(col("doc_id"),
      explode(Ops.shingles(Ops.tokens(col("text")), Corpus.ContamN))
        .as("gram"))
    val benchGrams = bench.select(
        explode(Ops.shingles(Ops.tokens(col("text")), Corpus.ContamN))
          .as("gram")).distinct()
    val contaminated = survGrams
      .join(benchGrams, Seq("gram"), "left_semi")
      .join(globalHotGrams.getOrElse(Corpus.hotGrams(survGrams)),
            Seq("gram"), "left_anti")
      .select(col("doc_id")).distinct()
    val pool5 = pool4.join(contaminated, Seq("doc_id"), "left_anti")
    // 6: source caps — greedy admission against the ledgered per-source
    // totals (bounded probe: the admitted ledger's per-source sums are
    // O(sources) rows). Within the batch the order is the batch
    // operator's (h, doc_id); the ledger offset makes it
    // arrival-order-greedy across batches.
    val ledgerCum = readOrEmpty(spark, capsDir(rootDir), capsSchema)
      .groupBy(col("source")).agg(sum(col("adm_toks")).as("led_toks"))
    val wcap = Window.partitionBy(col("source"))
      .orderBy(col("h").asc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pool6 = pool5
      .withColumn("h",
        Ops.md5Bits60(concat(col("doc_id").cast("string"), lit(":cap"))))
      .withColumn("cum", sum(col("n_toks")).over(wcap))
      .join(broadcast(ledgerCum), Seq("source"), "left")
      .filter(col("cum") + coalesce(col("led_toks"), lit(0L))
                <= Pipeline.CapTokens)
      .localCheckpoint(true) // snapshot BEFORE appending to probed dirs

    val admitted = pool6.count()
    // Attrition accounting: one row per stage (drops + the batch's
    // stage-0 intake), appended BEFORE the state ledgers so a crash
    // between the two over-counts drops rather than under-counting
    // state (re-ingest then reconciles: replayed docs re-drop). A
    // retried delivery (alreadyAccounted) skips this block entirely.
    if (!alreadyAccounted) {
      def cnt(df: DataFrame): (Long, Long) = {
        val r = df.agg(count(lit(1)), coalesce(sum(col("n_toks")), lit(0L)))
          .head()
        (r.getLong(0), r.getLong(1))
      }
      val s0 = cnt(d0); val s1 = cnt(pool1); val s2 = cnt(pool2)
      val s3 = cnt(pool3); val s4 = cnt(pool4); val s5 = cnt(pool5)
      val s6 = cnt(pool6)
      val stages = Seq(
        ("0_raw", s0, s0), ("1_quarantine", s0, s1), ("2_quality", s1, s2),
        ("3_exact_dedup", s2, s3), ("4_near_dedup", s3, s4),
        ("5_decontam", s4, s5), ("6_source_caps", s5, s6))
      import spark.implicits._
      val attrRows = stages.map { case (st, in, out) =>
        (batchId, st, in._1 - out._1, in._2 - out._2,
         if (st == "0_raw") s0._1 else 0L, if (st == "0_raw") s0._2 else 0L)
      }.toDF(attritionSchema.fieldNames: _*)
        .withColumn("bucket", lit("00"))
      CorpusStream.stagedAppend(spark, attrRows, attrDir(rootDir))
    }

    if (admitted > 0) {
      CorpusStream.stagedAppend(spark,
        pool6.select(col("text_hash"), col("doc_id"), col("source"),
                     col("n_toks"),
                     substring(col("text_hash"), 1, 2).as("bucket")),
        docsDir(rootDir))
      CorpusStream.stagedAppend(spark,
        Corpus.starKeyed(pool6).select(col("key"),
          format_string("%02x", pmod(xxhash64(col("key")), lit(256L)))
            .as("bucket")),
        keysDir(rootDir))
      CorpusStream.stagedAppend(spark,
        pool6.groupBy(col("source"))
          .agg(sum(col("n_toks")).as("adm_toks"))
          .withColumn("bucket", lit("00")),
        capsDir(rootDir))
    }
    admitted
  }

  /** Drive curation over a static documents dir to completion
    * (AvailableNow — the plane's standard harness for exercising the
    * real Structured Streaming source/sink wiring): each micro-batch
    * runs the full stage chain against the ledgers; `bench` is read
    * once up front (the benchmark is static eval data by definition).
    * Returns the folded attrition view as of completion.
    *
    * The query is CHECKPOINTED under the ledger root, so the
    * foreachBatch batch id is durable and monotone across restarts AND
    * re-invocations over the same rootDir: a crash-redelivered batch
    * arrives with the id it was first accounted under and ingestBatch
    * skips its attrition append — accounting is exactly-once end to
    * end while the state ledgers stay idempotent by probe.
    */
  def runOnce(spark: SparkSession, srcDir: String, bench: DataFrame,
              rootDir: String,
              name: String = "graft_pipeline_ingest",
              globalHotGrams: Option[DataFrame] = None,
              maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val q = startQuery(spark, srcDir, bench, rootDir, name, globalHotGrams,
                       maxFilesPerTrigger,
                       org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.awaitTermination()
    attritionView(spark, rootDir)
  }

  /** The same source/sink wiring as [[runOnce]] with a caller-chosen
    * trigger — the LONG-LIVED deployment shape (ProcessingTime) the
    * steady-state soak drives: the query keeps polling `srcDir` for
    * newly landed crawl slices and the caller owns stop/await. All
    * ledger, checkpoint, and exactly-once-attrition semantics are
    * identical (same checkpoint location ⇒ a soak run and a later
    * AvailableNow catch-up resume one another seamlessly).
    */
  def startQuery(spark: SparkSession, srcDir: String, bench: DataFrame,
                 rootDir: String,
                 name: String = "graft_pipeline_ingest",
                 globalHotGrams: Option[DataFrame] = None,
                 maxFilesPerTrigger: Option[Int] = None,
                 trigger: org.apache.spark.sql.streaming.Trigger =
                   org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val benchStable = bench.localCheckpoint(true) // one snapshot, all batches
    val hotStable = globalHotGrams.map(_.localCheckpoint(true))
    // maxFilesPerTrigger is THE ingest micro-batch sizing knob (one
    // crawl slice per batch vs all available at once) — surfaced for
    // deployments and StreamBench; None keeps the source default
    // (AvailableNow drains everything in one batch).
    val reader0 = spark.readStream
      .schema(CorpusStream.docsSchema)
      .option("pathGlobFilter", "documents*.parquet")
    val reader = maxFilesPerTrigger
      .fold(reader0)(n => reader0.option("maxFilesPerTrigger", n.toString))
    reader.parquet(srcDir)
      .writeStream
      .queryName(name)
      .outputMode("update")
      .option("checkpointLocation", s"$rootDir/_checkpoint")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        ingestBatch(batch, benchStable, rootDir, s"b$id", hotStable); ()
      }
      .trigger(trigger)
      .start()
  }

  /** Periodic GLOBAL RE-RESOLUTION of the arrival-order-greedy
    * divergences (first-seen-wins dedup, per-batch gram df, ledgered
    * caps offsets): re-resolve the ledgers to exactly the batch
    * operator's answer over the full corpus seen so far. `docs` is the
    * full raw history — the stream's input is durable by assumption
    * (crawl slices on the cluster filesystem), so a deployment runs
    * this nightly over the accumulated source while micro-batches
    * continue intraday.
    *
    * Mechanism: one single-batch ingest into a STAGED root (single-
    * batch parity with Pipeline.pipelineRun is the plane's pinned
    * contract — within one batch, in-batch dedup IS keep-component-min
    * and the in-batch df cap IS the corpus-wide cap), then a rename
    * swap: current root set aside, staged root in, streaming
    * checkpoint carried over so an in-flight runOnce source position
    * survives the swap. Idempotent by construction — the same corpus
    * re-resolves to the same ledgers. Crash caveat: the swap is two
    * renames; a crash between them leaves `<root>.pre-reconcile` to
    * recover from by hand (same single-writer contract as every ledger
    * on this plane).
    */
  def reconcile(docs: DataFrame, bench: DataFrame, rootDir: String): Long = {
    import org.apache.hadoop.fs.Path
    val spark = docs.sparkSession
    val f = CorpusStream.fs(spark, rootDir)
    val staged = s"$rootDir.reconcile-staging"
    f.delete(new Path(staged), true)
    val admitted = ingestBatch(docs, bench, staged, batchId = "reconciled")
    val old = new Path(s"$rootDir.pre-reconcile")
    f.delete(old, true)
    if (f.exists(new Path(rootDir)))
      require(f.rename(new Path(rootDir), old),
        s"reconcile: cannot set aside $rootDir")
    require(f.rename(new Path(staged), new Path(rootDir)),
      s"reconcile: cannot install $staged")
    val ckpt = new Path(s"$old/_checkpoint")
    if (f.exists(ckpt))
      require(f.rename(ckpt, new Path(s"$rootDir/_checkpoint")),
        "reconcile: cannot carry the streaming checkpoint over")
    f.delete(old, true)
    admitted
  }

  /** Fold the attrition ledger (plus a pack pass over the admitted
    * ledger) into exactly the batch operator's attrition table:
    * (stage, n_docs, n_tokens, docs_dropped, tokens_dropped, n_seqs).
    */
  def attritionView(spark: SparkSession, rootDir: String): DataFrame = {
    val attr = readOrEmpty(spark, attrDir(rootDir), attritionSchema)
    val byStage = attr.groupBy(col("stage"))
      .agg(sum(col("docs_dropped")).as("d_drop"),
           sum(col("toks_dropped")).as("t_drop"),
           sum(col("docs_in")).as("d_in"),
           sum(col("toks_in")).as("t_in"))
    // Bounded: 7 stage rows; the running subtraction is a window over
    // a fixed-size frame (the PLANS.md bounded-final rule).
    val w = Window.orderBy(col("stage"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totIn = attr.agg(coalesce(sum(col("docs_in")), lit(0L)),
                         coalesce(sum(col("toks_in")), lit(0L))).head()
    val stages = byStage
      .withColumn("n_docs", lit(totIn.getLong(0)) -
        sum(col("d_drop")).over(w))
      .withColumn("n_tokens", lit(totIn.getLong(1)) -
        sum(col("t_drop")).over(w))
      .select(col("stage"), col("n_docs"), col("n_tokens"),
              col("d_drop").as("docs_dropped"),
              col("t_drop").as("tokens_dropped"))
    val admittedDocs = readOrEmpty(spark, docsDir(rootDir), docsLedgerSchema)
    val wpack = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val nSeqs = admittedDocs
      .select(col("doc_id"),
              (Ops.md5Bits60(col("doc_id").cast("string"))
                 % Corpus.NumShards).as("shard"),
              col("n_toks"))
      .withColumn("cum_before",
        coalesce(sum(col("n_toks")).over(wpack), lit(0L)))
      .select(col("shard"),
              expr(s"cum_before DIV ${Corpus.SeqLen}").as("seq_id"))
      .distinct()
      .agg(count(lit(1)).as("n_seqs"))
    val packRow = stages.filter(col("stage") === "6_source_caps")
      .withColumn("stage", lit("7_pack"))
      .withColumn("docs_dropped", lit(0L))
      .withColumn("tokens_dropped", lit(0L))
    stages.unionByName(packRow)
      .crossJoin(nSeqs)
      .select(col("stage"), col("n_docs"), col("n_tokens"),
              col("docs_dropped"), col("tokens_dropped"),
              when(col("stage") === "7_pack", col("n_seqs"))
                .otherwise(lit(0L)).as("n_seqs"))
      .orderBy(col("stage"))
  }
}
