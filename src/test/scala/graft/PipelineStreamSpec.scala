package graft

import graft.ext.Pipeline
import graft.streaming.PipelineStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The streaming curation surface's contracts:
  *  - single-batch BATCH PARITY: ingesting the whole corpus as one
  *    micro-batch into empty ledgers folds to exactly the batch
  *    q_pipeline_run attrition table. The planes share the stage rules
  *    except the stream's ledger probes, count every stage the same way
  *    (observed on the pool checkpoints) and end in the same attrition
  *    tail; parity also holds on the reliable checkpoint route
  *    (`spark.graft.checkpoint.dir`);
  *  - idempotent replay: re-ingesting admits nothing, leaves admitted
  *    state and the packed-sequence count unchanged, and accounts the
  *    replayed docs as exact-dup drops;
  *  - cross-batch caps: the per-source token budget holds over the
  *    UNION of batches, enforced through the caps ledger.
  */
class PipelineStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  val sf = TestSpark.Sf

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_pipe_$tag").toString +
      "/pipeline"

  for ((reliable, suffix) <- Seq(false -> "", true -> " (reliable checkpoint dir)"))
    test("single-batch ingest == batch q_pipeline_run attrition table" + suffix) {
      def run[A](body: => A): A =
        if (reliable) TestSpark.withReliableCheckpointDir(body) else body
      val root = freshRoot("parity")
      val docs = Tables.documents(spark, sf)
      val bench = docs.filter(col("doc_id") % 50 === 0)
      val admitted = run(PipelineStream.ingestBatch(docs, bench, root))
      assert(admitted > 0)
      val got = PipelineStream.attritionView(spark, root)
        .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
      val want = run(Pipeline.pipelineRun(docs)
        .as[(String, Long, Long, Long, Long, Long)].collect().toSeq)
      assert(got == want, "streamed fold must equal the batch operator")
      assert(admitted == want.last._2)
    }

  test("replay admits nothing and is accounted as exact-dup drops") {
    val root = freshRoot("replay")
    val docs = Tables.documents(spark, sf)
    val bench = docs.filter(col("doc_id") % 50 === 0)
    val first = PipelineStream.ingestBatch(docs, bench, root)
    val before = PipelineStream.attritionView(spark, root)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(PipelineStream.ingestBatch(docs, bench, root) == 0L)
    val after = PipelineStream.attritionView(spark, root)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // Admitted state unchanged: final doc/token counts and the packed
    // sequence count are identical; the replayed raw intake shows up
    // as stage-0 growth that the dedup stages absorb entirely.
    assert(after("7_pack") == before("7_pack"))
    assert(after("6_source_caps")._2 == before("6_source_caps")._2)
    assert(after("0_raw")._2 == 2 * before("0_raw")._2)
    assert(first > 0)
  }

  test("runOnce: maxFilesPerTrigger=1 delivers one micro-batch per slice file") {
    // The ingest micro-batch sizing knob (StreamBench's lever): two
    // single-file slices + maxFilesPerTrigger=1 must fire TWO
    // row-carrying batches whose raw intake sums to the corpus, with
    // every admission decision ledgered under a distinct batch id.
    val root = freshRoot("mfpt")
    val work = java.nio.file.Files.createTempDirectory("graft_mfpt_src")
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
              col("n_chars"))
    val total = docs.count()
    for (i <- 0 until 2) {
      val tmp = s"$work/slice_$i"
      docs.filter(pmod(col("doc_id"), lit(2)) === i)
        .coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(
        part.toPath,
        java.nio.file.Paths.get(s"$work/documents_$i.parquet"))
    }
    val bench = docs.filter(col("doc_id") % 50 === 0)
    PipelineStream.runOnce(spark, work.toString, bench, root,
                           name = "graft_mfpt_ingest",
                           maxFilesPerTrigger = Some(1))
    val attr = spark.read.schema(PipelineStream.attritionSchema
        .add(org.apache.spark.sql.types.StructField("bucket",
          org.apache.spark.sql.types.StringType)))
      .option("basePath", s"$root/attrition").parquet(s"$root/attrition")
    // AvailableNow may fire a trailing EMPTY commit batch — only
    // row-carrying batches count as ingest micro-batches.
    val perBatch = attr.filter(col("stage") === "0_raw")
      .groupBy(col("batch_id")).agg(sum(col("docs_in")).as("docs"))
      .as[(String, Long)].collect().toMap.filter(_._2 > 0)
    assert(perBatch.size == 2,
           s"expected 2 row-carrying micro-batches, saw $perBatch")
    assert(perBatch.values.sum == total,
           "the two batches' raw intake must partition the corpus")
    assert(perBatch.values.forall(_ > 0))
  }

  test("runOnce: real AvailableNow stream over the sf dir folds to the batch table") {
    val root = freshRoot("runonce")
    val docs = Tables.documents(spark, sf)
    val bench = docs.filter(col("doc_id") % 50 === 0)
    val got = PipelineStream.runOnce(spark, sf, bench, root)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    val want = Pipeline.pipelineRun(docs)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    // The sf dir is one parquet file -> AvailableNow delivers one
    // micro-batch, so the fold must equal the batch operator exactly
    // (the single-batch parity contract through the REAL streaming
    // source/sink wiring, not a hand-fed frame).
    assert(got == want)
  }

  test("retried delivery (same batchId) never re-appends accounting") {
    val root = freshRoot("retry")
    val docs = Tables.documents(spark, sf)
    val bench = docs.filter(col("doc_id") % 50 === 0)
    val first = PipelineStream.ingestBatch(docs, bench, root, batchId = "b0")
    assert(first > 0)
    val before = PipelineStream.attritionView(spark, root)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    // Engine redelivery of the SAME micro-batch (crash before the
    // streaming checkpoint commit, restart): same id — state ingest is
    // idempotent by ledger probe, and accounting must not double.
    assert(PipelineStream.ingestBatch(docs, bench, root, batchId = "b0") == 0L)
    val after = PipelineStream.attritionView(spark, root)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(after == before, "attrition is exactly-once per delivery id")
    // A NEW delivery id over the same content is new intake by
    // contract: raw doubles, admitted state still unchanged.
    assert(PipelineStream.ingestBatch(docs, bench, root, batchId = "b1") == 0L)
    val next = PipelineStream.attritionView(spark, root)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(next("0_raw")._2 == 2 * before.head._2)
  }

  test("precomputed global hot-gram frame suppresses corpus-wide idioms per batch") {
    val rootA = freshRoot("hotA"); val rootB = freshRoot("hotB")
    val gram = "alpha beta gamma delta epsilon"
    val filler = (0 until 53).map(j => f"wordx$j%02d").mkString(" ")
    val text = s"$filler the and $gram" // 60 toks, funnel-passing
    val docs = Seq((1L, text, "en", "s", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val bench = Seq((50L, gram, "en", "s", gram.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // Per-batch fallback cap: the idiom's df within this one-doc batch
    // is 1 — the cap cannot bind, the shared gram counts as
    // contamination evidence, the doc is dropped.
    assert(PipelineStream.ingestBatch(docs, bench, rootA) == 0L)
    // Precomputed corpus-wide hot set (df > ContamMaxDf globally): the
    // idiom is suppressed as evidence and the doc admits — the batch
    // operator's false-positive posture restored on small batches.
    val hot = Seq(gram).toDF("gram")
    assert(PipelineStream.ingestBatch(docs, bench, rootB,
                                      globalHotGrams = Some(hot)) == 1L)
  }

  test("reconcile: re-resolves arrival-order divergence to the batch answer, idempotently") {
    val root = freshRoot("reconcile")
    val gram = "alpha beta gamma delta epsilon"
    // 80 funnel-passing carriers of one corpus-wide idiom 5-gram, each
    // with UNIQUE 40-char normalized prefix and suffix (so the star
    // keys never collide and none are near-dups), split 40/40 across
    // two micro-batches. Per-batch gram df = 40 < ContamMaxDf = 64 →
    // the stream's per-batch cap cannot bind and every carrier drops
    // at decontam; corpus-wide df = 80 > 64 → the batch operator
    // suppresses the idiom and drops NONE. The canonical divergence.
    def carrier(i: Int): (Long, String, String, String, Long) = {
      val pre = (0 until 20).map(j => f"u$i%03dp$j%02d").mkString(" ")
      val suf = (0 until 20).map(j => f"v$i%03ds$j%02d").mkString(" ")
      val text = s"$pre the and $gram $suf"
      (1001L + 2 * i, text, "en", "s", text.length.toLong) // odd: never % 50 == 0
    }
    val benchRow = Seq((50L, s"zz $gram yy", "en", "s",
                        (s"zz $gram yy").length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val b1 = (0 until 40).map(carrier)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .unionByName(benchRow)
    val b2 = (40 until 80).map(carrier)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val full = b1.unionByName(b2)

    assert(PipelineStream.ingestBatch(b1, benchRow, root) == 0L)
    assert(PipelineStream.ingestBatch(b2, benchRow, root) == 0L)
    def view() = PipelineStream.attritionView(spark, root)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    val want = Pipeline.pipelineRun(full)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    val wantMap = want.map(r => r._1 -> r).toMap
    // Divergence is real: stream dropped all 80 at decontam, batch 0.
    assert(view()("5_decontam")._4 == 80L)
    assert(wantMap("5_decontam")._4 == 0L)

    // Reconcile → the ledgers re-resolve to the batch answer exactly.
    assert(PipelineStream.reconcile(full, benchRow, root) ==
      wantMap("6_source_caps")._2)
    val r1 = PipelineStream.attritionView(spark, root)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(r1 == want, "reconciled fold must equal the batch operator")
    // Idempotent under repeated reconcile.
    assert(PipelineStream.reconcile(full, benchRow, root) ==
      wantMap("6_source_caps")._2)
    val r2 = PipelineStream.attritionView(spark, root)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(r2 == want)
    // Incremental ingest continues from reconciled state: replaying a
    // carrier admits nothing and only grows raw intake.
    assert(PipelineStream.ingestBatch(b2.limit(1), benchRow, root) == 0L)
    val after = view()
    assert(after("7_pack") == wantMap("7_pack"))
  }

  test("reconcile under a live checkpointed query: carried checkpoint, exactly-once intake") {
    // The deterministic pin of what StreamSoak measures under real
    // arrival timing: a CHECKPOINTED query consumes slices, reconcile()
    // swaps the ledgers at a quiesce boundary, and the restarted query
    // must (a) carry the streaming checkpoint across the root swap so
    // already-consumed slices are never redelivered, (b) deliver only
    // post-reconcile arrivals, and (c) keep the intake accounting
    // exactly-once across the whole interleaving — the soak's
    // conservation invariant, minus the wall clock.
    val root = freshRoot("reconload")
    val src = java.nio.file.Files.createTempDirectory("graft_reconload_src")
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
              col("n_chars"))
    val bench = docs.filter(col("doc_id") % 50 === 0)
    val sliceRows = new Array[Long](3)
    def land(i: Int): Unit = {
      val tmp = s"$src/slice_$i"
      val part = docs.filter(pmod(col("doc_id"), lit(3)) === i)
      sliceRows(i) = part.count()
      part.coalesce(1).write.parquet(tmp)
      val f = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(
        f.toPath, java.nio.file.Paths.get(s"$src/documents_$i.parquet"))
    }
    def rawIntake(): Long = PipelineStream.attritionView(spark, root)
      .filter(col("stage") === "0_raw")
      .as[(String, Long, Long, Long, Long, Long)].head()._2

    // Phase 1: the live query consumes slices 0 and 1 (one batch each).
    land(0); land(1)
    PipelineStream.runOnce(spark, src.toString, bench, root,
                           name = "graft_reconload_p1",
                           maxFilesPerTrigger = Some(1))
    assert(rawIntake() == sliceRows(0) + sliceRows(1))

    // Phase 2: reconcile over the durable history at the quiesce
    // boundary. Intake must stay exactly-once (replaced, not doubled),
    // and the ledgers must equal the batch operator over what arrived.
    val hist = spark.read
      .schema(graft.streaming.CorpusStream.docsSchema).parquet(src.toString)
    PipelineStream.reconcile(hist, bench, root)
    assert(rawIntake() == sliceRows(0) + sliceRows(1),
           "reconcile must re-account intake exactly once, not append")
    val got01 = PipelineStream.attritionView(spark, root)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    val want01 = Pipeline.pipelineRun(
        docs.filter(pmod(col("doc_id"), lit(3)) =!= 2))
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got01 == want01, "reconciled fold must equal the batch operator")

    // Phase 3: a new slice lands; the restarted query must resume from
    // the CARRIED checkpoint — slices 0-1 are not redelivered, slice 2
    // is delivered exactly once.
    land(2)
    PipelineStream.runOnce(spark, src.toString, bench, root,
                           name = "graft_reconload_p3",
                           maxFilesPerTrigger = Some(1))
    assert(rawIntake() == sliceRows.sum,
           "carried checkpoint: old slices never redeliver, new exactly once")

    // Phase 4: the nightly reconcile converges the whole interleaving
    // to the batch answer over the full corpus. Re-read the source:
    // the phase-2 frame's file index was resolved before slice 2 landed.
    val histAll = spark.read
      .schema(graft.streaming.CorpusStream.docsSchema).parquet(src.toString)
    PipelineStream.reconcile(histAll, bench, root)
    val gotAll = PipelineStream.attritionView(spark, root)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    val wantAll = Pipeline.pipelineRun(docs)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(gotAll == wantAll)
  }

  test("per-source caps hold across batches via the caps ledger") {
    val root = freshRoot("caps")
    // Two batches from one source, each under the cap alone, together
    // over it: every doc 60 tokens (58 unique 8-char words + 2
    // stopwords), 50 docs/batch = 3000 tokens; cap 5000 -> batch 2 may
    // admit at most 2000/60 = 33 docs.
    def mk(base: Long, tag: String) = (0 until 50).map { i =>
      val words = (0 until 58).map(j => f"$tag%s$i%02dx$j%02d") // 7 chars

      val text = (words.take(29) ++ Seq("the", "and") ++ words.drop(29))
        .mkString(" ")
      (base + 2 * i + 1, text, "en", "big", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val bench = mk(900001L, "zz").limit(0) // empty benchmark
    val a1 = PipelineStream.ingestBatch(mk(1000L, "aa"), bench, root)
    val a2 = PipelineStream.ingestBatch(mk(3000L, "bb"), bench, root)
    assert(a1 == 50L, "batch 1 fits the budget entirely")
    assert(a2 == 33L, "batch 2 admits only the remaining budget")
    val fin = PipelineStream.attritionView(spark, root)
      .filter(col("stage") === "6_source_caps")
      .as[(String, Long, Long, Long, Long, Long)].head()
    assert(fin._2 == 83L && fin._3 == 4980L,
           "ledgered per-source mass equals the greedy-admitted budget")
  }
}
