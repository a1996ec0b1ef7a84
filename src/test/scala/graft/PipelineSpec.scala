package graft

import graft.ext.{Multimodal, Sessions}
import graft.streaming.EventStream
import org.apache.spark.sql.functions.{min, sha2, size, split}
import org.scalatest.funsuite.AnyFunSuite

/** Multimodal binary plumbing + streaming/batch parity. */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  val sf = TestSpark.Sf

  test("multimodal: real decode is correct, deterministic and distributed") {
    import graft.ext.MediaCodec
    // Mixed fleet: real BMPs, real WAVs, and junk that must degrade to
    // "bin" — extractMeta must recover the true header facts of each.
    val payloads = (1L to 90L).map { i =>
      val payload =
        if (i % 3 == 0) {
          val w = (2 + i % 9).toInt; val h = (1 + i % 5).toInt
          MediaCodec.encodeBmp(w, h,
            Array.tabulate(3 * w * h)(b => (b * i % 251).toByte))
        } else if (i % 3 == 1) {
          MediaCodec.encodeWav((8000 + (i % 3) * 4000).toInt, 1, 16,
            Array.tabulate((2 * (i % 40 + 1)).toInt)(b => (b * i % 251).toByte))
        } else Array.tabulate((i % 50 + 3).toInt)(b => (b * i % 251).toByte)
      (i, payload)
    }
    val ds = spark.createDataset(payloads).repartition(4)
    val meta = Multimodal.extractMeta(ds).collect().sortBy(_.docId)
    assert(meta.length == 90)
    meta.foreach { m =>
      if (m.docId % 3 == 0) {
        assert(m.format == "bmp")
        assert(m.width == (2 + m.docId % 9) && m.height == (1 + m.docId % 5))
      } else if (m.docId % 3 == 1) {
        assert(m.format == "wav")
        val rate = 8000 + (m.docId % 3) * 4000
        val dataBytes = 2 * (m.docId % 40 + 1)
        assert(m.durationMs == dataBytes * 1000 / (rate * 2))
      } else assert(m.format == "bin")
    }
    // determinism across reruns / partitionings
    val again = Multimodal.extractMeta(ds.repartition(7)).collect().sortBy(_.docId)
    assert(meta.toSeq == again.toSeq)
  }

  test("multimodal: resize bounds payload to the target budget, deterministic") {
    val payloads = (1L to 50L).map(i =>
      (i, Array.tabulate((i * 13 % 900 + 10).toInt)(b => (b * i % 251).toByte)))
    val ds = spark.createDataset(payloads).repartition(4)
    val small = Multimodal.resize(ds, 32, 32).collect().sortBy(_._1)
    assert(small.length == 50)
    val budget = 32 * 32 / 64
    assert(small.forall { case (_, w, h, b) =>
      w == 32 && h == 32 && b.length <= math.max(budget, payloads.head._2.length) })
    assert(small.forall { case (id, _, _, b) =>
      b.length == math.min(payloads(id.toInt - 1)._2.length, budget) ||
        payloads(id.toInt - 1)._2.length <= budget })
    val again = Multimodal.resize(ds.repartition(7), 32, 32).collect().sortBy(_._1)
    assert(small.map(_._4.toSeq).toSeq == again.map(_._4.toSeq).toSeq)
  }

  test("multimodal: frame sampling preserves ids, yields n slices") {
    val ds = spark.createDataset(Seq((1L, Array.fill(100)(7.toByte))))
    val frames = Multimodal.sampleFrames(ds, 4).collect()
    assert(frames.length == 4)
    assert(frames.map(_._2).sorted.sameElements(0 until 4))
    assert(frames.map(_._3.length).sum == 100)
  }

  test("stateful streaming sessionization == batch sessionization") {
    import graft.streaming.SessionStream
    val batch = Sessions.qSessionize(spark, sf)
      .select($"user_id", $"n_sessions", $"n_events")
      .as[(Long, Long, Long)].collect().toSet
    val stream = SessionStream.runOverStaticDir(spark, sf)
      .select($"user_id", $"n_sessions", $"n_events")
      .as[(Long, Long, Long)].collect().toSet
    assert(stream == batch)
  }

  test("session merge: out-of-order event across batches joins the right session") {
    import graft.streaming.SessionStream
    import SessionStream.{Ev, GapUs, merge}
    def ev(us: Long) = Ev(1L, new java.sql.Timestamp(us / 1000), us, us)
    val hour = 3600L * 1000000L
    // batch 1: two sessions an hour apart → state holds both
    val st1 = merge(Nil, Seq(ev(0L), ev(hour)))
    assert(st1.map(s => (s._1, s._2, s._3)).toSet == Set((0L, 0L, 1L), (hour, hour, 1L)))
    // batch 2: a LATE event 1s after the EARLIER session — must extend it,
    // not open a third session (the round-1 bug extended only the head)
    val st2 = merge(st1, Seq(ev(1000000L)))
    assert(st2.toSet == Set((0L, 1000000L, 2L), (hour, hour, 1L)))
    // a late event that bridges two sessions coalesces them
    val near = GapUs + 1000000L // session 2 starts gap+1s after session 1 ends
    val stA = merge(Nil, Seq(ev(0L), ev(near)))
    assert(stA.size == 2)
    val stB = merge(stA, Seq(ev(GapUs / 2)))
    assert(stB == List((0L, near, 3L)))
    // arrival-order independence: any batch split yields the same sessions
    val evs = Seq(0L, hour, 1000000L, hour + GapUs / 2, 2 * hour).map(ev)
    val allAtOnce = merge(Nil, evs)
    val oneByOne = evs.reverse.foldLeft(List.empty[(Long, Long, Long)])(
      (st, e) => merge(st, Seq(e)))
    assert(allAtOnce.toSet == oneByOne.toSet)
  }

  test("corpus ingest stream: batch-twin dedup + idempotent re-ingest") {
    import graft.streaming.CorpusStream
    val historyDir = java.nio.file.Files
      .createTempDirectory("graft_ingest").toString + "/history"
    // first ingest: history carries exactly the batch quality+dedup twin.
    // (Equality with the GLOBAL-min twin holds here because the static
    // corpus is one file = one micro-batch; across batches the ledger is
    // first-seen-wins by design — see CorpusStream's scaladoc.)
    val history = CorpusStream.runOnce(spark, sf, historyDir)
      .select($"text_hash", $"canonical_id").as[(String, Long)].collect()
    val twin = Tables.documents(spark, sf)
      .filter(size(split($"text", " ")).between(
        CorpusStream.MinToks, CorpusStream.MaxToks))
      .groupBy(sha2($"text", 256).as("text_hash"))
      .agg(min($"doc_id").as("canonical_id"))
      .as[(String, Long)].collect()
    assert(history.length == twin.length)
    assert(history.toSet == twin.toSet,
           "stream history must equal the batch quality+dedup twin")
    // replaying the SAME corpus must add nothing: every hash is already
    // in the ledger (the operational property incremental ingest exists
    // for). Fresh checkpoint (runOnce keeps none) so files re-stream.
    val again = CorpusStream.runOnce(spark, sf, historyDir)
    assert(again.count() == history.length, "re-ingest must be idempotent")
    // staged-commit contract: the ledger holds ONLY bucket directories
    // of complete part files — no _SUCCESS/_temporary write artifacts —
    // and the staging area is fully drained after each batch commits.
    val entries = new java.io.File(historyDir).listFiles().map(_.getName)
    assert(entries.nonEmpty && entries.forall(_.startsWith("bucket=")),
      s"ledger dir must contain only bucket partitions: ${entries.toList}")
    val staging = new java.io.File(historyDir + ".staging")
    assert(!staging.exists() || staging.listFiles().isEmpty,
      "staging area must be drained after commit")
  }

  test("bucketed ledger: a batch probes only its own hash-prefix buckets") {
    import graft.streaming.CorpusStream
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bucketed").toString + "/history"
    def doc(id: Long, text: String) = (id, text, "en", "web", text.length.toLong)
    def sha256Bucket(text: String): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(text.getBytes("UTF-8"))
        .take(1).map(b => f"${b & 0xff}%02x").mkString
    // Seed the ledger with 40 distinct docs -> many distinct bucket dirs.
    val seed = (0 until 40).map(i => doc(i.toLong, (s"w$i " * 12).trim))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(CorpusStream.ingestBatch(seed, dir) == 40L)
    val allBuckets = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("bucket=")).map(_.getName).toSet
    assert(allBuckets.size > 10, "SHA prefixes must spread the ledger")
    // The pruning contract: a 1-doc batch's probe path set is AT MOST
    // its one bucket dir, regardless of how many buckets the ledger has.
    val dupText = ("w0 " * 12).trim
    val paths = graft.streaming.Ledger.bucketPaths(spark, dir, Seq(sha256Bucket(dupText)))
    assert(paths.size <= 1 &&
           paths.forall(_.endsWith(s"bucket=${sha256Bucket(dupText)}")))
    assert(paths.size < allBuckets.size)
    // Cross-batch dedup still holds through the pruned probe...
    val dup = Seq(doc(100L, dupText))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(CorpusStream.ingestBatch(dup, dir) == 0L,
           "a duplicate hash must be caught inside its own bucket")
    // ...and a genuinely new doc is admitted through its bucket.
    val fresh = Seq(doc(101L, ("brandnew " * 12).trim))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(CorpusStream.ingestBatch(fresh, dir) == 1L)
  }

  test("compaction monitor stream: post-drain plan equals the batch plan for any batching") {
    import graft.streaming.CompactionStream
    val root = java.nio.file.Files
      .createTempDirectory("graft_compact_stream").toString
    // Split the corpus into two parquet files with INTERLEAVED doc_ids
    // (odd/even), so most (source, file) manifest keys span both
    // micro-batches — exercising the additive fold, not just append.
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
    // single-FILE parquet per half (the glob matches files, not dirs):
    // stage a 1-part write, then move the part file into place
    def writeFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      import java.nio.file.{Files, Paths}
      val staging = s"$root/__stage_$name"
      df.coalesce(1).write.parquet(staging)
      val part = Files.list(Paths.get(staging)).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      Files.createDirectories(Paths.get(s"$root/src"))
      Files.move(Paths.get(part), Paths.get(s"$root/src/$name"))
    }
    writeFile(docs.filter($"doc_id" % 2 === 0), "documents_even.parquet")
    writeFile(docs.filter($"doc_id" % 2 === 1), "documents_odd.parquet")
    val got = CompactionStream
      .runOnce(spark, s"$root/src", s"$root/ledger")
      .collect().map(_.toSeq).toSet
    val twin = graft.ext.Layout.qCompactionPlan(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(got === twin,
           "streamed manifest must bin identically to the batch plan")
    // Cross-batch partial-file fold, pinned on a crafted corpus where
    // ONE manifest key definitely spans both micro-batches: 10 docs of
    // one source in file_idx 0, split 5/5.
    val root2 = java.nio.file.Files
      .createTempDirectory("graft_compact_stream2").toString
    val crafted = (0L until 10L)
      .map(i => (i, "t", "en", "s", 100L + i))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    def writeFile2(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      import java.nio.file.{Files, Paths}
      val staging = s"$root2/__stage_$name"
      df.coalesce(1).write.parquet(staging)
      val part = Files.list(Paths.get(staging)).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      Files.createDirectories(Paths.get(s"$root2/src"))
      Files.move(Paths.get(part), Paths.get(s"$root2/src/$name"))
    }
    writeFile2(crafted.filter($"doc_id" < 5), "documents_a.parquet")
    writeFile2(crafted.filter($"doc_id" >= 5), "documents_b.parquet")
    val plan2 = CompactionStream
      .runOnce(spark, s"$root2/src", s"$root2/ledger",
               name = "graft_compaction_monitor2")
      .select($"source", $"bin", $"n_files", $"n_docs", $"total_bytes")
      .as[(String, Long, Long, Long, Long)].collect().toList
    // one source, one file (0..9 all in file_idx 0), one bin:
    // 10 docs, bytes = Σ(100+i) = 1045 — the two 5-doc partials folded
    assert(plan2 === List(("s", 0L, 1L, 10L, 1045L)))
    val rawRows2 = spark.read.schema(CompactionStream.manifestSchema)
      .parquet(s"$root2/ledger").count()
    assert(rawRows2 === 2L, "each micro-batch appends its own partial")
    // Idempotency pin #1 (the round-9 ADVICE medium item): re-running
    // runOnce over the SAME source and ledger is a checkpointed no-op —
    // the plan and the raw ledger are byte-for-byte unchanged, not
    // doubled.
    val plan2b = CompactionStream
      .runOnce(spark, s"$root2/src", s"$root2/ledger",
               name = "graft_compaction_monitor2_rerun")
      .select($"source", $"bin", $"n_files", $"n_docs", $"total_bytes")
      .as[(String, Long, Long, Long, Long)].collect().toList
    assert(plan2b === plan2, "re-run must not change the plan")
    val rawRows2b = spark.read.schema(CompactionStream.manifestSchema)
      .parquet(s"$root2/ledger").count()
    assert(rawRows2b === 2L, "re-run must not append duplicate partials")
  }

  test("compaction monitor: a retried batch commit replaces, never doubles") {
    import graft.streaming.CompactionStream
    val ledger = java.nio.file.Files
      .createTempDirectory("graft_compact_retry").toString + "/ledger"
    val partial = Seq(("s", 0L, 5L, 500L))
      .toDF("source", "file_idx", "n_docs", "bytes")
    // Simulate foreachBatch retrying batch 0 after a successful commit:
    // the second commit carries the same batch-id token and must erase
    // its own prior part-files before renaming in.
    graft.streaming.Ledger.commit(partial, ledger, Some(0L))
    graft.streaming.Ledger.commit(partial, ledger, Some(0L))
    val folded = CompactionStream.foldedManifest(spark, ledger)
      .as[(String, Long, Long, Long)].collect().toList
    assert(folded === List(("s", 0L, 5L, 500L)),
           s"retried commit double-counted: $folded")
    // A DIFFERENT batch id is additive, as before.
    graft.streaming.Ledger.commit(partial, ledger, Some(1L))
    val folded2 = CompactionStream.foldedManifest(spark, ledger)
      .as[(String, Long, Long, Long)].collect().toList
    assert(folded2 === List(("s", 0L, 10L, 1000L)))
  }

  test("embedding ingest stream: admitted set equals the global greedy replay") {
    import graft.streaming.EmbedStream
    val dir = java.nio.file.Files
      .createTempDirectory("graft_embed_stream").toString + "/ledger"
    // same deterministic sample as q_dedup_embedding
    val vecs = Tables.embeddings(spark, sf)
      .filter($"vec_id" % 4 === 0 && $"label" < 5)
      .select($"label", $"vec_id", $"embedding")
    // two vec_id-ordered batches
    assert(EmbedStream.ingestBatch(vecs.filter($"vec_id" < 500), dir) > 0)
    EmbedStream.ingestBatch(vecs.filter($"vec_id" >= 500), dir)
    val got = EmbedStream.ledger(spark, dir)
      .select($"vec_id").as[Long].collect().toSet
    // global greedy replay with the SAME shared admission code
    val all = vecs
      .as[(Int, Long, Seq[Float])].collect()
      .map { case (l, id, e) => EmbedStream.V(l, id, e, admitted = false) }
    val expected = all.groupBy(_.label).values
      .flatMap(g => EmbedStream.admitBlock(Nil, g.toSeq)).map(_.vec_id).toSet
    assert(got === expected,
           "ordered two-batch ingest must equal the one-shot greedy replay")
    // suppression actually occurred (the sample has >= 1 near-dup pair)
    assert(got.size < all.length)
    // idempotent re-ingest: every vector is its own admitted leader
    assert(EmbedStream.ingestBatch(vecs, dir) === 0L)
    // cross-batch near-dup: a scaled copy of an admitted vector (cosine
    // 1.0) is rejected; a fresh one-hot vector in the same block is not
    val leader = all.filter(_.vec_id == got.min).head
    val scaled = leader.embedding.map(x => x * 2.0f)
    val oneHot = Seq.tabulate(leader.embedding.length)(
      i => if (i == 0) 1.0f else 0.0f)
    val crafted = Seq(
      (leader.label, 900001L, scaled),
      (leader.label, 900002L, oneHot)
    ).toDF("label", "vec_id", "embedding")
    val admitted = EmbedStream.ingestBatch(crafted, dir)
    val ids = EmbedStream.ledger(spark, dir)
      .select($"vec_id").as[Long].collect().toSet
    assert(!ids.contains(900001L), "scaled copy of a leader is rejected")
    // the one-hot probe is only admitted if it is far from EVERY leader
    // in the block — assert consistency with the replayed rule
    val leaders = all.filter(v => got.contains(v.vec_id) &&
                                  v.label == leader.label).map(_.embedding)
    val expectAdmit =
      !leaders.exists(u => EmbedStream.cosine(u, oneHot) >= EmbedStream.Threshold)
    assert(ids.contains(900002L) === expectAdmit)
    assert(admitted === (if (expectAdmit) 1L else 0L))
  }

  test("paragraph ingest stream: segment ledger equals the batch paragraph-dedup twin") {
    import graft.streaming.ParagraphStream
    val dir = java.nio.file.Files
      .createTempDirectory("graft_segledger").toString + "/segledger"
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    // Two micro-batches in ascending doc_id order: first-seen-wins then
    // coincides with the batch operator's global min-(doc_id, seg)
    // winner, so the ledger must reproduce it exactly.
    assert(ParagraphStream.ingestBatch(docs.filter($"doc_id" < 250), dir) > 0)
    ParagraphStream.ingestBatch(docs.filter($"doc_id" >= 250), dir)
    val got = ParagraphStream.keptStats(spark, dir)
      .as[(Long, Long, String)].collect().toSet
    val twin = graft.ext.Corpus.paragraphDedup(docs)
      .filter($"n_kept" > 0)
      .select($"doc_id", $"n_kept", $"kept_text")
      .as[(Long, Long, String)].collect().toSet
    assert(got == twin,
           "segment ledger must reconstruct the batch per-doc kept stats")
    // Idempotent re-ingest: replaying the whole corpus admits nothing.
    assert(ParagraphStream.ingestBatch(docs, dir) == 0L)
    // Cross-batch suppression canonicalizes by INGEST order: a segment
    // re-arriving later from a smaller doc_id is still dropped.
    val seg = (1 to graft.ext.Corpus.BoilerSegWords)
      .map(i => s"pstream$i").mkString(" ")
    assert(ParagraphStream.ingestBatch(
      Seq((9000L, seg)).toDF("doc_id", "text"), dir) == 1L)
    assert(ParagraphStream.ingestBatch(
      Seq((8000L, seg)).toDF("doc_id", "text"), dir) == 0L,
      "later batch loses even with a smaller doc_id")
    val winner = ParagraphStream.ledger(spark, dir)
      .filter($"segtext" === seg).select($"doc_id").as[Long].collect()
    assert(winner.toList == List(9000L))
    // Same staged-commit contract as the document ledger.
    val entries = new java.io.File(dir).listFiles().map(_.getName)
    assert(entries.nonEmpty && entries.forall(_.startsWith("bucket=")))
  }

  test("substring ingest stream: per-doc stats equal the batch operator, re-ingest admits nothing") {
    import graft.streaming.SubstringStream
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ghledger").toString + "/ghledger"
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    // doc_id-ordered micro-batches: history-membership + in-batch order
    // must reproduce the batch operator's global first-seen-wins.
    val b1 = SubstringStream.ingestBatch(docs.filter($"doc_id" < 250), dir)
      .as[(Long, Long, Long, String)].collect().toList
    val b2 = SubstringStream.ingestBatch(docs.filter($"doc_id" >= 250), dir)
      .as[(Long, Long, Long, String)].collect().toList
    val twin = graft.ext.Dedup.dedupSubstring(docs)
      .as[(Long, Long, Long, String)].collect().toList
    assert((b1 ++ b2).sortBy(_._1) == twin.sortBy(_._1),
           "streamed per-doc dedup stats must equal the batch operator")
    // Re-ingest: every >=K-token doc now reports ALL its tokens as
    // duplicated text (correct dedup of re-crawled content, NOT a bug).
    val again = SubstringStream.ingestBatch(docs, dir)
      .as[(Long, Long, Long, String)].collect()
    val fullCut = again.filter(r => r._2 >= graft.ext.Dedup.SubstrK)
    assert(fullCut.nonEmpty && fullCut.forall(r => r._3 == r._2),
           "replayed long docs must be fully duplicate text")
    assert(again.filter(_._2 < graft.ext.Dedup.SubstrK)
             .forall(r => r._3 == 0L),
           "sub-threshold docs are never touched")
  }

  test("substring ingest runOnce: staged stats commit + zero-batch guard") {
    import graft.streaming.SubstringStream
    val base = java.nio.file.Files
      .createTempDirectory("graft_ss_run").toString
    val out = SubstringStream
      .runOnce(spark, sf, s"$base/ledger", s"$base/stats")
      .as[(Long, Long, Long, String)].collect().toSet
    val twin = graft.ext.Dedup
      .dedupSubstring(Tables.documents(spark, sf).select($"doc_id", $"text"))
      .as[(Long, Long, Long, String)].collect().toSet
    assert(out == twin, "one-batch runOnce must equal the batch operator")
    // Atomic-commit contract: only complete batch-* dirs in outDir, no
    // staging leftovers or loose temporary artifacts.
    val entries = new java.io.File(s"$base/stats").listFiles().map(_.getName)
    assert(entries.nonEmpty && entries.forall(_.startsWith("batch-")))
    assert(!new java.io.File(s"$base/stats.staging").exists() ||
           new java.io.File(s"$base/stats.staging").listFiles().isEmpty)
    // Zero matching files -> empty frame, not a missing-path error.
    val emptySrc = java.nio.file.Files
      .createTempDirectory("graft_ss_empty").toString
    val none = SubstringStream
      .runOnce(spark, emptySrc, s"$base/ledger2", s"$base/stats2")
    assert(none.count() == 0L)
  }

  test("streaming dedup keeps exactly the batch-distinct key set") {
    import graft.streaming.DedupStream
    val kept = DedupStream.runOnce(spark, sf)
      .select($"user_id", $"event_type").as[(Long, String)].collect()
    val batchKeys = Tables.events(spark, sf)
      .select($"user_id", $"event_type").distinct()
      .as[(Long, String)].collect().toSet
    assert(kept.length == batchKeys.size, "one survivor per key")
    assert(kept.toSet == batchKeys)
  }

  test("stream-stream interval join == batch lookback join") {
    import graft.streaming.JoinStream
    val stream = JoinStream.runOnce(spark, sf)
      .select($"purchase_id", $"click_id").as[(Long, Long)].collect().toSet
    val ev = Tables.events(spark, sf)
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"ts".as("c_ts"), $"event_id".as("click_id"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"ts".as("p_ts"), $"event_id".as("purchase_id"))
    val batch = purchases.join(clicks,
        $"p_user" === $"c_user" && $"c_ts" <= $"p_ts" &&
          $"c_ts" >= $"p_ts" - org.apache.spark.sql.functions.expr("INTERVAL 1 HOUR"))
      .select($"purchase_id", $"click_id").as[(Long, Long)].collect().toSet
    assert(stream == batch, s"stream ${stream.size} pairs vs batch ${batch.size}")
    assert(batch.nonEmpty)
  }

  test("count-min estimates never undercount the exact frequency") {
    val rows = Sessions.qCountMin(spark, sf)
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (user, exact, est) =>
      assert(est >= exact, s"user $user: CMS $est < exact $exact")
    }
  }

  test("funnel steps are monotone non-increasing") {
    val Array((s1, s2, s3)) = Sessions.qFunnel(spark, sf)
      .as[(Long, Long, Long)].collect()
    assert(s1 >= s2 && s2 >= s3, s"funnel not monotone: $s1 >= $s2 >= $s3")
    assert(s1 > 0)
  }

  test("transition counts conserve: sum == total events - distinct users") {
    import graft.jobs.AnalyticsQueries
    val total = AnalyticsQueries.qTransitionMatrix(spark, sf)
      .agg(org.apache.spark.sql.functions.sum($"n_transitions")).as[Long].head
    val ev = Tables.events(spark, sf)
    val want = ev.count() - ev.select($"user_id").distinct().count()
    assert(total == want, s"transitions $total != events - users $want")
  }

  test("incremental HLL (daily states merged) == one-shot HLL estimate") {
    val oneShot = Sessions.qApproxDistinct(spark, sf)
      .select($"event_type", $"approx_users").as[(String, Double)].collect().toMap
    val incremental = Sessions.qIncrementalDistinct(spark, sf)
      .select($"event_type", $"approx_users").as[(String, Double)].collect().toMap
    assert(incremental == oneShot,
           "merging per-day register states must reproduce the global sketch")
  }

  test("streaming MG sketch == batch MG sketch (k >= cardinality pin)") {
    // The Misra-Gries candidate SET is arrival-order-dependent in
    // general; it is exactly the distinct-item set (deterministic)
    // whenever k >= per-window cardinality, which holds here: K=8 vs
    // a handful of event types. That makes stream == batch a valid pin.
    import graft.streaming.SketchStream
    val nTypes = Tables.events(spark, sf)
      .select($"event_type").distinct().count()
    assert(nTypes <= SketchStream.K, "pin precondition: k >= cardinality")
    val batch = SketchStream.batchTwin(spark, sf)
      .select($"bucket", $"n_total", $"candidates")
      .as[(String, Long, String)].collect().toSet
    val stream = SketchStream.runOnce(spark, sf)
      .select($"bucket", $"n_total", $"candidates")
      .as[(String, Long, String)].collect().toSet
    assert(stream == batch)
    assert(batch.nonEmpty)
  }

  test("streaming hourly agg == batch hourly agg (semantic parity)") {
    val batch = Sessions.qEventWindow(spark, sf)
      .select($"bucket", $"event_type", $"n_events", $"value_sum")
      .as[(String, String, Long, Double)].collect().toSet
    val stream = EventStream.runOnce(spark, sf, "graft_stream_spec")
      .select($"bucket", $"event_type", $"n_events", $"value_sum")
      .as[(String, String, Long, Double)].collect().toSet
    assert(stream == batch)
  }

  test("streaming drift monitor == batch EWMA, bit-exact") {
    // The stateful stream accumulates each type's daily cents series in
    // keyed state and flushes the batch operator's renormalized
    // power-of-two EWMA on watermark close: every (type, day,
    // value_sum, ewma) must equal qEwmaDaily EXACTLY — same decimal
    // snap, same left-associated chain, so even the doubles are
    // bit-identical.
    val batch = Sessions.qEwmaDaily(spark, sf)
      .select($"event_type", $"day".cast("string"), $"value_sum", $"ewma")
      .as[(String, String, Double, Double)].collect().toSet
    val stream = graft.streaming.DriftStream.runOverStaticDir(
        spark, sf, "graft_drift_spec")
      .select($"event_type", $"day".cast("string"), $"value_sum", $"ewma")
      .as[(String, String, Double, Double)].collect().toSet
    assert(stream == batch)
    assert(batch.nonEmpty)
  }

  test("chunk ingest stream: ledger folds to the batch operator exactly, any order, idempotent") {
    import graft.streaming.ChunkStream
    val dir = java.nio.file.Files
      .createTempDirectory("graft_chunkledger").toString + "/chunkledger"
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    // REVERSE-order micro-batches: chunk sharing is retroactive and the
    // incidence ledger is order-insensitive, so parity must hold for
    // any arrival order (unlike the first-seen-wins ledgers).
    assert(ChunkStream.ingestBatch(docs.filter($"doc_id" >= 250), dir) > 0)
    ChunkStream.ingestBatch(docs.filter($"doc_id" < 250), dir)
    val got = ChunkStream.sharedStats(spark, dir)
      .as[(Long, Long, Long, Double)].collect().toSet
    val twin = graft.ext.Corpus.chunkDedup(docs)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == twin,
           "incidence ledger must fold to the batch shared-chunk stats")
    // Idempotent re-ingest: replaying the whole corpus admits nothing.
    assert(ChunkStream.ingestBatch(docs, dir) == 0L)
    // Retroactive sharing: a late verbatim copy of the first document
    // flips every chunk of the ORIGINAL to shared.
    val (d0, t0) = docs.orderBy($"doc_id").as[(Long, String)].head()
    assert(ChunkStream.ingestBatch(
      Seq((99000L, t0)).toDF("doc_id", "text"), dir) > 0L)
    val after = ChunkStream.sharedStats(spark, dir)
      .filter($"doc_id" === d0)
      .as[(Long, Long, Long, Double)].head()
    assert(after._2 == after._3 && after._4 == 1.0,
           s"original doc $d0 must be fully shared after its copy arrives")
    // Same staged-commit bucket layout as the other ledgers.
    val entries = new java.io.File(dir).listFiles().map(_.getName)
    assert(entries.nonEmpty && entries.forall(_.startsWith("bucket=")))
  }
}
