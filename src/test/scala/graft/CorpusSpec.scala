package graft

import graft.ext.Corpus
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants of the round-3 corpus-preparation operators —
  * the properties the DuckDB hash-compare can't express (fixpoint
  * correctness on crafted graphs, packing bounds, ranking bounds).
  */
class CorpusSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  val sf = TestSpark.Sf

  // The min-label cases run twice: in the default localCheckpoint mode
  // and with spark.graft.checkpoint.dir set, so the convergence sum is
  // also observed on the reliable Dataset.checkpoint route.
  for ((reliable, suffix) <- Seq(false -> "", true -> " (reliable checkpoint dir)")) {
    def run[A](body: => A): A =
      if (reliable) TestSpark.withReliableCheckpointDir(body) else body

    test("minLabelPropagate: chain + isolated vertex resolve to component minima" + suffix) {
      val vertices = Seq(1L, 2L, 3L, 4L, 7L).toDF("doc_id")
      // chain 1-2-3 (needs transitive propagation), pair 4-7, symmetric
      val e0 = Seq((1L, 2L), (2L, 3L), (4L, 7L)).toDF("src", "dst")
      val edges = e0.unionByName(e0.select($"dst".as("src"), $"src".as("dst")))
      val got = run(Corpus.minLabelPropagate(vertices, edges)
        .as[(Long, Long)].collect().toMap)
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 7L -> 4L))
    }

    test("minLabelPropagate: star-of-stars converges (diameter > 1)" + suffix) {
      // two stars (10,[11,12]) and (20,[21,22]) bridged by edge 12-21:
      // the minimum 10 must reach 22 across 3 hops.
      val vertices = Seq(10L, 11L, 12L, 20L, 21L, 22L).toDF("doc_id")
      val e0 = Seq((10L, 11L), (10L, 12L), (20L, 21L), (20L, 22L), (12L, 21L))
        .toDF("src", "dst")
      val edges = e0.unionByName(e0.select($"dst".as("src"), $"src".as("dst")))
      val got = run(Corpus.minLabelPropagate(vertices, edges)
        .as[(Long, Long)].collect().toMap)
      assert(got.values.toSet == Set(10L))
    }

    test("minLabelPropagate: empty vertex set returns empty labeling" + suffix) {
      // the observed SUM over zero rows is NULL and must read as 0, or
      // the loop would never see the sum repeat
      val vertices = Seq.empty[Long].toDF("doc_id")
      val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
      assert(run(Corpus.minLabelPropagate(vertices, edges).count()) == 0)
    }
  }

  test("q_dedup_cluster: components have size > 1 and contain their id") {
    val rows = Corpus.qDedupCluster(spark, sf)
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val byComp = rows.groupBy(_._2)
    byComp.foreach { case (comp, members) =>
      assert(members.length == members.head._3,
             s"component $comp size column disagrees with member count")
      assert(members.map(_._1).min == comp,
             s"component id $comp is not the member minimum")
      assert(members.length > 1)
    }
  }

  test("q_dedup_keep_best: survivor is the argmax-quality member (tie → min id)") {
    val clusters = Corpus.qDedupCluster(spark, sf)
      .select($"doc_id", $"component_id").as[(Long, Long)].collect()
    val quality = graft.ext.TextOps.qQualityScore(spark, sf)
      .as[(Long, Double)].collect().toMap
    val chars = Tables.documents(spark, sf).select($"doc_id", $"n_chars")
      .as[(Long, Long)].collect().toMap
    val got = Corpus.qDedupKeepBest(spark, sf)
      .as[(Long, Long, Long, Double, Long)].collect()
    assert(got.nonEmpty)
    val byComp = clusters.groupBy(_._2).map { case (c, ms) => c -> ms.map(_._1) }
    assert(got.map(_._1).toSet == byComp.keySet,
           "keep_best components differ from q_dedup_cluster's")
    got.foreach { case (comp, surv, size, maxq, dropped) =>
      val members = byComp(comp)
      assert(members.contains(surv), s"survivor $surv not in component $comp")
      assert(size == members.length)
      val mq = members.map(quality).max
      assert(maxq == mq, s"component $comp max quality mismatch")
      assert(surv == members.filter(m => quality(m) == mq).min,
             s"component $comp survivor is not min-id among argmax quality")
      assert(dropped == members.map(chars).sum - chars(surv))
    }
  }

  test("q_perplexity_buckets: tertile cuts partition the corpus deterministically") {
    val docs = Tables.documents(spark, sf)
    val scored = Corpus.bigramLogprob(docs)
      .join(docs.select($"doc_id", $"source"), Seq("doc_id"))
      .select($"doc_id", $"source", $"n_bigrams",
              round($"mean_logprob" * 1000.0, 0).cast("long").as("qs"))
      .as[(Long, String, Long, Long)].collect()
    val n = scored.length.toLong
    // rank-r score in desc order IS max{q : #(scores ≥ q) ≥ r}
    val desc = scored.map(_._4).sorted(Ordering[Long].reverse)
    val r1 = (n + 2) / 3; val r2 = (2 * n + 2) / 3
    val t1 = desc((r1 - 1).toInt); val t2 = desc((r2 - 1).toInt)
    def bucket(qs: Long): String =
      if (qs >= t1) "1_head" else if (qs >= t2) "2_middle" else "3_tail"
    val want = scored.groupBy(x => (bucket(x._4), x._2))
      .map { case (k, xs) => (k._1, k._2, xs.length.toLong, xs.map(_._3).sum) }
      .toSet
    val got = Corpus.qPerplexityBuckets(spark, sf)
      .as[(String, String, Long, Long)].collect().toSet
    assert(got == want)
    assert(got.toSeq.map(_._3).sum == n, "buckets must partition the corpus")
    assert(got.toSeq.filter(_._1 == "1_head").map(_._3).sum >= r1,
           "head holds at least ⌈N/3⌉ docs (threshold ties can only grow it)")
  }

  test("q_pack_sequences: bins respect the token budget boundary rule") {
    val rows = Corpus.qPackSequences(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, bins) =>
      val sorted = bins.sortBy(_._2)
      // bin ids are the floor of the pre-doc cumsum: non-decreasing and
      // each bin (except possibly the last doc spill) starts below the
      // budget boundary of the next
      var cum = 0L
      for ((_, seqId, _, nToks) <- sorted) {
        assert(seqId == cum / Corpus.SeqLen,
               s"bin id $seqId != expected ${cum / Corpus.SeqLen}")
        cum += nToks
      }
    }
  }

  test("q_tfidf_topterms: at most 3 ranked terms per doc, scores descend") {
    val rows = Corpus.qTfidfTopterms(spark, sf)
      .as[(Long, Long, String, Double)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (doc, ts) =>
      assert(ts.length <= 3, s"doc $doc has ${ts.length} terms")
      val byRank = ts.sortBy(_._2)
      assert(byRank.map(_._2).toSeq == (1L to ts.length.toLong).toSeq)
      assert(byRank.map(_._4).zip(byRank.map(_._4).tail).forall {
        case (a, b) => a >= b
      }, s"doc $doc scores not descending")
    }
  }

  test("q_repetition_score: fractions in [0,1], top bigram really occurs") {
    val rows = Corpus.qRepetitionScore(spark, sf)
      .limit(20).as[(Long, Long, Double, String, Double)].collect()
    assert(rows.nonEmpty)
    val texts = Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    rows.foreach { case (doc, nToks, dupFrac, bigram, topFrac) =>
      assert(dupFrac >= 0.0 && dupFrac <= 1.0)
      assert(topFrac > 0.0 && topFrac <= 1.0)
      assert(nToks >= 2)
      assert(texts(doc).contains(bigram), s"doc $doc top bigram not in text")
    }
  }

  test("q_pii_scrub: redacted length consistent when nothing matched") {
    val rows = Corpus.qPiiScrub(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (doc, nEmails, nNums, before, after) =>
      if (nEmails == 0 && nNums == 0)
        assert(before == after, s"doc $doc length changed with 0 redactions")
    }
  }

  test("q_mixture_sample: min lang fully kept, others downsampled") {
    val rows = Corpus.qMixtureSample(spark, sf)
      .as[(String, Long, Double, Long, Long, Long)].collect()
    assert(rows.length == 5)
    rows.foreach { case (lang, langToks, rate, nDocs, nSampled, sampledToks) =>
      assert(rate > 0.0 && rate <= 1.0, s"$lang rate $rate")
      assert(nSampled <= nDocs)
      assert(sampledToks <= langToks)
    }
    val minLang = rows.minBy(_._2)
    assert(minLang._3 == 1.0, "smallest language must have rate 1.0")
    assert(minLang._5 == minLang._4, "smallest language must keep every doc")
  }

  test("q_contamination: overlaps are positive, benchmark ids excluded") {
    val rows = Corpus.qContamination(spark, sf)
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (doc, bench, n) =>
      assert(doc % 50 != 0, s"benchmark doc $doc in corpus output")
      assert(bench % 50 == 0, s"non-benchmark contaminator $bench")
      assert(n >= 1)
    }
  }

  test("corpus is pure ASCII (byte==char premise of the binary-path oracles)") {
    val nonAscii = Tables.documents(spark, sf)
      .filter(octet_length(encode(col("text"), "UTF-8")) =!= length(col("text")))
      .count()
    assert(nonAscii == 0,
           "documents contain multi-byte chars: the q_frame_sample / " +
           "q_media_decode / q_audio_frames oracles slice STRINGS and are " +
           "only byte-identical on ASCII")
  }

  test("q_inverted_index: postings head is sorted, df <= total tf") {
    val rows = Corpus.qInvertedIndex(spark, sf)
      .as[(String, Long, Long, String)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (term, df, tf, head) =>
      assert(df <= tf, s"$term df > tf")
      val ids = head.split(",").map(_.toLong)
      assert(ids.length <= 5 && ids.sameElements(ids.sorted))
    }
  }

  test("q_split_holdout: every doc assigned once, no component straddles the split") {
    val rows = Corpus.qSplitHoldout(spark, sf)
      .as[(Long, Long, String, Long)].collect()
    assert(rows.length == Tables.documents(spark, sf).count(),
           "split must cover every document exactly once")
    // the leakage guarantee: one split per component
    rows.groupBy(_._2).foreach { case (comp, members) =>
      assert(members.map(_._3).toSet.size == 1,
             s"component $comp appears in both train and holdout")
    }
    // in particular every DUPLICATE pair q_dedup_cluster reports lands
    // on one side — the property a per-doc hash split would violate
    val dupComps = Corpus.qDedupCluster(spark, sf)
      .select($"doc_id", $"component_id").as[(Long, Long)].collect()
    val splitOf = rows.map(r => r._1 -> r._3).toMap
    dupComps.groupBy(_._2).foreach { case (comp, members) =>
      val sides = members.map(m => splitOf(m._1)).toSet
      assert(sides.size == 1, s"duplicate component $comp leaks across split")
    }
    val holdFrac = rows.count(_._3 == "holdout").toDouble / rows.length
    assert(holdFrac > 0.005 && holdFrac < 0.25,
           s"holdout fraction $holdFrac implausible for a 1-in-20 draw")
  }

  test("q_token_shards: whole docs, every shard within one doc of the ideal token mass") {
    val shards = Corpus.qTokenShards(spark, sf)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    val docs = Tables.documents(spark, sf)
    assert(shards.map(_._2).sum == docs.count(), "every doc in exactly one shard")
    val totalToks = shards.map(_._3).sum
    val maxDoc = docs
      .select(max(size(split(col("text"), " "))).cast("long")).as[Long].head()
    val ideal = totalToks.toDouble / Corpus.TokenShards
    shards.foreach { case (id, _, toks) =>
      assert(toks <= ideal + maxDoc,
             s"shard $id carries $toks tokens vs ideal $ideal + max-doc $maxDoc")
    }
    // contiguity of the prefix-sum cut: shard ids are dense 0..k
    assert(shards.map(_._1).toSeq == (0L until shards.length.toLong))
  }
}
