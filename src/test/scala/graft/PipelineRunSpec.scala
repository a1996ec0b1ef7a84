package graft

import graft.ext.Pipeline
import org.scalatest.funsuite.AnyFunSuite

/** Stage-order invariants of the composed curation run (q_pipeline_run)
  * on a crafted corpus where EVERY stage drops something — the sf
  * gates leave several stages at zero attrition (their duplicates die
  * earlier in the chain), so only a crafted corpus pins that each drop
  * is attributed to the intended stage and the lag accounting is
  * conserved.
  *
  * Corpus: 90 "big"-source docs of exactly 60 tokens each (5400 tokens
  * offered > CapTokens=5000, so greedy caps admit exactly 83), plus one
  * benchmark doc (id 50), one too-short doc, one exact-dup pair, one
  * near-dup pair (shared 40-char normalized prefix, same length
  * bucket), and one doc sharing a 5-gram with the benchmark.
  */
class PipelineRunSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def doc(id: Long, source: String, text: String) =
    (id, source, "en", text.length.toLong, text)

  private val corpus: Seq[(Long, String, String, Long, String)] = {
    // 90 odd ids (never % 50 == 0), every word unique to its doc so no
    // star keys or 5-grams are shared within the group.
    val big = (0 until 90).map { i =>
      val id = 1001L + 2 * i
      val words = (0 until 58).map(j => f"d$i%03dw$j%03dx")
      val text = (words.take(29) ++ Seq("the", "and") ++ words.drop(29))
        .mkString(" ")
      doc(id, "big", text)
    }
    val cText = ((0 until 28).map(j => f"cdup0w$j%03dx").take(14) ++
      Seq("the", "and") ++ (0 until 28).map(j => f"cdup0w$j%03dx").drop(14))
      .mkString(" ")
    val dPrefix = (0 until 5).map(j => s"neard00$j").mkString(" ")
    def dTail(tag: String) = (0 until 23).map(j => f"$tag%sw$j%03dx").mkString(" ")
    val eFill = (0 until 21).map(j => f"eonly0w$j%03dx").mkString(" ")
    big ++ Seq(
      doc(50L, "bench", "aaaa bbbb leak1 leak2 leak3 leak4 leak5 cccc"),
      doc(41L, "misc", "x y z"), // too short -> quality drop
      doc(11L, "misc", cText),   // exact-dup pair
      doc(13L, "misc", cText),
      doc(21L, "misc", s"$dPrefix the and ${dTail("dn1")}"), // near-dup pair
      doc(23L, "misc", s"$dPrefix the and ${dTail("dn2")}"),
      doc(31L, "misc", s"eonly0a0 eonly0b0 the and leak1 leak2 leak3 leak4 leak5 $eFill"))
  }

  test("q_pipeline_run: every stage's attrition lands on the intended docs") {
    val df = corpus.toDF("doc_id", "source", "lang", "n_chars", "text")
    val rows = Pipeline.pipelineRun(df)
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(rows.map(_._1).toSeq == Seq("0_raw", "1_quarantine", "2_quality",
      "3_exact_dedup", "4_near_dedup", "5_decontam", "6_source_caps",
      "7_pack"))
    val byStage = rows.map(r => r._1 -> r).toMap

    // Doc attrition, stage by stage: 97 raw, bench quarantine takes the
    // one % 50 doc, quality the 3-token doc, exact dedup one copy of
    // the identical pair, near dedup one of the shared-prefix pair,
    // decontam the leak-gram carrier, caps 7 of the 90 big docs
    // (83 * 60 = 4980 <= 5000 < 84 * 60).
    val expectedDocs = Seq(97L, 96L, 95L, 94L, 93L, 92L, 85L, 85L)
    assert(rows.map(_._2).toSeq == expectedDocs)

    // Lag accounting is conserved: per-stage drops sum to raw - final,
    // and each row's (docs_dropped, tokens_dropped) equals the delta
    // from the previous row.
    rows.sliding(2).foreach { case Array(prev, cur) =>
      assert(cur._4 == prev._2 - cur._2, s"docs_dropped at ${cur._1}")
      assert(cur._5 == prev._3 - cur._3, s"tokens_dropped at ${cur._1}")
    }
    assert(rows.head._4 == 0L && rows.head._5 == 0L)

    // Caps stage: exactly 7 big docs of 60 tokens each.
    assert(byStage("6_source_caps")._4 == 7L)
    assert(byStage("6_source_caps")._5 == 420L)

    // Pack: sequences appear only on the final row, and token mass is
    // untouched by packing.
    assert(rows.init.forall(_._6 == 0L))
    val fin = byStage("7_pack")
    assert(fin._6 > 0L && fin._6 <= fin._2)
    assert(fin._3 == byStage("6_source_caps")._3)
  }

  test("q_pipeline_by_source sums to the global attrition table") {
    val df = corpus.toDF("doc_id", "source", "lang", "n_chars", "text")
    val global = Pipeline.pipelineRun(df)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .filter(_._1 != "7_pack") // per-source table has no pack row
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    val bySrc = Pipeline.pipelineBySource(df)
      .as[(String, String, Long, Long, Long, Long)].collect()
    val summed = bySrc.groupBy(_._2).map { case (st, rs) =>
      st -> ((rs.map(_._3).sum, rs.map(_._4).sum,
              rs.map(_._5).sum, rs.map(_._6).sum))
    }
    assert(summed == global,
           "per-source rows must partition the global attrition exactly")
    // The crafted caps drop is attributed to the 'big' source alone.
    val bigCaps = bySrc.find(r => r._1 == "big" && r._2 == "6_source_caps").get
    assert(bigCaps._5 == 7L && bigCaps._6 == 420L)
    assert(bySrc.filter(r => r._1 != "big" && r._2 == "6_source_caps")
             .forall(_._5 == 0L))
  }

  test("pipelineReport: both reports from one chain equal the registry rows") {
    val df = corpus.toDF("doc_id", "source", "lang", "n_chars", "text")
    val (global, bySource) = Pipeline.pipelineReport(df)
    assert(global.as[(String, Long, Long, Long, Long, Long)].collect().toSeq ==
      Pipeline.pipelineRun(df)
        .as[(String, Long, Long, Long, Long, Long)].collect().toSeq)
    assert(bySource.as[(String, String, Long, Long, Long, Long)].collect().toSeq ==
      Pipeline.pipelineBySource(df)
        .as[(String, String, Long, Long, Long, Long)].collect().toSeq)
  }

  test("checkpointed run: killed after stage 3 resumes without recompute and matches one-shot") {
    val df = corpus.toDF("doc_id", "source", "lang", "n_chars", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pipeckpt").toString + "/run"
    // "Kill" after stage 3: only checkpoints 0..3 exist on disk.
    Pipeline.materializeStages(df, dir, upTo = 3)
    val s3 = new java.io.File(s"$dir/3_exact_dedup")
    assert(s3.isDirectory && new java.io.File(s3, "_SUCCESS").exists)
    assert(!new java.io.File(s"$dir/4_near_dedup").exists)
    // Fingerprint the completed stages' files: the resume must read
    // them, never rewrite them.
    def listing(st: String) = {
      val d = new java.io.File(s"$dir/$st")
      d.listFiles().map(f => (f.getName, f.length, f.lastModified)).toSet
    }
    val before = Pipeline.StageNames.take(4).map(listing)
    val resumed = Pipeline.pipelineRunCheckpointed(df, dir)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    val oneShot = Pipeline.pipelineRun(df)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(resumed == oneShot,
           "resumed run must hash-match the one-shot attrition table")
    assert(Pipeline.StageNames.take(4).map(listing) == before,
           "completed stage checkpoints must not be rewritten on resume")
    // Idempotent rerun over a fully checkpointed dir.
    val again = Pipeline.pipelineRunCheckpointed(df, dir)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(again == oneShot)
  }

  test("checkpointed run: a stage whose pool is empty keeps its zero row") {
    // Both docs fail the quality gate, so stages 2..6 read back empty
    // slim pools; their rows must still read 0, as the in-memory
    // chain's observed counts do.
    val df = Seq(doc(1L, "misc", "x y z"), doc(3L, "misc", "p q"))
      .toDF("doc_id", "source", "lang", "n_chars", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pipeckpt_empty").toString + "/run"
    val oneShot = Pipeline.pipelineRun(df)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(oneShot.map(_._2) == Seq(2L, 2L, 0L, 0L, 0L, 0L, 0L, 0L))
    assert(Pipeline.pipelineRunCheckpointed(df, dir)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq == oneShot)
  }

  test("checkpointed run: a TORN stage write (partial dir, no _SUCCESS) is discarded and recomputed") {
    // Real failures don't politely stop between stages — a task set can
    // die mid-parquet-write, leaving a populated stage dir WITHOUT the
    // _SUCCESS commit marker (and possibly with garbage bytes). Resume
    // must treat that dir as absent: never read it, fully replace it,
    // and land hash-equal to the one-shot run.
    val df = corpus.toDF("doc_id", "source", "lang", "n_chars", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pipeckpt_torn").toString + "/run"
    Pipeline.materializeStages(df, dir, upTo = 2)
    // Fabricate the torn stage-3 dir: a half-written part file (truncated
    // copy of a committed stage's parquet, so it even LOOKS plausible), a
    // leftover _temporary dir, and no _SUCCESS.
    val torn = new java.io.File(s"$dir/3_exact_dedup")
    assert(torn.mkdirs())
    val donor = new java.io.File(s"$dir/2_quality").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val donorBytes = java.nio.file.Files.readAllBytes(donor.toPath)
    java.nio.file.Files.write(
      new java.io.File(torn, "part-00000-torn.snappy.parquet").toPath,
      donorBytes.take(donorBytes.length / 2))
    assert(new java.io.File(torn, "_temporary").mkdirs())
    assert(!new java.io.File(torn, "_SUCCESS").exists)
    val resumed = Pipeline.pipelineRunCheckpointed(df, dir)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    val oneShot = Pipeline.pipelineRun(df)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(resumed == oneShot,
           "resume over a torn stage dir must hash-match the one-shot run")
    // The torn artifacts are gone — Overwrite replaced the dir wholesale
    // and committed it.
    val after = new java.io.File(s"$dir/3_exact_dedup")
    assert(new java.io.File(after, "_SUCCESS").exists)
    assert(!new java.io.File(after, "part-00000-torn.snappy.parquet").exists)
    assert(!new java.io.File(after, "_temporary").exists)
    // And the recomputed stage-3 checkpoint is readable + row-correct
    // (94 docs survive exact dedup on this corpus).
    assert(spark.read.parquet(s"$dir/3_exact_dedup").count() == 94L)
  }
}
