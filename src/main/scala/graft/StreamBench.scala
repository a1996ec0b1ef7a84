package graft

import graft.streaming.{CorpusStream, PipelineStream, SubstringStream}
import org.apache.spark.sql.functions._

/** Ingest-rate bench for the three production-critical streaming
  * surfaces (PipelineStream, SubstringStream, CorpusStream): a curation
  * deployment is sized by rows/s of sustained ingest and by per-micro-
  * batch latency, numbers the 16 parity specs deliberately don't
  * measure. Protocol: the sf dir's documents table is split into
  * NSlices single-file "crawl slices"; each surface ingests them
  * through its OWN runOnce (real AvailableNow file source + foreachBatch
  * + ledger writes) with maxFilesPerTrigger=1, so every slice is one
  * micro-batch — per-batch wall comes from the engine's own
  * StreamingQueryProgress, not external stopwatching.
  *
  * Emits ONE JSON line (the Bench contract) and writes the full map to
  * STREAMBENCH.json:
  *   {"metric":"stream_ingest","sf":...,"surfaces":{
  *      "pipeline":{"rows":N,"wall_sec":W,"rows_per_sec":R,
  *                  "n_batches":B,"batch_ms_p50":…,"batch_ms_max":…},…}}
  *
  * Wall is end-to-end runOnce (source listing + every micro-batch +
  * final fold); rows_per_sec = input rows / wall — the honest
  * deployment-sizing number, charging checkpoint and ledger-commit
  * overheads to the stream that incurs them.
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Harness.cpus(4)
    val nSlices = sys.env.getOrElse("SPARK_GRAFT_STREAM_SLICES", "8").toInt
    val spark = Harness.session("graft-stream-bench", cpus)
    val progress = Harness.streamProgress(spark)

    // ---- slice prep: N single-file crawl slices -----------------------
    val pid = ProcessHandle.current().pid()
    val work = s"${System.getProperty("java.io.tmpdir")}/graft_streambench_p$pid"
    val fs = new org.apache.hadoop.fs.Path(work)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(work), true)
    val srcDir = s"$work/src"
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
              col("n_chars"))
    val totalRows = docs.count()
    Harness.writeSlices(docs, nSlices, srcDir)
    val bench = docs.filter(col("doc_id") % 50 === 0).localCheckpoint(true)

    case class S(rows: Long, wall: Double, batches: Seq[Harness.Progress])
    def measure(name: String)(body: => Unit): S = {
      progress.clear()
      val t0 = System.nanoTime()
      body
      val wall = (System.nanoTime() - t0) / 1e9
      // The final empty AvailableNow batch (0 rows) is commit overhead,
      // not ingest — keep only row-carrying batches for latency stats.
      val ps = progress.snapshot().filter(p => p.name == name && p.rows > 0)
      S(ps.map(_.rows).sum, wall, ps)
    }

    val runs = scala.collection.mutable.LinkedHashMap[String, S]()
    runs("pipeline") = measure("graft_pipeline_ingest") {
      PipelineStream.runOnce(spark, srcDir, bench, s"$work/pipeline_root",
                             maxFilesPerTrigger = Some(1))
        .collect()
    }
    runs("substring") = measure("graft_substring_ingest") {
      SubstringStream.runOnce(spark, srcDir, s"$work/substring_ledger",
                              s"$work/substring_out",
                              maxFilesPerTrigger = Some(1))
        .collect()
    }
    runs("corpus") = measure("graft_corpus_ingest") {
      CorpusStream.runOnce(spark, srcDir, s"$work/corpus_history",
                           maxFilesPerTrigger = Some(1))
        .count()
    }

    def fmt(v: Double, dp: Int): String =
      BigDecimal(v).setScale(dp, BigDecimal.RoundingMode.HALF_UP)
        .bigDecimal.stripTrailingZeros.toPlainString
    def pct(sorted: Seq[Long], q: Double): Long =
      if (sorted.isEmpty) -1L
      else sorted(math.min(sorted.size - 1, (q * sorted.size).toInt))
    val surfaces = runs.map { case (k, s) =>
      val ms = s.batches.map(_.ms).sorted
      s""""$k":{"rows":${s.rows},"wall_sec":${fmt(s.wall, 2)},""" +
        s""""rows_per_sec":${fmt(s.rows / s.wall, 0)},""" +
        s""""n_batches":${s.batches.size},""" +
        s""""batch_ms_p50":${pct(ms, 0.5)},"batch_ms_max":${ms.lastOption.getOrElse(-1L)},""" +
        s""""batch_ms":[${ms.mkString(",")}]}"""
    }.mkString(",")
    val line =
      s"""{"metric":"stream_ingest","unit":"rows/sec","sf":"${new java.io.File(sfDir).getName}","cpus":$cpus,"n_slices":$nSlices,"total_rows":$totalRows,"surfaces":{$surfaces}}"""
    // A surface that ingested nothing is a broken bench run, not a datum —
    // checked BEFORE touching STREAMBENCH.json so a broken run can never
    // overwrite the committed artifact with garbage numbers on its way out.
    val broken = runs.values.exists(_.rows == 0)
    if (broken) {
      System.err.println("[streambench] a surface ingested 0 rows — " +
        "failing WITHOUT writing STREAMBENCH.json")
    } else {
      try {
        val w = new java.io.PrintWriter("STREAMBENCH.json")
        try w.println(line) finally w.close()
      } catch { case e: Throwable =>
        System.err.println(s"[streambench] cannot write STREAMBENCH.json: ${e.getMessage}") }
    }
    println(line)
    fs.delete(new org.apache.hadoop.fs.Path(work), true)
    spark.stop()
    if (broken) sys.exit(1)
  }
}
