package graft.perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.graftshim.BusShim
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.Pipeline
import graft.streaming.PipelineStream

/** Streaming curation through `PipelineStream`: the documents are split
  * into `nSlices` single-file slices by `xxhash64(doc_id, seed)`; the
  * first `nBatches` slices land in the source directory and `runOnce`
  * ingests them one slice per micro-batch. Then the ledger is folded
  * (`attritionView`), reconciled over the ingested history, and folded
  * again for the parity check against `Pipeline.pipelineRun` on the same
  * documents. The raw numbers and both tables go to `check.py`.
  */
final class StreamSegment(spark: SparkSession, dataDir: String, work: String,
                          seed: Long, nSlices: Int, nBatches: Int,
                          errors: ArrayBuffer[Map[String, Any]]) {
  private val Name = "perfbench_ingest"

  def run(enter: String => Unit,
          phase: (String, Long, Long) => Unit): Map[String, Any] = {
    val out = scala.collection.mutable.LinkedHashMap[String, Any](
      "slices" -> nSlices, "batches_planned" -> nBatches)
    def step[A](op: String)(body: => A): Option[A] = {
      enter(op)
      val t0 = Main.Clock.us
      try {
        val r = body
        val t1 = Main.Clock.us
        phase(op, t0, t1)
        out(s"${op}_s") = (t1 - t0) / 1e6
        Some(r)
      } catch {
        case NonFatal(e) =>
          errors += Map("op" -> s"stream.$op",
                        "error" -> s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
          None
      }
    }
    val base = s"$work/stream"
    val src = s"$base/src"; val root = s"$base/ledger"
    val docs = Tables.documents(spark, dataDir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      .withColumn("slice", pmod(xxhash64(col("doc_id"), lit(seed)), lit(nSlices.toLong)))
    val history = docs.filter(col("slice") < nBatches).drop("slice")
    val bench = history.filter(col("doc_id") % 50 === 0)

    step("slices") {
      docs.filter(col("slice") < nBatches).repartition(col("slice"))
        .write.partitionBy("slice").parquet(s"$base/sliced")
      new File(src).mkdirs()
      for (i <- 0 until nBatches) {
        val part = Option(new File(s"$base/sliced/slice=$i").listFiles()).toSeq.flatten
          .find(_.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"slice $i is empty"))
        val dst = new File(f"$src/documents_$i%02d.parquet")
        Files.move(part.toPath, dst.toPath)
        // the file source takes files oldest first: one slice per batch in slice order
        dst.setLastModified(1700000000000L + i * 1000L)
      }
    }
    val listener = new StreamListener
    spark.streams.addListener(listener)
    val ingested = step("ingest") {
      PipelineStream.runOnce(spark, src, bench, root, name = Name,
                             maxFilesPerTrigger = Some(1))
    }
    BusShim.drain(spark.sparkContext)
    spark.streams.removeListener(listener)
    out("batches") = listener.of(Name).filter(_("rows").asInstanceOf[Long] > 0)
    if (ingested.isDefined) {
      val files = ArrayBuffer[File]()
      def walk(f: File): Unit =
        if (f.isDirectory) { if (f.getName != "_checkpoint") f.listFiles().foreach(walk) }
        else if (f.getName.endsWith(".parquet")) files += f
      walk(new File(root))
      out("ledger_files") = files.size
      out("ledger_bytes") = files.map(_.length).sum
      step("attrition_view") {
        out("view_before") = Canon.rows(PipelineStream.attritionView(spark, root).collect())
      }
      out("history_rows") = history.count()
      step("reconcile")(PipelineStream.reconcile(history, bench, root))
      step("parity") {
        val got = PipelineStream.attritionView(spark, root)
        out("columns") = got.columns.toSeq
        out("parity_got") = Canon.rows(got.collect())
        out("parity_want") = Canon.rows(Pipeline.pipelineRun(history).collect())
      }
    }
    out.toMap
  }
}
