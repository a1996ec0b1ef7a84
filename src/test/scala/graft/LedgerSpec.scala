package graft

import graft.ext.{Corpus, Dedup}
import graft.streaming.{ChunkStream, CorpusStream, Ledger, ParagraphStream, ShuffleStream, SubstringStream}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{min, sha2, size, split}
import org.scalatest.funsuite.AnyFunSuite

/** The snapshots of the bucketed ledger ingests (graft.streaming.Ledger):
  * every micro-batch checkpoints through PlanMode and releases what it
  * checkpointed, so an ingest leaves no persisted RDD behind, and with
  * `spark.graft.checkpoint.dir` set its snapshots are reliable checkpoint
  * files. Batch parity and idempotent re-ingest hold in both modes.
  */
class LedgerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  private val Sf = TestSpark.Sf

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Files under the reliable checkpoint directory, when one is set. */
  private def checkpointFiles: Long =
    spark.conf.getOption("spark.graft.checkpoint.dir").fold(0L) { uri =>
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(new java.net.URI(uri)))
      try walk.filter(java.nio.file.Files.isRegularFile(_)).count()
      finally walk.close()
    }

  /** Run `body` and assert it left the persistent RDDs as it found them. */
  private def leavesNoPersisted[A](what: String)(body: => A): A = {
    val before = persisted
    val out = body
    assert(persisted == before, s"$what left persisted RDDs behind")
    out
  }

  private def tempDir(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_ledger_$name").toString + "/ledger"

  private def docs: DataFrame = Tables.documents(spark, Sf).select($"doc_id", $"text")

  /** One ledger ingest: its micro-batch, the input it takes, and its
    * ledger's fold against the batch operator's answer.
    */
  private final case class Ingest(name: String, input: () => DataFrame,
                                  ingest: (DataFrame, String) => Long,
                                  parity: String => Boolean)

  private val ingests = Seq(
    Ingest("CorpusStream",
      () => Tables.documents(spark, Sf)
        .select($"doc_id", $"text", $"lang", $"source", $"n_chars"),
      CorpusStream.ingestBatch,
      dir => {
        val got = Ledger.read(spark, dir, CorpusStream.ledgerSchema)
          .select($"text_hash", $"canonical_id").as[(String, Long)].collect().toSet
        val twin = Tables.documents(spark, Sf)
          .filter(size(split($"text", " ")).between(CorpusStream.MinToks, CorpusStream.MaxToks))
          .groupBy(sha2($"text", 256).as("text_hash"))
          .agg(min($"doc_id").as("canonical_id"))
          .as[(String, Long)].collect().toSet
        got == twin
      }),
    Ingest("ParagraphStream", () => docs, ParagraphStream.ingestBatch,
      dir => ParagraphStream.keptStats(spark, dir).as[(Long, Long, String)].collect().toSet ==
        Corpus.paragraphDedup(docs).filter($"n_kept" > 0)
          .select($"doc_id", $"n_kept", $"kept_text").as[(Long, Long, String)].collect().toSet),
    Ingest("ShuffleStream", () => docs, ShuffleStream.ingestBatch,
      dir => ShuffleStream.shuffleView(spark, dir).as[(Long, Long, Long, Long, Long)].collect().toSet ==
        Corpus.globalShuffle(docs).as[(Long, Long, Long, Long, Long)].collect().toSet),
    Ingest("ChunkStream", () => docs, ChunkStream.ingestBatch,
      dir => ChunkStream.sharedStats(spark, dir).as[(Long, Long, Long, Double)].collect().toSet ==
        Corpus.chunkDedup(docs).as[(Long, Long, Long, Double)].collect().toSet))

  private val modes: Seq[(String, (=> Unit) => Unit)] = Seq(
    "" -> (body => body),
    " (reliable checkpoint dir)" -> (body => TestSpark.withReliableCheckpointDir(body)))

  for ((suffix, inMode) <- modes; in <- ingests)
    test(s"${in.name}.ingestBatch releases its snapshots, keeps parity and re-ingests nothing$suffix") {
      PlanMode.sweep(spark)
      inMode {
        val dir = tempDir(in.name)
        val all = in.input()
        val files0 = checkpointFiles
        val first = leavesNoPersisted("first batch")(in.ingest(all.filter($"doc_id" < 250), dir))
        assert(first > 0)
        if (suffix.nonEmpty)
          assert(checkpointFiles > files0, "snapshots must go to the reliable checkpoint dir")
        leavesNoPersisted("second batch")(in.ingest(all.filter($"doc_id" >= 250), dir))
        assert(in.parity(dir), s"${in.name} ledger must fold to the batch operator")
        assert(leavesNoPersisted("re-ingest")(in.ingest(all, dir)) == 0L)
      }
    }

  for ((suffix, inMode) <- modes)
    test(s"SubstringStream.runOnce releases its snapshots and keeps parity$suffix") {
      PlanMode.sweep(spark)
      inMode {
        val base = java.nio.file.Files.createTempDirectory("graft_ledger_substr").toString
        val out = leavesNoPersisted("runOnce") {
          SubstringStream.runOnce(spark, Sf, s"$base/ledger", s"$base/stats")
        }.as[(Long, Long, Long, String)].collect().toSet
        assert(out == Dedup.dedupSubstring(docs).as[(Long, Long, Long, String)].collect().toSet)
      }
    }
}
