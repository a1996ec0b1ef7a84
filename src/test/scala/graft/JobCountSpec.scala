package graft

import graft.ext.{Corpus, Similarity}
import graft.streaming.{CorpusStream, PipelineStream}
import org.apache.spark.SparkTestHooks
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

/** Job-count regression pins for the shared iterative funnels. Spark
  * jobs are the cost floor of these loops, so the structure is pinned
  * by counting them with a SparkListener:
  *
  *  - every min-label propagation round is ONE materialization — the
  *    round's checkpoint, on which the count of rows its closing
  *    group-min changed is observed. The whole call fires exactly one
  *    checkpoint execution per round and no other job: no edge-list
  *    checkpoint, no separate warm-start or verification round, no
  *    aggregation job between one round's checkpoint and the next.
  *  - every Lloyd step of the codebook trainers is one job (the seed
  *    collect is the other).
  *  - the curation run's stage counts ride on the stage-pool
  *    checkpoints, in the batch report and in the stream alike.
  */
class JobCountSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** What one block of driver code fired: the SQL executions it started
    * (id → description) and, per job, the execution it ran under (None
    * for a job outside any SQL execution).
    */
  private final class Fired extends SparkListener {
    val executions = mutable.LinkedHashMap[Long, String]()
    val jobs = mutable.ArrayBuffer[Option[Long]]()
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += Option(e.properties)
        .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
        .map(_.toLong)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        synchronized(executions(s.executionId) = s.description)
      case _ => ()
    }
  }

  private def record[A](body: => A): (A, Fired) = {
    val sc = spark.sparkContext
    SparkTestHooks.drainListenerBus(sc)
    val fired = new Fired
    sc.addSparkListener(fired)
    try {
      val out = body
      SparkTestHooks.drainListenerBus(sc)
      (out, fired)
    } finally sc.removeSparkListener(fired)
  }

  private def isCheckpoint(description: String): Boolean =
    description.startsWith("localCheckpoint at") ||
      description.startsWith("checkpoint at")

  /** The loop's materialization count, simulated on the driver over the
    * incidence rows minLabelPropagate builds (a one-member group per
    * vertex, a {src, dst} group per edge): the first materialization is
    * group-min, vertex-min, then the checking group-min; each later one
    * is vertex-min, the label(label(v)) shortcut from the third on, and
    * the checking group-min; the loop stops once a check changes no row.
    */
  private def expectedRounds(vs: Seq[Long], es: Seq[(Long, Long)]): Int = {
    val rows = vs.map(v => (v, (v, v), true)) ++
      es.map { case (a, b) => (a, (a min b, a max b), false) }
    def groupMin(l: Seq[Long]): Seq[Long] = {
      val m = rows.zip(l).groupMapReduce(_._1._2)(_._2)(_ min _)
      rows.map(r => m(r._2))
    }
    def vertexMin(l: Seq[Long]): Seq[Long] = {
      val m = rows.zip(l).groupMapReduce(_._1._1)(_._2)(_ min _)
      rows.map(r => m(r._1))
    }
    def shortcut(l: Seq[Long]): Seq[Long] = {
      val at = rows.zip(l).collect { case ((v, _, true), x) => v -> x }.toMap
      l.map(x => at.getOrElse(x, x))
    }
    def check(l: Seq[Long]): (Seq[Long], Boolean) = {
      val g = groupMin(l)
      (g, g != l)
    }
    var (labels, changed) = check(vertexMin(groupMin(rows.map(_._1))))
    var rounds = 1
    while (changed) {
      rounds += 1
      val stepped = vertexMin(labels)
      val (next, c) = check(if (rounds < 3) stepped else shortcut(stepped))
      labels = next
      changed = c
    }
    rounds
  }

  private def assertOneCheckpointPerRound(vs: Seq[Long], es0: Seq[(Long, Long)],
                                          rounds: Int): Unit = {
    val es = es0 ++ es0.map(_.swap)
    assert(expectedRounds(vs, es) == rounds)
    val vertices = vs.toDF("doc_id")
    val edges = es.toDF("src", "dst")
    val (labels, fired) = record(Corpus.minLabelPropagate(vertices, edges))
    val descs = fired.executions.values.toSeq
    assert(descs.forall(isCheckpoint),
           s"a non-checkpoint SQL action fired inside the loop: $descs")
    assert(descs.length == rounds,
           s"expected $rounds round checkpoints, got $descs")
    assert(fired.jobs.forall(_.exists(fired.executions.contains)),
           s"a job fired outside the loop's checkpoints: ${fired.jobs}")
    assert(labels.as[(Long, Long)].collect().map(_._2).toSet == Set(vs.min))
  }

  test("minLabelPropagate: a star graph converges in one checkpoint") {
    val leaves = (2L to 9L).toSeq
    assertOneCheckpointPerRound(1L +: leaves, leaves.map(1L -> _), rounds = 1)
  }

  // The loop this one replaced took 8 checkpoints here (an edge list, a
  // warm start and 6 rounds, the last of them only a verification).
  test("minLabelPropagate: 24-node path graph fires one checkpoint per round") {
    val n = 24L
    assertOneCheckpointPerRound((1L to n).toSeq,
                                (1L until n).map(i => i -> (i + 1)), rounds = 5)
  }

  // The blocking keys converge in one materialization at sf0.001: its
  // three window exchanges and the checkpoint's own stage. The loop this
  // one replaced fired 14 here (edge list, warm start and a round that
  // only verified).
  test("q_cc_profile fires at most 4 jobs while its frame is built") {
    Tables.documents(spark, TestSpark.Sf).schema
    val (_, fired) = record(SparkEntry.queries("q_cc_profile")(spark, TestSpark.Sf))
    assert(fired.jobs.length <= 4, s"construction jobs: ${fired.jobs.length}")
    PlanMode.sweep(spark)
  }

  // The stage rows are observed on the stage-pool checkpoints, so
  // consuming the report runs only the pack count and the 8-row lag
  // window. The report this one replaced unioned 8 one-row stage
  // aggregates and fired 11 jobs here.
  test("q_pipeline_run fires at most 4 jobs while its frame is consumed") {
    Tables.documents(spark, TestSpark.Sf).schema
    val df = SparkEntry.queries("q_pipeline_run")(spark, TestSpark.Sf)
    val (_, fired) = record(df.collect())
    assert(fired.jobs.length <= 4, s"consume jobs: ${fired.jobs.length}")
    PlanMode.sweep(spark)
  }

  // One micro-batch counts its 7 stages on the checkpoints it runs
  // anyway. The ingest this one replaced fired 58 jobs here, 23 of them
  // for its per-stage count aggregates and the admitted count.
  test("a whole-corpus ingestBatch fires at most 43 jobs, none a head or a count") {
    val docs = Tables.documents(spark, TestSpark.Sf)
    docs.schema
    val bench = docs.filter(docs("doc_id") % 50 === 0)
    val root = java.nio.file.Files.createTempDirectory("graft_jobs_ingest")
      .toString + "/pipeline"
    val (admitted, fired) = record(PipelineStream.ingestBatch(docs, bench, root))
    assert(admitted > 0)
    assert(fired.jobs.length <= 43, s"ingest jobs: ${fired.jobs.length}")
    val counting = fired.executions.values
      .filter(d => d.startsWith("head at") || d.startsWith("count at"))
    assert(counting.isEmpty, s"counting actions: $counting")
  }

  // The admit observes its admitted count on the survivors' checkpoint:
  // two checkpoints, the bucket collect (2 jobs each) and the write. The
  // ingest this one replaced also ran a count() over the survivors, an
  // execution of 2 jobs (its map stage and its final aggregate): 9 here.
  test("a CorpusStream ingestBatch into an empty ledger fires 7 jobs, none a count") {
    val docs = Tables.documents(spark, TestSpark.Sf)
    docs.schema
    val dir = java.nio.file.Files.createTempDirectory("graft_jobs_corpus")
      .toString + "/history"
    val (admitted, fired) = record(CorpusStream.ingestBatch(docs, dir))
    assert(admitted > 0)
    assert(fired.jobs.length == 7, s"ingest jobs: ${fired.jobs.length}")
    val counting = fired.executions.values.filter(_.startsWith("count at"))
    assert(counting.isEmpty, s"counting actions: $counting")
  }

  test("trainCodebook fires exactly 1 + KmIters jobs") {
    val e0 = Tables.embeddings(spark, TestSpark.Sf)
    e0.schema // resolve the relation outside the window
    val (mat, fired) = record(Similarity.trainCodebook(e0))
    assert(mat.length == Similarity.NumCells * Similarity.Dim)
    assert(fired.jobs.length == 1 + Similarity.KmIters,
           s"jobs fired: ${fired.jobs.length}")
  }

  test("trainPqCodebook fires exactly 2 jobs (seeds + one Lloyd step)") {
    val e0 = Tables.embeddings(spark, TestSpark.Sf)
    e0.schema
    val (cents, fired) = record(Similarity.trainPqCodebook(e0))
    assert(cents.length == Similarity.PqM)
    assert(fired.jobs.length == 2, s"jobs fired: ${fired.jobs.length}")
  }
}
