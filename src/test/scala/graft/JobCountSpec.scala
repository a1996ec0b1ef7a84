package graft

import graft.ext.{Corpus, Similarity}
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
  *    round's checkpoint, on which the convergence sum is observed. The
  *    whole call fires exactly 1 (edges) + 1 (warm start) + rounds
  *    checkpoint executions, and no other job: no aggregation job runs
  *    between one round's checkpoint and the next, and the converged
  *    round's checkpoint is returned as-is.
  *  - every Lloyd step of the codebook trainers is one job (the seed
  *    collect is the other).
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

  /** The loop's round count, simulated on the driver: warm start = one
    * neighbor-min step from identity; then neighbor-min steps, with the
    * label(label(v)) shortcut from round 3, until Σlabel repeats.
    */
  private def expectedRounds(vs: Seq[Long], es: Seq[(Long, Long)]): Int = {
    val nbrs = es.groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2) }
    def step(l: Map[Long, Long]): Map[Long, Long] =
      l.map { case (v, x) => v -> (x +: nbrs.getOrElse(v, Nil).map(l)).min }
    var labels = step(vs.map(v => v -> v).toMap)
    var rounds = 0
    var converged = false
    while (!converged) {
      val s = step(labels)
      val next = if (rounds < 2) s else s.map { case (v, x) => v -> s(x) }
      rounds += 1
      converged = next.values.sum == labels.values.sum
      labels = next
    }
    rounds
  }

  private def assertOneCheckpointPerRound(vs: Seq[Long],
                                          es0: Seq[(Long, Long)]): Unit = {
    val es = es0 ++ es0.map(_.swap)
    val vertices = vs.toDF("doc_id")
    val edges = es.toDF("src", "dst")
    val (labels, fired) = record(Corpus.minLabelPropagate(vertices, edges))
    val rounds = expectedRounds(vs, es)
    val descs = fired.executions.values.toSeq
    assert(descs.forall(isCheckpoint),
           s"a non-checkpoint SQL action fired inside the loop: $descs")
    assert(descs.length == 2 + rounds,
           s"expected edges + warm start + $rounds round checkpoints, got $descs")
    assert(fired.jobs.forall(_.exists(fired.executions.contains)),
           s"a job fired outside the loop's checkpoints: ${fired.jobs}")
    assert(labels.as[(Long, Long)].collect().map(_._2).toSet == Set(vs.min))
  }

  test("minLabelPropagate: a star graph is edges + warm start + one round") {
    val leaves = (2L to 9L).toSeq
    assert(expectedRounds(1L +: leaves,
      leaves.flatMap(l => Seq(1L -> l, l -> 1L))) == 1)
    assertOneCheckpointPerRound(1L +: leaves, leaves.map(1L -> _))
  }

  test("minLabelPropagate: 24-node path graph fires one checkpoint per round") {
    val n = 24L
    assertOneCheckpointPerRound((1L to n).toSeq,
                                (1L until n).map(i => i -> (i + 1)))
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
