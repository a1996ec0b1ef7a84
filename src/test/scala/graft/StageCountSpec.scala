package graft

import graft.ext.Pipeline
import graft.streaming.PipelineStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CollectMetricsExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ResultQueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

/** Pins the curation run's stage counts, which both planes observe on
  * the stage-pool checkpoints (`Pipeline.observedPool`), to the
  * aggregates they replaced. The replaced shapes are kept here as the
  * spec oracle: the batch report's one-row `stat` aggregate per pool and
  * the stream's `cnt(...).head()` per stage. Every observed (n_docs,
  * n_tokens) must equal them at sf0.001, and every observation must sit
  * in the result stage of its own checkpoint: no exchange between the
  * checkpoint's root and its CollectMetricsExec, because a shuffle-map
  * task's accumulator update is applied again when its stage is
  * resubmitted. Each case also runs with `spark.graft.checkpoint.dir`
  * set (the reliable checkpoint route).
  */
class StageCountSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  val sf = TestSpark.Sf

  /** The batch report's replaced stage row. */
  private def stat(name: String, pool: DataFrame): DataFrame =
    pool.agg(count(lit(1)).as("n_docs"),
             coalesce(sum(col("n_toks")), lit(0L)).as("n_tokens"))
      .select(lit(name).as("stage"), col("n_docs"), col("n_tokens"))

  /** The stream's replaced per-stage count. */
  private def cnt(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("n_toks")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Run `body` and return the plans of the checkpoints it ran that
    * observe a metric.
    */
  private def observedCheckpoints[A](body: => A): (A, Seq[SparkPlan]) = {
    val sc = spark.sparkContext
    org.apache.spark.SparkTestHooks.drainListenerBus(sc)
    val seen = mutable.ArrayBuffer[SparkPlan]()
    val recorder = new QueryExecutionListener {
      def onSuccess(action: String, qe: QueryExecution, durationNs: Long): Unit =
        if (action == "localCheckpoint" || action == "checkpoint")
          seen.synchronized(seen += qe.executedPlan)
      def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(recorder)
    try {
      val out = body
      org.apache.spark.SparkTestHooks.drainListenerBus(sc)
      (out, seen.synchronized(seen.toVector).filter(p => observations(p, false).nonEmpty))
    } finally spark.listenerManager.unregister(recorder)
  }

  /** Every CollectMetricsExec of `plan`, each with whether an exchange
    * (or an AQE shuffle or broadcast stage, which wraps one) lies
    * between it and the root.
    */
  private def observations(plan: SparkPlan, crossed: Boolean): Seq[Boolean] =
    plan match {
      case a: AdaptiveSparkPlanExec => observations(a.executedPlan, crossed)
      case c: CollectMetricsExec => crossed +: observations(c.child, crossed)
      case s: ResultQueryStageExec => observations(s.plan, crossed)
      case s: QueryStageExec => observations(s.plan, crossed = true)
      case e: Exchange => observations(e.child, crossed = true)
      case p => p.children.flatMap(observations(_, crossed))
    }

  private def assertPlaced(plans: Seq[SparkPlan], atLeast: Int): Unit = {
    assert(plans.size >= atLeast, s"observed checkpoints: ${plans.size}")
    plans.foreach { p =>
      assert(!observations(p, false).exists(identity),
             s"an observation below an exchange:\n$p")
    }
  }

  for ((reliable, suffix) <- Seq(false -> "", true -> " (reliable checkpoint dir)")) {
    def run[A](body: => A): A =
      if (reliable) TestSpark.withReliableCheckpointDir(body) else body

    test("batch: observed stage counts equal the stat aggregates, in the checkpoints' result stages" + suffix) {
      val docs = Tables.documents(spark, sf)
      run {
        val (pools, plans) = observedCheckpoints(Pipeline.stagePools(docs))
        assertPlaced(plans, atLeast = Pipeline.StageNames.size)
        val observed = pools.map { case (st, c) => (st, c.docs, c.tokens) }
        val want = pools.map { case (st, c) => stat(st, c.pool) }.reduce(_.unionByName(_))
          .as[(String, Long, Long)].collect().toSeq
        assert(observed == want)
        val table = Pipeline.attritionTail(
          spark.createDataFrame(observed).toDF("stage", "n_docs", "n_tokens"),
          pools.last._2.pool)
          .select(col("stage"), col("n_docs"), col("n_tokens"))
          .as[(String, Long, Long)].collect().toSeq
        assert(table == want :+ want.last.copy(_1 = "7_pack"))
        pools.foreach(p => PlanMode.release(p._2.pool))
      }
    }

    test("stream: a whole-corpus ingest ledgers the cnt counts, observed in the checkpoints' result stages" + suffix) {
      val docs = Tables.documents(spark, sf)
      val bench = docs.filter(col("doc_id") % 50 === 0)
      val root = java.nio.file.Files.createTempDirectory("graft_stagecount")
        .toString + "/pipeline"
      val (_, plans) = run(observedCheckpoints(
        PipelineStream.ingestBatch(docs, bench, root, batchId = "b0")))
      assertPlaced(plans, atLeast = Pipeline.StageNames.size)
      // Into empty ledgers every probe passes, so the stream's pools are
      // the batch chain's: the reference recomputes that chain unsaved.
      val d0 = Pipeline.rawPool(docs)
      val ref = Pipeline.StageNames.tail.scanLeft(d0) { (prev, stage) =>
        Pipeline.stageStep(stage, prev, bench)
      }.map(cnt)
      val ledger = spark.read.parquet(s"$root/attrition")
        .filter(col("batch_id") === "b0")
        .select(col("stage"), col("docs_dropped"), col("toks_dropped"),
                col("docs_in"), col("toks_in"))
        .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(ledger.map(_._1) == Pipeline.StageNames)
      val intake = (ledger.head._4, ledger.head._5)
      val observed = ledger.scanLeft(intake) { case ((d, t), r) => (d - r._2, t - r._3) }.tail
      assert(observed == ref)
    }
  }
}
