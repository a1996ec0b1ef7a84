package graft

import org.apache.spark.sql.{Column, DataFrame, Row}

/** Audit escape hatch for the house checkpoint-tail pattern
  * (persist → build output → localCheckpoint(true) → unpersist).
  *
  * Normal runs keep the eager localCheckpoint: it truncates iterative
  * lineage so the returned frame is one stable cached scan. But that
  * very truncation blinds PlanAudit — the audited "plan" is a single
  * scan of checkpointed blocks, so shuffle/broadcast/pushdown evidence
  * for the real query shape is lost (and the query executes at
  * CONSTRUCTION time, which plan-only tooling must not trigger).
  *
  * PlanAudit sets `-Dgraft.plan.audit=1`; under that flag checkpointTail
  * is the identity, so the full pre-checkpoint plan reaches the audit.
  * The caches these queries unpersist after checkpointing are then
  * released before execution — audit runs recompute instead of reading
  * cache, which is exactly the lineage we want to see.
  *
  * Cluster-reality note (also in docs/PLANS.md): localCheckpoint is NOT
  * fault-tolerant — blocks live in executor storage, so losing an
  * executor fails the job instead of recomputing from lineage. That is
  * an accepted trade for single-app iterative tails. For fault-tolerant
  * deployments set `spark.graft.checkpoint.dir` to a cluster-FS URI:
  * checkpointTail then uses RELIABLE `Dataset.checkpoint()` — the tail
  * is a durable parquet-backed RDD any surviving executor can re-read,
  * so executor loss costs a task retry, not the job
  * (docs/FAULT_GATE.md measures both modes under a killed executor).
  * Default path (knob unset) is bit-identical to the pre-knob behavior.
  */
object PlanMode {
  def auditing: Boolean = sys.props.get("graft.plan.audit").contains("1")

  /** Single-consumer FINAL tail (round 16). A query's returned frame has
    * exactly one consumer — the harness action (bench count / verify
    * write / a caller's own sink). Checkpointing it buys zero reuse and
    * costs one extra materialization job plus a block write + re-read of
    * the full result: measured as part of the ~0.4-0.9 s fixed per-query
    * floor that dominates the registry at sf0.1 (VERDICT r15 §scaling).
    * So the final tail stays LAZY. The checkpointed intermediates the
    * plan references are leaf-lineage blocks that CANNOT be released
    * here (truncated lineage — an eager release would break the one
    * consumer, which is why the old pattern materialized the tail
    * first); they stay cached until the harness's inter-query sweep
    * (Bench.sweep's blocking unpersist) or the ContextCleaner frees
    * them — the same lifetime they had under the old pattern, whose
    * release() also ran non-blocking at query end. Multi-consumer
    * funnels and tails that must materialize before scratch-dir cleanup
    * (q_pipeline_checkpointed) keep checkpointTail.
    *
    * Contract: the caller must CONSUME the returned frame before any
    * sweep (Bench.sweep's blocking unpersist, a test's cleanup, a
    * caller's own release). The sweep frees the localCheckpoint blocks
    * this lazy plan still reads, and those blocks have no lineage to
    * recompute from, so an action after the sweep fails on missing
    * blocks — consume first, sweep after.
    */
  def lazyTail(df: DataFrame): DataFrame = df

  def checkpointTail(df: DataFrame): DataFrame =
    if (auditing) df
    else GraftConf.checkpointDir(df.sparkSession) match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        // setCheckpointDir mints a fresh per-app UUID subdir on every
        // call — pin it once per application. (Spark's own cleaner
        // removes checkpoint files only with
        // spark.cleaner.referenceTracking.cleanCheckpoints=true; a
        // deployment that enables the knob owns that setting too.)
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        df.checkpoint(eager = true)
      case None => df.localCheckpoint(true)
    }

  private val observeSeq = new java.util.concurrent.atomic.AtomicLong()

  /** checkpointTail that also OBSERVES `metric` (one aggregate column)
    * on the same pass: `Dataset.observe` rides on the materialization
    * checkpointTail runs anyway, so a caller that needs a driver-side
    * number about the frame (a convergence sum, a row count) gets it
    * without a second aggregation job over the checkpointed blocks.
    * Returns the checkpointed frame (its plan holds no observe node) and
    * the observed row. The value is read back synchronously from the
    * checkpoint action's executed plan, in both the localCheckpoint and
    * the reliable `spark.graft.checkpoint.dir` modes.
    *
    * Audit mode: checkpointTail is the identity, so nothing would
    * materialize — the frame comes back unobserved (the audited plan is
    * unchanged) and the metric is computed by one separate aggregate. A
    * missing observed row is an error, never a default: a caller looping
    * to a fixpoint on the value must not spin on a stale one.
    */
  def checkpointObserved(df: DataFrame, metric: Column): (DataFrame, Row) =
    if (auditing) (df, df.agg(metric).head())
    else {
      val name = s"graft_observed_${observeSeq.incrementAndGet()}"
      val observed = df.observe(name, metric)
      val out = checkpointTail(observed)
      val row = observed.queryExecution.observedMetrics.getOrElse(name,
        throw new IllegalStateException(
          s"observed metric $name missing after checkpoint materialization"))
      (out, row)
    }

  /** Free the block storage behind a checkpointTail'd frame once every
    * consumer has materialized (localCheckpoint blocks live OUTSIDE the
    * SQL cache manager, so Dataset.unpersist cannot reach them and they
    * otherwise wait for the async ContextCleaner). Reliable-checkpoint
    * mode (spark.graft.checkpoint.dir) keeps its durable files — the
    * unpersist only drops any block-cache replica. No-op under audit.
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        // non-blocking: release() runs INSIDE the query (right after the
        // tail materializes), where a synchronous block-removal wait
        // adds ~0.1-0.5 s per checkpoint-heavy query (measured as a
        // broad bench smear). Cross-QUERY carryover — the 100×-diverse
        // OOM class — is handled by Bench.sweep()'s BLOCKING unpersist
        // between queries; in-query frees only need to be enqueued.
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Run `body` with AQE off, restoring the prior setting after.
    *
    * For iterative tails (label propagation, power iteration) every
    * round/stage is a tiny action over inputs already bounded by
    * construction (star edges, capped ε/Hamming candidate graphs) and
    * keyed by uniform ids — the regime where adaptive replanning's
    * per-query-stage driver round-trip is pure latency (measured ~45%
    * of per-round wall on q_dbscan's sf0.1 ε-graph) and its
    * skew/broadcast rescue has nothing to improve. Scoped: everything
    * outside the iterative body keeps AQE.
    */
  def withoutAqe[A](spark: org.apache.spark.sql.SparkSession)(body: => A): A = {
    val before = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body
    finally spark.conf.set("spark.sql.adaptive.enabled", before)
  }
}
