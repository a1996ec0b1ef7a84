package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}

/** The house materialization helpers: the eager checkpoint tail, its
  * observed form, in-query release and the inter-query sweep.
  *
  * checkpointTail's eager localCheckpoint truncates iterative lineage so
  * the returned frame is one stable scan of checkpointed blocks; the
  * checkpoint is a Spark execution of its own, fired while the frame is
  * built (`graft.Probe` reports it as one of the query's executions).
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
  def checkpointTail(df: DataFrame): DataFrame =
    GraftConf.checkpointDir(df.sparkSession) match {
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

  /** checkpointTail that also OBSERVES `metrics` (aggregate columns)
    * on the same pass: `Dataset.observe` rides on the materialization
    * checkpointTail runs anyway, so a caller that needs a driver-side
    * number about the frame (a convergence sum, a row count) gets it
    * without a second aggregation job over the checkpointed blocks.
    * Columns named in `scratch` feed the metric only: they are dropped
    * above the observation, so the checkpoint does not store them.
    * Returns the checkpointed frame (its plan holds no observe node) and
    * the observed row, one field per metric. The value is read back synchronously from the
    * checkpoint action's executed plan, in both the localCheckpoint and
    * the reliable `spark.graft.checkpoint.dir` modes. A missing observed
    * row is an error, never a default: a caller looping to a fixpoint on
    * the value must not spin on a stale one.
    */
  def checkpointObserved(df: DataFrame, metrics: Seq[Column],
                         scratch: String*): (DataFrame, Row) = {
    val name = s"graft_observed_${observeSeq.incrementAndGet()}"
    val observed = df.observe(name, metrics.head, metrics.tail: _*).drop(scratch: _*)
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
    * unpersist only drops any block-cache replica.
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        // non-blocking: release() runs INSIDE the query (right after the
        // tail materializes), where a synchronous block-removal wait
        // adds ~0.1-0.5 s per checkpoint-heavy query (measured as a
        // broad bench smear). Cross-QUERY carryover — the 100×-diverse
        // OOM class — is handled by sweep()'s BLOCKING unpersist
        // between queries; in-query frees only need to be enqueued.
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Inter-query release: drop every CacheManager entry, unpersist every
    * persistent RDD BLOCKING, then GC — unless there was nothing to
    * free: with the CacheManager and the persistent RDDs already empty
    * the GC reclaims nothing this sweep owns and only costs wall time.
    * Run it between queries in any loop over the registry (Bench,
    * Verify, KnobSweep, Probe).
    *
    * localCheckpoint blocks live outside the CacheManager and are
    * otherwise freed only when the async ContextCleaner processes its
    * weak-ref queue; at 100× block sizes they pile up faster than the
    * cleaner drains, pin the unevictable storage fraction and starve
    * execution memory (the whole-registry 100× sweep OOM'd mid-alphabet
    * while every query passed in isolation). The free is blocking so the
    * next query cannot start while the previous one's blocks still
    * occupy the heap (the 100×-diverse sweep OOM'd in q_prefix_jaccard
    * from exactly that carryover).
    *
    * Contract: CONSUME a query's frame before sweeping. A returned frame
    * is lazy — its plan may read checkpointTail'd leaf blocks that have
    * no lineage to recompute from — so an action after the sweep fails
    * on missing blocks.
    */
  def sweep(spark: SparkSession): Unit = {
    val cache = spark.sharedState.cacheManager
    val sc = spark.sparkContext
    if (!cache.isEmpty || sc.getPersistentRDDs.nonEmpty) {
      cache.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
    }
  }

  /** Run `body` with each `key -> value` set on the session, restoring
    * every key after: a key that was set gets its old value back, a key
    * that was unset is unset again.
    */
  def withConfs[A](spark: SparkSession, kv: (String, String)*)(body: => A): A = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach { case (k, old) =>
      old.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}
