package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.jdk.CollectionConverters._

/** Executor-LOSS fault injection under `local-cluster` (dev tool, not a
  * registry query — the committed evidence lives in docs/FAULT_GATE.md).
  *
  * The round-14 multi-JVM gate (docs/CLUSTER_GATE.md) proved the
  * registry's plans SERIALIZE across real executor processes; it
  * explicitly scoped out what happens when one of those processes DIES
  * — the first failure mode a 100 TB job on preemptible/spot nodes
  * actually hits. This gate measures that, per recovery category:
  *
  *   A. `plain_retry` — lineage-complete queries. A SIGKILLed executor
  *      mid-sweep must cost task retries / FetchFailed stage
  *      recomputation, never the answer: every query's rows must equal
  *      its pre-kill baseline.
  *   B. `ckpt_local_loss` — the house checkpoint-tail
  *      (localCheckpoint(true), PlanMode.checkpointTail) with the
  *      default knobs. Blocks live in executor storage with NO lineage
  *      fallback, so consuming an already-materialized tail after the
  *      executor holding half its blocks dies MUST fail (the documented
  *      design trade, docs/PLANS.md), and the documented recovery — a
  *      bounded re-RUN of the query — must succeed and is timed here.
  *   C. `ckpt_reliable` — same queries with `spark.graft.checkpoint.dir`
  *      set (GraftConf path knob): the tail is a durable
  *      ReliableCheckpointRDD any surviving executor can re-read, so
  *      the SAME already-materialized frame must survive the kill.
  *   D. `scratch_redirect` — q_pipeline_checkpointed with
  *      `spark.graft.scratchDir` pointed at a non-tmp shared dir, under
  *      real executor JVMs: rows must match the default-path run
  *      (the knob's multi-node story, docs/CLUSTER_GATE.md residual).
  *   E. `stream_loss` — the streaming curation surface
  *      (PipelineStream) under TOTAL executor loss mid-stream. The
  *      query is expected to die (its static bench frame is a
  *      localCheckpoint, and a kill can land mid-Ledger.commit leaving
  *      a PARTIAL batch in a ledger); the deployment contract under
  *      test is the recovery path: restart from the carried streaming
  *      checkpoint, redelivered batch ids never double-account,
  *      the admitted ledger never holds a text_hash twice, every
  *      delivered doc is accounted exactly once, and a reconcile()
  *      over the durable source converges the attrition table to the
  *      batch operator's answer exactly — torn stage ATTRIBUTION is
  *      repairable history, torn STATE is not allowed to exist.
  *
  * Kill mechanics: `local-cluster[2,c,mem]` spawns each executor as a
  * real child JVM (CoarseGrainedExecutorBackend) of this process;
  * ProcessHandle.descendants finds them and destroyForcibly() is a
  * SIGKILL — the spot-preemption model, no graceful shutdown. The
  * standalone master relaunches a replacement automatically; phases
  * wait for 2 live executors before proceeding so each kill is a clean
  * single-loss experiment.
  */
object FaultGate {
  private def executorHandles(): Seq[ProcessHandle] =
    ProcessHandle.current().descendants().iterator().asScala
      .filter { h =>
        // NOT info().commandLine(): the JDK truncates /proc cmdline to
        // its internal buffer, and with a multi-KB -cp the main-class
        // token sits beyond the cut — the first gate run timed out
        // "waiting for executors" while both were alive and registered.
        // Read the full /proc/<pid>/cmdline ourselves (NUL-separated).
        val cmdline = try new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(s"/proc/${h.pid()}/cmdline")))
        catch { case _: Throwable => "" }
        cmdline.contains("CoarseGrainedExecutorBackend")
      }
      .toSeq

  private def liveExecutors(spark: SparkSession): Int =
    spark.sparkContext.statusTracker.getExecutorInfos.length - 1 // minus driver

  private def awaitExecutors(spark: SparkSession, n: Int,
                             timeoutSec: Int = 120): Unit = {
    val deadline = System.nanoTime() + timeoutSec * 1e9.toLong
    while (liveExecutors(spark) < n ||
           executorHandles().count(_.isAlive) < n) {
      require(System.nanoTime() < deadline,
              s"timed out waiting for $n live executors")
      Thread.sleep(500)
    }
  }

  /** SIGKILL one executor JVM; returns its pid. */
  private def killOne(): Long = {
    val victims = executorHandles().filter(_.isAlive)
    require(victims.nonEmpty, "no live executor JVM found to kill")
    val v = victims.head
    val pid = v.pid()
    v.destroyForcibly()
    v.onExit().get() // wait until the OS has reaped it
    pid
  }

  /** SIGKILL EVERY live executor JVM. The checkpoint-tail phases use
    * this, not killOne: with one kill the tail's blocks can happen to
    * sit wholly on the survivor (the first gate run measured exactly
    * that — "SURVIVED (unexpected)" on both rows), which tests block
    * placement luck, not the recovery contract. Total loss is also the
    * real adversary: spot reclamation takes whole fleets, not one node.
    */
  private def killAll(): Int = {
    val victims = executorHandles().filter(_.isAlive)
    require(victims.nonEmpty, "no live executor JVM found to kill")
    victims.foreach(_.destroyForcibly())
    victims.foreach(_.onExit().get())
    victims.size
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER",
                                   s"local-cluster[2,${Harness.cpus(8)},4096]")
    require(master.startsWith("local-cluster"),
            "FaultGate is only meaningful with real executor JVMs")
    val spark = Harness.session("graft-fault-gate", 8, Some(master))
    val report = new StringBuilder
    def log(s: String): Unit = { println(s"[faultgate] $s"); report ++= s + "\n" }
    var failures = 0

    awaitExecutors(spark, 2)
    log(s"# Executor-loss fault gate — `$master`, sf=`$sfDir`")
    log("")
    log(s"Run ${java.time.LocalDate.now()}; 2 executor JVMs, SIGKILL via " +
        "ProcessHandle.destroyForcibly (spot-preemption model); master " +
        "relaunches a replacement between phases.")

    // ----------------------------------------------------------------
    // A. plain_retry: lineage-complete queries, one kill mid-sweep.
    // ----------------------------------------------------------------
    val plain = Vector(
      "q_max_per_group", "q_reduce_join", "q_broadcast_join", "q_union",
      "q_explode_join", "q_group_concat", "q_json_extract",
      "q_permissive_cast", "q_minmax_norm", "q_recommend",
      "q_text_stats", "q_lang_id")
    val qmap = SparkEntry.queries
    log("")
    log("## A. plain queries: task-retry recovery (kill mid-sweep)")
    log("")
    val baseline = plain.map(n => n -> rows(qmap(n)(spark, sfDir))).toMap
    val baseWall = plain.map { n => // quick second pass for per-query wall
      val t = System.nanoTime(); qmap(n)(spark, sfDir).queryExecution
        .toRdd.count(); n -> (System.nanoTime() - t) / 1e9
    }.toMap
    val totalBase = baseWall.values.sum
    log(f"Baseline sweep (${plain.size} queries): $totalBase%.1f s. " +
        f"Killer armed at ${0.3 * totalBase}%.1f s into the faulted sweep.")
    @volatile var killedPid = -1L
    @volatile var inFlight = "?"
    val killer = new Thread(() => {
      Thread.sleep((0.3 * totalBase * 1000).toLong.max(1000))
      killedPid = killOne()
    }, "faultgate-killer")
    killer.setDaemon(true)
    killer.start()
    val faulted = plain.map { n =>
      inFlight = n
      val t0 = System.nanoTime()
      val r = try Right(rows(qmap(n)(spark, sfDir)))
              catch { case e: Throwable => Left(e.toString.take(200)) }
      (n, r, (System.nanoTime() - t0) / 1e9)
    }
    killer.join(10000)
    log(f"Kill landed: executor pid $killedPid while `$inFlight` in flight.")
    log("")
    log("| query | outcome | rows == baseline | wall (s, faulted / base) |")
    log("|---|---|---|---|")
    faulted.foreach { case (n, r, w) =>
      val (outcome, eq) = r match {
        case Right(rs) => ("succeeded", rs == baseline(n))
        case Left(e)   => (s"FAILED: $e", false)
      }
      if (!eq) failures += 1
      log(f"| $n | $outcome | $eq | $w%.2f / ${baseWall(n)}%.2f |")
    }

    // ----------------------------------------------------------------
    // B. ckpt_local_loss: default knobs — materialized localCheckpoint
    //    tails must DIE with their executor; a fresh re-run recovers.
    // ----------------------------------------------------------------
    awaitExecutors(spark, 2)
    val iterative = Vector("q_dedup_cluster", "q_pagerank")
    log("")
    log("## B. localCheckpoint tails, default knobs (documented trade)")
    log("")
    log("Kill = ALL executor JVMs (total loss — one kill can leave every")
    log("tail block on the survivor and prove nothing but placement luck).")
    log("")
    log("| query | re-consume after kill | fresh re-run | re-run wall (s) |")
    log("|---|---|---|---|")
    iterative.foreach { n =>
      awaitExecutors(spark, 2)
      val df = qmap(n)(spark, sfDir) // checkpointTail is eager: materialized
      val base = rows(df)            // consumable before the kill
      killAll()
      val after = try { val r = rows(df); if (r == base) "SURVIVED (unexpected)"
                        else "WRONG ROWS" }
                  catch { case e: Throwable =>
                    "failed as documented (" +
                      e.getClass.getSimpleName + ")" }
      // The documented recovery: bounded re-RUN of the query from source.
      val t0 = System.nanoTime()
      val rerun = try { val ok = rows(qmap(n)(spark, sfDir)) == base
                        if (ok) "identical rows" else "ROWS DIVERGED" }
                  catch { case e: Throwable => s"FAILED: ${e.toString.take(120)}" }
      val rw = (System.nanoTime() - t0) / 1e9
      if (!after.startsWith("failed as documented") &&
          !after.startsWith("SURVIVED")) failures += 1
      if (rerun != "identical rows") failures += 1
      log(f"| $n | $after | $rerun | $rw%.2f |")
    }

    // ----------------------------------------------------------------
    // C. ckpt_reliable: spark.graft.checkpoint.dir set — the SAME
    //    materialized frame must survive the kill.
    // ----------------------------------------------------------------
    val ckptDir = java.nio.file.Files
      .createTempDirectory("graft_fault_ckpt").toString
    log("")
    log("## C. reliable checkpoint (`spark.graft.checkpoint.dir`)")
    log("")
    log("Same total-loss kill as B: the durable tail must survive it.")
    log("")
    log("| query | re-consume after kill | rows == pre-kill |")
    log("|---|---|---|")
    try PlanMode.withConfs(spark, "spark.graft.checkpoint.dir" -> ckptDir) {
      iterative.foreach { n =>
        awaitExecutors(spark, 2)
        val df = qmap(n)(spark, sfDir)
        val base = rows(df)
        killAll()
        val (outcome, eq) =
          try { val r = rows(df); ("succeeded", r == base) }
          catch { case e: Throwable => (s"FAILED: ${e.toString.take(160)}", false) }
        if (!eq) failures += 1
        log(s"| $n | $outcome | $eq |")
      }
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(ckptDir))

    // ----------------------------------------------------------------
    // D. scratch_redirect: the path knob under real executor JVMs.
    // ----------------------------------------------------------------
    awaitExecutors(spark, 2)
    log("")
    log("## D. spark.graft.scratchDir redirect under local-cluster")
    log("")
    val defRows = rows(qmap("q_pipeline_checkpointed")(spark, sfDir))
    val scratch = new java.io.File("target/faultgate_scratch").getAbsoluteFile
    scratch.mkdirs()
    val redirected =
      PlanMode.withConfs(spark, "spark.graft.scratchDir" -> scratch.toString) {
        rows(qmap("q_pipeline_checkpointed")(spark, sfDir))
      }
    val dEq = redirected == defRows
    if (!dEq) failures += 1
    log(s"q_pipeline_checkpointed with scratchDir=$scratch (non-tmp, " +
        s"shared): rows == default-path rows → $dEq")
    org.apache.commons.io.FileUtils.deleteDirectory(scratch)

    // ----------------------------------------------------------------
    // E. stream_loss: streaming curation ingest across total executor
    //    loss — exactly-once accounting, no torn admitted state, and
    //    reconcile convergence after restart.
    // ----------------------------------------------------------------
    awaitExecutors(spark, 2)
    log("")
    log("## E. streaming ingest: total executor loss mid-stream")
    log("")
    import org.apache.spark.sql.functions._
    val sroot = java.nio.file.Files
      .createTempDirectory("graft_fault_stream").toString
    val ssrc = s"$sroot/src"
    val sdocs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
              col("n_chars"))
    val sTotal = sdocs.count()
    val nSlice = 6
    Harness.writeSlices(sdocs, nSlice, ssrc)
    val sbench = sdocs.filter(col("doc_id") % 50 === 0)
    def ledgerRows(root: String, sub: String,
                   schema: org.apache.spark.sql.types.StructType,
                   cols: Seq[String]): Seq[String] =
      streaming.Ledger.read(spark, s"$root/$sub", schema)
        .select(cols.map(col): _*).collect().map(_.toString).toSeq.sorted
    def intakeOf(root: String): Long =
      streaming.Ledger.read(spark, s"$root/attrition", streaming.PipelineStream.attritionSchema)
        .filter(col("stage") === "0_raw")
        .agg(coalesce(sum(col("docs_in")), lit(0L))).head().getLong(0)

    // No-fault baseline on a pristine root: the admitted-corpus truth.
    val baseRoot = s"$sroot/base"
    streaming.PipelineStream.runOnce(spark, ssrc, sbench, baseRoot,
      name = "graft_fault_stream_base", maxFilesPerTrigger = Some(1))
    val baseDocs = ledgerRows(baseRoot, "docs",
      streaming.PipelineStream.docsLedgerSchema,
      Seq("text_hash", "doc_id", "source", "n_toks"))
    log(s"Source: $nSlice single-file slices, $sTotal docs; no-fault " +
        s"baseline admitted ${baseDocs.size} docs.")

    // Faulted run: kill ALL executors once >=2 micro-batches committed.
    awaitExecutors(spark, 2)
    val lroot = s"$sroot/live"
    val sq = streaming.PipelineStream.startQuery(spark, ssrc, sbench, lroot,
      name = "graft_fault_stream", maxFilesPerTrigger = Some(1))
    val kDeadline = System.nanoTime() + 300e9.toLong
    while (sq.recentProgress.count(_.numInputRows > 0) < 2 &&
           System.nanoTime() < kDeadline && sq.isActive)
      Thread.sleep(200)
    val committedAtKill = sq.recentProgress.count(_.numInputRows > 0)
    val nKilled = killAll()
    val died =
      try { sq.awaitTermination(); None }
      catch { case e: Throwable => Some(e.getClass.getSimpleName) }
    log(s"Killed $nKilled executor JVM(s) after $committedAtKill committed " +
        s"batches; query outcome: " +
        died.fold("survived via task retry (drained)")(c => s"died ($c) — " +
          "expected: the bench localCheckpoint has no lineage fallback"))

    // Recovery: restart from the carried checkpoint and drain.
    awaitExecutors(spark, 2)
    streaming.PipelineStream.runOnce(spark, ssrc, sbench, lroot,
      name = "graft_fault_stream_resume", maxFilesPerTrigger = Some(1))
    val intake = intakeOf(lroot)
    val intakeOk = intake == sTotal
    if (!intakeOk) failures += 1
    log("")
    log(s"- exactly-once intake across kill+restart: raw docs_in " +
        s"$intake == $sTotal delivered → $intakeOk")
    val liveDocs = ledgerRows(lroot, "docs",
      streaming.PipelineStream.docsLedgerSchema,
      Seq("text_hash", "doc_id", "source", "n_toks"))
    val dupHashes = liveDocs.map(_.split(",").head).groupBy(identity)
      .count(_._2.size > 1)
    val noDups = dupHashes == 0
    if (!noDups) failures += 1
    log(s"- no torn admitted state: duplicated text_hash in docs ledger " +
        s"= $dupHashes → $noDups")
    val admittedEq = liveDocs == baseDocs
    log(s"- admitted corpus == no-fault baseline (pre-reconcile): " +
        s"$admittedEq" + (if (!admittedEq)
          " (torn-batch attribution divergence — repaired below)" else ""))

    // Reconcile over the durable source: attrition must converge to the
    // batch operator's answer exactly (the documented repair).
    val sFull = spark.read
      .schema(streaming.CorpusStream.docsSchema).parquet(ssrc)
    streaming.PipelineStream.reconcile(sFull, sbench, lroot)
    val gotAttr = rows(streaming.PipelineStream.attritionView(spark, lroot))
    val wantAttr = rows(ext.Pipeline.pipelineRun(sdocs))
    val reconOk = gotAttr == wantAttr
    if (!reconOk) failures += 1
    log(s"- post-reconcile attrition == batch operator table: $reconOk")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(sroot))

    log("")
    log(s"**Gate result: ${if (failures == 0) "PASS" else s"$failures FAILURE(S)"}**")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("docs/FAULT_GATE.md"),
      report.toString)
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
