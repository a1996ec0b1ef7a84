package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.streaming.{Ledger, PipelineStream}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Steady-state soak for the flagship streaming surface (dev tool; the
  * committed evidence is the `soak` section of STREAMBENCH.json).
  *
  * STREAMBENCH measures CATCH-UP throughput: 8 pre-landed slices
  * drained by AvailableNow. A deployment is sized on the other
  * question — does the long-lived query KEEP UP with a continuous
  * arrival rate, with bounded state and stable latency? This soak
  * drives `PipelineStream.startQuery` (ProcessingTime trigger, the
  * deployment shape) against a writer thread that lands one crawl
  * slice every `period` seconds, for two calibrated scenarios:
  *
  *   `below`  — period = 1.4 × measured per-slice batch wall. Expect:
  *              backlog ≤ 1 slice at every sample, per-batch wall flat
  *              (no drift as ledgers grow), ledger bytes linear in
  *              admissions. Mid-soak, a reconcile() fires under load:
  *              arrivals PAUSE (the documented single-writer contract
  *              — reconcile owns the root), the query quiesces at a
  *              no-pending boundary, swaps, restarts from the carried
  *              checkpoint, arrivals resume; the pause is measured and
  *              exactly-once attrition must hold across it.
  *   `above`  — period = 0.6 × the same wall. Expect: graceful backlog
  *              growth (queueing, not failure), per-batch wall still
  *              flat, and a full drain once arrivals stop.
  *
  * Conservation invariant checked at the end of each scenario: the
  * attrition ledger's intake row accounts EVERY delivered document
  * exactly once — `sum(docs_in at the first stage) == rows delivered`
  * — across micro-batches, the stop/reconcile/restart, and redelivery.
  *
  * Slices cycle the sf corpus with fresh file names once the pool is
  * exhausted; recycled docs are exact-dup-dropped by the ledger probe
  * (the recrawl shape), which is the right cost model — the stage
  * chain still pays full probe cost per arrival.
  */
object StreamSoak {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val soakSec = sys.env.getOrElse("SPARK_GRAFT_SOAK_SEC", "300").toInt
    val sliceRows = sys.env.getOrElse("SPARK_GRAFT_SOAK_SLICE", "5000").toLong
    val spark = Harness.session("graft-stream-soak", 32)
    val progress = Harness.streamProgress(spark)

    val pid = ProcessHandle.current().pid()
    val work = s"${GraftConf.scratchDir(spark)}/graft_soak_p$pid"
    val fs = new org.apache.hadoop.fs.Path(work)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(work), true)

    // ---- slice pool: single-file slices of `sliceRows` docs ----------
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
              col("n_chars"))
    val totalRows = docs.count()
    val nPool = math.max(2, (totalRows / sliceRows).toInt)
    val poolDir = s"$work/pool"
    val pool = Harness.writeSlices(docs, nPool, poolDir)
    val poolRows = pool.map(spark.read.parquet(_).count())
    val bench = docs.filter(col("doc_id") % 50 === 0).localCheckpoint(true)

    // ---- calibration: per-slice batch wall via a 3-slice catch-up ----
    val calRoot = s"$work/cal_root"
    val calSrc = s"$work/cal_src"
    new java.io.File(calSrc).mkdirs()
    val calN = math.min(3, nPool) // pool may hold only 2 slices at small sf
    for (i <- 0 until calN)
      Files.copy(Paths.get(pool(i)), Paths.get(s"$calSrc/documents_$i.parquet"))
    progress.clear()
    PipelineStream.runOnce(spark, calSrc, bench, calRoot,
                           name = "graft_soak_cal",
                           maxFilesPerTrigger = Some(1)).collect()
    val calMs = progress.snapshot().filter(_.rows > 0).map(_.ms)
    require(calMs.nonEmpty, "calibration produced no row-carrying batches")
    // Calibrate on the WARM batches only: the first batch ever pays
    // JIT + empty-ledger bootstrap and overestimates the steady cost
    // badly (measured 55 s bootstrap vs 5.5 s steady p50 on the same
    // corpus) — a period derived from it makes the "above" scenario
    // never actually exceed capacity. Max of the warm batches is the
    // steady per-slice wall with the ledger-probe cost included.
    val warm = calMs.drop(1)
    val wSec = (if (warm.nonEmpty) warm.max else calMs.max) / 1000.0
    println(f"[soak] calibrated per-slice batch wall: $wSec%.1f s " +
            f"(slices of ~$sliceRows rows)")
    fs.delete(new org.apache.hadoop.fs.Path(calRoot), true)
    fs.delete(new org.apache.hadoop.fs.Path(calSrc), true)

    def dirBytes(p: String): Long = {
      val path = new org.apache.hadoop.fs.Path(p)
      if (fs.exists(path)) fs.getContentSummary(path).getLength else 0L
    }

    case class Scenario(name: String, periodSec: Double, reconcileAt: Int)
    val scenarios = Seq(
      Scenario("below", 1.4 * wSec, soakSec / 2),
      Scenario("above", 0.6 * wSec, -1))

    val results = scala.collection.mutable.LinkedHashMap[String, String]()
    for (sc <- scenarios) {
      val root = s"$work/${sc.name}_root"
      val src = s"$work/${sc.name}_src"
      new java.io.File(src).mkdirs()
      progress.clear()

      // Arrival thread: one slice per period; pausable for reconcile.
      // pausedAck is the handshake: the main thread must not snapshot
      // `delivered` until the writer has SEEN the pause — otherwise a
      // copy completing between pause and snapshot lands a file that is
      // in the reconcile input but not in the snapshot, and its
      // checkpoint redelivery double-accounts it.
      @volatile var paused = false
      @volatile var pausedAck = false
      @volatile var stopArrivals = false
      @volatile var delivered = 0L        // rows landed in src
      @volatile var deliveredFiles = 0
      val writer = new Thread(() => {
        var j = 0
        while (!stopArrivals) {
          if (!paused) {
            Files.copy(Paths.get(pool(j % nPool)),
                       Paths.get(s"$src/documents_arr_$j.parquet"),
                       StandardCopyOption.REPLACE_EXISTING)
            delivered += poolRows(j % nPool)
            deliveredFiles += 1
            j += 1
          } else pausedAck = true
          val sleepMs = (sc.periodSec * 1000).toLong
          val t0 = System.nanoTime()
          while (!stopArrivals && (System.nanoTime() - t0) / 1e6 < sleepMs)
            Thread.sleep(50)
        }
      }, s"soak-writer-${sc.name}")
      writer.setDaemon(true)

      def processedRows: Long = progress.snapshot().map(_.rows).sum
      def processedBatches: Int = progress.snapshot().count(_.rows > 0)

      var q = PipelineStream.startQuery(spark, src, bench, root,
        name = s"graft_soak_${sc.name}", maxFilesPerTrigger = Some(1),
        trigger = Trigger.ProcessingTime("2 seconds"))
      writer.start()
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9

      val backlogSamples = scala.collection.mutable.ArrayBuffer[Int]()
      val ledgerSamples = scala.collection.mutable.ArrayBuffer[Long]()
      var reconcileWall = -1.0
      var reconciled = false
      while (elapsed < soakSec) {
        Thread.sleep(5000)
        backlogSamples += (deliveredFiles - processedBatches).max(0)
        ledgerSamples += dirBytes(root)
        if (!reconciled && sc.reconcileAt > 0 && elapsed >= sc.reconcileAt) {
          // Reconcile under load: pause arrivals (single-writer
          // contract — reconcile owns the root), quiesce at a
          // no-pending boundary, swap, restart from the carried
          // checkpoint, resume arrivals. The measured pause is the
          // nightly-reconcile intake gap a deployment budgets for.
          val rt0 = System.nanoTime()
          paused = true
          while (!pausedAck && writer.isAlive) Thread.sleep(50)
          val snapshot = delivered
          while (processedRows < snapshot) Thread.sleep(500)
          q.stop(); q.awaitTermination()
          PipelineStream.reconcile(
            spark.read.schema(graft.streaming.CorpusStream.docsSchema)
              .parquet(src), bench, root)
          q = PipelineStream.startQuery(spark, src, bench, root,
            name = s"graft_soak_${sc.name}", maxFilesPerTrigger = Some(1),
            trigger = Trigger.ProcessingTime("2 seconds"))
          paused = false
          reconcileWall = (System.nanoTime() - rt0) / 1e9
          reconciled = true
          println(f"[soak] reconcile-under-load pause: $reconcileWall%.1f s")
        }
      }
      stopArrivals = true
      writer.join(10000)
      // Drain: every delivered row must be processed (above-capacity
      // backlog clears once arrivals stop — queueing, not loss).
      val drainT0 = System.nanoTime()
      while (processedRows < delivered &&
             (System.nanoTime() - drainT0) / 1e9 < 600) Thread.sleep(2000)
      val drainSec = (System.nanoTime() - drainT0) / 1e9
      q.stop(); q.awaitTermination()

      // Conservation: the attrition intake row accounts every delivered
      // doc exactly once, across batches + reconcile + restart.
      val attr = PipelineStream.attritionView(spark, root).collect()
      val firstStage = attr.map(_.getString(0)).min
      val intakeDocs = Ledger.read(spark, s"$root/attrition", PipelineStream.attritionSchema)
        .filter(col("stage") === firstStage)
        .agg(coalesce(sum(col("docs_in")), lit(0L))).head().getLong(0)
      val conserved = intakeDocs == delivered
      val ps = progress.snapshot().filter(_.rows > 0)
      val walls = ps.map(_.ms).sorted
      def pct(q: Double) =
        if (walls.isEmpty) -1L
        else walls(math.min(walls.size - 1, (q * walls.size).toInt))
      // Latency drift: mean of the last 3 batch walls over the first 3 —
      // flat (≈1×) means ledger growth does not degrade batch cost.
      val drift =
        if (ps.size >= 6)
          ps.takeRight(3).map(_.ms).sum.toDouble / ps.take(3).map(_.ms).sum
        else -1.0
      val admitted = dirBytes(s"$root/docs")
      results(sc.name) =
        f"""{"period_sec":${sc.periodSec}%.1f,"slices_delivered":$deliveredFiles,""" +
        f""""rows_delivered":$delivered,"rows_processed":$processedRows,""" +
        f""""batches":${ps.size},"batch_ms_p50":${pct(0.5)},"batch_ms_max":${walls.lastOption.getOrElse(-1L)},""" +
        f""""latency_drift_last3_over_first3":$drift%.2f,""" +
        f""""backlog_max_files":${if (backlogSamples.isEmpty) -1 else backlogSamples.max},""" +
        f""""backlog_final_files":${backlogSamples.lastOption.getOrElse(-1)},""" +
        f""""drain_sec":$drainSec%.1f,"ledger_bytes_final":${ledgerSamples.lastOption.getOrElse(-1L)},""" +
        f""""docs_ledger_bytes":$admitted,""" +
        f""""reconcile_pause_sec":$reconcileWall%.1f,"conserved":$conserved}"""
      println(s"[soak] ${sc.name}: ${results(sc.name)}")
      if (!conserved) {
        System.err.println(s"[soak] CONSERVATION VIOLATED in ${sc.name}: " +
          s"intake=$intakeDocs delivered=$delivered")
        fs.delete(new org.apache.hadoop.fs.Path(work), true)
        spark.stop(); sys.exit(1)
      }
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      fs.delete(new org.apache.hadoop.fs.Path(src), true)
    }

    val soakJson =
      f"""{"surface":"pipeline","soak_sec":$soakSec,"slice_rows":$sliceRows,""" +
      f""""calibrated_batch_sec":$wSec%.1f,"scenarios":{""" +
      results.map { case (k, v) => s""""$k":$v""" }.mkString(",") + "}}"
    // Merge as the LAST field of STREAMBENCH.json (idempotent: any
    // previous soak section is replaced).
    val sbPath = Paths.get("STREAMBENCH.json")
    val sb = new String(Files.readAllBytes(sbPath)).trim
    val cut = sb.indexOf(",\"soak\":")
    val base = if (cut >= 0) sb.substring(0, cut) + "}" else sb
    require(base.endsWith("}"), "STREAMBENCH.json must be one JSON object")
    Files.writeString(sbPath,
      base.dropRight(1) + ",\"soak\":" + soakJson + "}\n")
    println(s"""{"metric":"stream_soak","scenarios":${results.size},"ok":true}""")
    fs.delete(new org.apache.hadoop.fs.Path(work), true)
    spark.stop()
  }
}
