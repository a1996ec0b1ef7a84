package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.graftshim.BusShim
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev CLI: plans and profiles of registered queries.
  *
  *   runMain graft.Probe audit [sfDir]
  *   runMain graft.Probe plan q1,q2 [sfDir] [--dump DIR]
  *   runMain graft.Probe profile q1,q2 [sfDir]
  *
  * `audit` and `plan` read the SQL executions a query actually runs:
  * the frame is built and consumed with `collect()`, and every execution
  * that fires on the way is recorded in order — the checkpoints and
  * driver collects fired while the frame is built, then the final
  * collect. Each execution's plan is the AQE-final one it ran.
  *
  * `audit` prints one row per registry query — the number of executions,
  * the number of Spark jobs (RDD-API actions such as the codebook
  * trainers' Lloyd steps included, which are no SQL execution) and,
  * summed over the executions, shuffle exchanges, single-partition exchanges,
  * broadcasts, operators fused into whole-stage codegen and the columns
  * each parquet scan reads — the table in docs/PLANS.md. It exits 1 if
  * any row is an ERROR. `plan` prints `explain("formatted")` of each
  * execution, headed by its action name, or writes them to
  * `DIR/<query>.txt`.
  * `profile` runs each query twice and reports, per run, the job count,
  * job-covered wall and dead air between jobs, the generated classes
  * compiled (codegen cache misses), and each stage's wall,
  * executor run and CPU, input and shuffle bytes; read the second run
  * (post-JIT, post-file-index). Jobs, compiles and wall are also split
  * into what fired while the frame was built (eager checkpoints, driver
  * collects) and what fired while it was consumed.
  *
  * sfDir defaults to `SPARK_GRAFT_SF_DIR`.
  */
object Probe {
  private val Usage = "usage: graft.Probe audit [sfDir] | " +
    "plan q1,q2 [sfDir] [--dump DIR] | profile q1,q2 [sfDir]"

  def main(args: Array[String]): Unit = {
    val dumpAt = args.indexOf("--dump")
    val dump = if (dumpAt < 0) None else Some(args.lift(dumpAt + 1).getOrElse(usage()))
    val pos = if (dumpAt < 0) args.toSeq else args.toSeq.patch(dumpAt, Nil, 2)
    val mode = pos.headOption.filter(Set("audit", "plan", "profile")).getOrElse(usage())
    val at = if (mode == "audit") 1 else 2
    val sfDir = pos.lift(at).orElse(sys.env.get("SPARK_GRAFT_SF_DIR")).getOrElse(usage())
    val names = if (mode == "audit") Nil else pos.lift(1).getOrElse(usage()).split(",").toSeq
    val spark = Harness.session("graft-probe", 8)
    val ok = try mode match {
      case "audit" => audit(spark, sfDir)
      case "plan" => plan(spark, names, sfDir, dump); true
      case _ => Harness.warm(spark, sfDir); profile(spark, names, sfDir); true
    } finally spark.stop()
    if (!ok) sys.exit(1)
  }

  private def usage(): Nothing = { System.err.println(Usage); sys.exit(2) }

  /** What one query ran: every SQL execution (action name,
    * QueryExecution) in order, and the number of Spark jobs.
    */
  private[graft] final case class Recorded(execs: Seq[(String, QueryExecution)], jobs: Int)

  /** Build query `name`'s frame, `collect()` it and record what ran on
    * the way: every SQL execution, as one QueryExecutionListener on the
    * session saw them, and every job, as a [[Harness.Metrics]] listener
    * on the context saw them (a job run through the RDD API is no SQL
    * execution). Sweeps the session's storage after.
    */
  private[graft] def executions(spark: SparkSession, name: String,
                                sfDir: String): Recorded = {
    val sc = spark.sparkContext
    BusShim.drain(sc) // no earlier query's executions reach the recorder
    val seen = mutable.ArrayBuffer[(String, QueryExecution)]()
    val recorder = new QueryExecutionListener {
      def onSuccess(action: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.synchronized(seen += action -> qe)
      def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(recorder)
    val metrics = Harness.metrics(spark)
    try {
      SparkEntry.queries(name)(spark, sfDir).collect()
      val jobs = metrics.snapshot().jobSpans.size // drains the bus
      Recorded(seen.synchronized(seen.toVector), jobs)
    } finally {
      spark.listenerManager.unregister(recorder)
      sc.removeSparkListener(metrics)
      PlanMode.sweep(spark)
    }
  }

  /** One audit row: a query's plan shape summed over its executions. */
  final case class AuditRow(query: String, actions: Seq[String], jobs: Int,
                            shuffles: Int, singles: Int, broadcasts: Int,
                            codegen: Int, scans: Seq[Int]) {
    def line: String =
      s"| $query | ${actions.size} | $jobs | $shuffles | $singles | $broadcasts | $codegen | " +
        s"${scans.length} (${scans.mkString("/")}) |"
  }

  /** Run query `name` and sum the plan shape of every execution it ran. */
  def auditRow(spark: SparkSession, name: String, sfDir: String): AuditRow = {
    val Recorded(execs, jobs) = executions(spark, name, sfDir)
    // AQE's toString appends an "== Initial Plan ==" section that would
    // double-count every node — audit the final plans only.
    val lines = execs.flatMap(
      _._2.executedPlan.toString.split("== Initial Plan ==").head.linesIterator)
    AuditRow(name, execs.map(_._1), jobs,
      shuffles = lines.count(l => l.contains("Exchange hashpartitioning") ||
                                  l.contains("Exchange rangepartitioning")),
      // The corpus-cardinality anti-pattern detector: an Exchange
      // SinglePartition funnels EVERY row to one task (constant-group
      // windows, un-limited global sorts). Bounded inputs excuse it
      // (≤K-row tails); a nonzero count on a corpus-sized input is a
      // scale bug. TakeOrderedAndProject does NOT show up here — that
      // is the point of cutting top-K via orderBy().limit().
      singles = lines.count(_.contains("Exchange SinglePartition")),
      broadcasts = lines.count(_.contains("BroadcastExchange")),
      // Operators fused into whole-stage codegen: the `*(n)`-prefixed
      // nodes. Not the spans: when both join sides are small, AQE
      // broadcasts whichever shuffle stage finishes first, and the build
      // side decides whether the other side's operators fuse into the
      // join's span — the span count moves with stage timing, the fused
      // operators do not.
      codegen = lines.count(_.dropWhile(" :+-".contains(_)).startsWith("*(")),
      scans = execs.flatMap(e => FinalPlan.scans(e._2.executedPlan)))
  }

  private object FinalPlan extends AdaptiveSparkPlanHelper {
    /** Columns read by each parquet scan of a final plan, cached
      * relations' plans included. Not the ReadSchema lines of the
      * formatted explain: it also details the AQE initial plan's scan
      * nodes, which never ran.
      */
    def scans(plan: SparkPlan): Seq[Int] = collectWithSubqueries(plan) {
      case scan: FileSourceScanExec => Seq(scan.requiredSchema.length)
      case cached: InMemoryTableScanExec => scans(cached.relation.cachedPlan)
    }.flatten
  }

  /** Print one audit row per registry query, in name order; false if
    * any query failed (its row reads ERROR).
    */
  def audit(spark: SparkSession, sfDir: String): Boolean = {
    println("| query | executions | jobs | shuffles | 1-part exch | broadcasts | codegen ops | scans (pruned cols) |")
    println("|---|---|---|---|---|---|---|---|")
    SparkEntry.queries.keys.toSeq.sorted.map { name =>
      try { println(auditRow(spark, name, sfDir).line); true }
      catch {
        case NonFatal(e) =>
          println(s"| $name | ERROR ${String.valueOf(e.getMessage).take(60)} |")
          false
      }
    }.forall(identity)
  }

  /** Print the formatted plan of each execution of each query, headed by
    * its action name, or write them to `dump/<query>.txt`. Returns each
    * query's recorded action names.
    */
  def plan(spark: SparkSession, names: Seq[String], sfDir: String,
           dump: Option[String]): Seq[(String, Seq[String])] = {
    dump.foreach(d => Files.createDirectories(Paths.get(d)))
    for (q <- names) yield {
      val execs = executions(spark, q, sfDir).execs
      val text = execs.zipWithIndex.map { case ((action, qe), i) =>
        s"===== execution ${i + 1}/${execs.size}: $action =====\n" +
          qe.explainString(FormattedMode)
      }.mkString("\n")
      dump match {
        case Some(d) =>
          Files.writeString(Paths.get(d, s"$q.txt"), text)
          println(s"[probe] wrote ${Paths.get(d, s"$q.txt")}")
        case None => println(s"===== $q =====\n$text")
      }
      q -> execs.map(_._1)
    }
  }

  /** One profiled run of a query; `compiles` counts the generated
    * classes Janino compiled during it. The `built` fields cover the
    * construction of the frame only, the rest of the run consumed it.
    */
  case class Run(name: String, run: Int, wallSec: Double, m: Harness.Snapshot,
                 compiles: Long, builtSec: Double, builtJobs: Int,
                 builtCompiles: Long) {
    def jobs: Int = m.jobSpans.size
    /** Wall covered by at least one running job. */
    def coveredSec: Double = {
      var covered = 0L; var cursor = 0L
      for ((s, e) <- m.jobSpans.sortBy(_._1)) {
        val s2 = math.max(s, cursor)
        if (e > s2) { covered += e - s2; cursor = e }
        else cursor = math.max(cursor, e)
      }
      covered / 1000.0
    }
  }

  /** Run each query twice with a stage-level listener and print where
    * the wall went; returns the runs.
    */
  def profile(spark: SparkSession, names: Seq[String], sfDir: String): Seq[Run] = {
    val metrics = Harness.metrics(spark)
    try for (name <- names; run <- 1 to 2) yield {
      metrics.reset()
      def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compiles0 = compiled
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val built = metrics.snapshot()
      val builtCompiles = compiled - compiles0
      val builtSec = (System.nanoTime() - t0) / 1e9
      df.queryExecution.toRdd.count()
      val wall = (System.nanoTime() - t0) / 1e9
      val r = Run(name, run, wall, metrics.snapshot(), compiled - compiles0,
                  builtSec, built.jobSpans.size, builtCompiles)
      PlanMode.sweep(spark)
      val ss = r.m.stages.sortBy(-_.runMs)
      println(f"%n=== $name run$run wall=${r.wallSec}%.2f s ===")
      println(f"  jobs=${r.jobs} coveredByJobs=${r.coveredSec}%.2f s " +
        f"deadAir=${r.wallSec - r.coveredSec}%.2f s compiles=${r.compiles} " +
        f"sumRun=${ss.map(_.runMs).sum / 1000.0}%.2f s " +
        f"sumCpu=${ss.map(_.cpuMs).sum / 1000.0}%.2f s stages=${ss.size}")
      println(f"  construct: jobs=${r.builtJobs} compiles=${r.builtCompiles} " +
        f"wall=${r.builtSec}%.2f s | consume: jobs=${r.jobs - r.builtJobs} " +
        f"compiles=${r.compiles - r.builtCompiles} wall=${r.wallSec - r.builtSec}%.2f s")
      for (st <- ss.take(18))
        println(f"  stage ${st.id}%4d ${st.wallMs / 1000.0}%6.2fs run=${st.runMs / 1000.0}%7.2fs " +
          f"cpu=${st.cpuMs / 1000.0}%7.2fs tasks=${st.tasks}%3d " +
          f"in=${Harness.mb(st.inputBytes)}%7.1fMB sr=${Harness.mb(st.shuffleReadBytes)}%6.1fMB " +
          f"sw=${Harness.mb(st.shuffleWriteBytes)}%6.1fMB  ${st.name.take(60)}")
      if (ss.size > 18) println(s"  ... ${ss.size - 18} more stages")
      r
    } finally spark.sparkContext.removeSparkListener(metrics)
  }
}
