package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** Dev CLI: plans and profiles of registered queries.
  *
  *   runMain graft.Probe audit [sfDir]
  *   runMain graft.Probe plan q1,q2 [sfDir] [--dump DIR]
  *   runMain graft.Probe profile q1,q2 [sfDir]
  *
  * `audit` prints one row per registry query — shuffle exchanges,
  * single-partition exchanges, broadcasts, whole-stage-codegen spans and
  * the columns each parquet scan reads — the table in docs/PLANS.md.
  * `plan` prints `explain("formatted")` of each query, or writes it to
  * `DIR/<query>.txt`. Both run in audit mode (`-Dgraft.plan.audit=1`):
  * checkpointTail is the identity, so the plan is the query's real
  * pre-checkpoint shape rather than one scan of checkpointed blocks, and
  * building the frame executes nothing.
  * `profile` runs each query twice and reports, per run, the job count,
  * job-covered wall and dead air between jobs, and each stage's wall,
  * executor run and CPU, input and shuffle bytes; read the second run
  * (post-JIT, post-file-index).
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
    try mode match {
      case "audit" => audit(spark, sfDir)
      case "plan" => plan(spark, names, sfDir, dump)
      case _ => Harness.warm(spark, sfDir); profile(spark, names, sfDir)
    } finally spark.stop()
  }

  private def usage(): Nothing = { System.err.println(Usage); sys.exit(2) }

  private def auditMode[A](body: => A): A = {
    val before = System.setProperty("graft.plan.audit", "1")
    try body
    finally Option(before).fold(System.clearProperty("graft.plan.audit"))(
      System.setProperty("graft.plan.audit", _))
  }

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  /** Print one audit row per registry query, in name order. */
  def audit(spark: SparkSession, sfDir: String): Unit = auditMode {
    println("| query | shuffles | 1-part exch | broadcasts | codegen spans | scans (pruned cols) |")
    println("|---|---|---|---|---|---|")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        df.collect() // execute THIS plan so AQE finalizes it
        // AQE's toString appends an "== Initial Plan ==" section that
        // would double-count every node — audit the final plan only.
        val executed = df.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head
        val lines = executed.linesIterator.toSeq
        val shuffles = lines.count(l => l.contains("Exchange hashpartitioning") ||
                                        l.contains("Exchange rangepartitioning"))
        // The corpus-cardinality anti-pattern detector: an Exchange
        // SinglePartition funnels EVERY row to one task (constant-group
        // windows, un-limited global sorts). Bounded inputs excuse it
        // (≤K-row tails); a nonzero count on a corpus-sized input is a
        // scale bug. TakeOrderedAndProject does NOT show up here — that
        // is the point of cutting top-K via orderBy().limit().
        val singles = lines.count(_.contains("Exchange SinglePartition"))
        val bcasts = lines.count(_.contains("BroadcastExchange"))
        // whole-stage-codegen spans show as `*(n)` prefixes in the tree
        val codegen = "\\*\\((\\d+)\\)".r.findAllMatchIn(executed)
          .map(_.group(1)).toSet.size
        val scanCols = formatted(df).linesIterator
          .filter(_.trim.startsWith("ReadSchema:"))
          .map(l => l.count(_ == ':') - 1) // fields in struct<a:t,b:t,...>
          .toSeq
        println(s"| $name | $shuffles | $singles | $bcasts | $codegen | " +
                s"${scanCols.length} (${scanCols.mkString("/")}) |")
      } catch {
        case e: Throwable =>
          println(s"| $name | ERROR ${String.valueOf(e.getMessage).take(60)} |")
      }
      PlanMode.sweep(spark)
    }
  }

  /** Print each query's formatted plan, or write it to `dump/<query>.txt`. */
  def plan(spark: SparkSession, names: Seq[String], sfDir: String,
           dump: Option[String]): Unit = auditMode {
    dump.foreach(d => Files.createDirectories(Paths.get(d)))
    for (q <- names) {
      val text = formatted(SparkEntry.queries(q)(spark, sfDir))
      dump match {
        case Some(d) =>
          Files.writeString(Paths.get(d, s"$q.txt"), text)
          println(s"[probe] wrote ${Paths.get(d, s"$q.txt")}")
        case None => println(s"===== $q =====\n$text")
      }
      PlanMode.sweep(spark)
    }
  }

  /** One profiled run of a query. */
  case class Run(name: String, run: Int, wallSec: Double, m: Harness.Snapshot) {
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
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
      val r = Run(name, run, (System.nanoTime() - t0) / 1e9, metrics.snapshot())
      PlanMode.sweep(spark)
      val ss = r.m.stages.sortBy(-_.runMs)
      println(f"%n=== $name run$run wall=${r.wallSec}%.2f s ===")
      println(f"  jobs=${r.jobs} coveredByJobs=${r.coveredSec}%.2f s " +
        f"deadAir=${r.wallSec - r.coveredSec}%.2f s " +
        f"sumRun=${ss.map(_.runMs).sum / 1000.0}%.2f s " +
        f"sumCpu=${ss.map(_.cpuMs).sum / 1000.0}%.2f s stages=${ss.size}")
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
