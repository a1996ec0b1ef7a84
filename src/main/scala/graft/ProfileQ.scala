// dev probe — not part of the library: per-stage decomposition of any
// registered query.
package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Run named queries (args) with a stage-level listener and print, for
  * each, every stage's wall / executor-run / cpu / shuffle bytes plus
  * the inter-job idle gaps — the "where does the wall actually go"
  * breakdown the bench's single total can't give. Usage:
  *   runMain graft.ProfileQ <sfDir> q_a q_b ...
  * Two runs per query; the second (post-JIT, post-file-index) is the
  * one to read.
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("sum(id)").collect()
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "documents", "embeddings"))
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => }

    case class St(id: Int, name: String, wallMs: Long, runMs: Long,
                  cpuMs: Long, tasks: Int, shufReadMb: Double,
                  shufWriteMb: Double, inputMb: Double)
    val stages = ArrayBuffer[St]()
    val jobSpans = ArrayBuffer[(Long, Long)]() // (start, end) ms
    var jobStartTmp = Map[Int, Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        val m = i.taskMetrics
        stages.synchronized {
          stages += St(i.stageId, i.name.takeWhile(_ != '\n'),
            i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L),
            m.executorRunTime, m.executorCpuTime / 1000000,
            i.numTasks,
            m.shuffleReadMetrics.totalBytesRead / 1048576.0,
            m.shuffleWriteMetrics.bytesWritten / 1048576.0,
            m.inputMetrics.bytesRead / 1048576.0)
        }
      }
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobSpans.synchronized { jobStartTmp += (j.jobId -> j.time) }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        jobSpans.synchronized {
          jobStartTmp.get(j.jobId).foreach(s => jobSpans += ((s, j.time)))
        }
    })

    for (name <- names) {
      val fn = SparkEntry.queries(name)
      for (run <- 1 to 2) {
        stages.synchronized(stages.clear())
        jobSpans.synchronized { jobSpans.clear(); jobStartTmp = Map() }
        val t0 = System.nanoTime()
        fn(spark, sfDir).queryExecution.toRdd.count()
        val wall = (System.nanoTime() - t0) / 1e9
        // let straggler listener events drain
        Thread.sleep(300)
        println(f"%n=== $name run$run wall=$wall%.2f s ===")
        val ss = stages.synchronized(stages.sortBy(-_.runMs))
        val totRun = ss.map(_.runMs).sum / 1000.0
        val totCpu = ss.map(_.cpuMs).sum / 1000.0
        val spans = jobSpans.synchronized(jobSpans.sortBy(_._1).toVector)
        // wall covered by at least one running job vs dead air
        var covered = 0L; var cursor = 0L
        for ((s, e) <- spans) {
          val s2 = math.max(s, cursor)
          if (e > s2) { covered += e - s2; cursor = e }
          else cursor = math.max(cursor, e)
        }
        val jobWall = if (spans.nonEmpty) (spans.map(_._2).max - spans.map(_._1).min) / 1000.0 else 0.0
        println(f"  jobs=${spans.size} jobSpanWall=$jobWall%.2f s coveredByJobs=${covered / 1000.0}%.2f s sumRun=$totRun%.2f s sumCpu=$totCpu%.2f s stages=${ss.size}")
        for (st <- ss.take(18))
          println(f"  stage ${st.id}%4d ${st.wallMs / 1000.0}%6.2fs run=${st.runMs / 1000.0}%7.2fs cpu=${st.cpuMs / 1000.0}%7.2fs tasks=${st.tasks}%3d in=${st.inputMb}%7.1fMB sr=${st.shufReadMb}%6.1fMB sw=${st.shufWriteMb}%6.1fMB  ${st.name.take(60)}")
        if (ss.size > 18) println(s"  ... ${ss.size - 18} more stages")
        org.apache.spark.graftshim.BusShim.drain(spark.sparkContext)
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        System.gc()
      }
    }
    spark.stop()
  }
}
