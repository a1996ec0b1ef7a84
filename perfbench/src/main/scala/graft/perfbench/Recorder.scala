package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The traced run's job/stage/task listener. Each job keeps its own
  * start/end time (epoch ms, the event's own timestamp), the task
  * metrics of its stages, and the harness phase that submitted it (the
  * `perfbench.phase` local property, "query|pass|phase"), which is how
  * `check.py` parents jobs to phases. */
final class Recorder extends SparkListener {
  private final class Job(val id: Int, val startMs: Long, val stageIds: Seq[Int],
                          val phase: String) {
    var endMs = -1L
    var tasks, failedTasks, cpuNs, runMs = 0L
    var shuffleRead, shuffleWrite, spill, input = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  private val stages = ArrayBuffer[Map[String, Any]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val j = new Job(e.jobId, e.time, e.stageIds,
      Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.PhaseKey))).getOrElse(""))
    jobs.put(e.jobId, j)
    e.stageIds.foreach(stageJob.put(_, j))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(j => j.synchronized(j.endMs = e.time))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val job = Option(stageJob.get(i.stageId)).map(_.id).getOrElse(-1)
    stages.synchronized {
      stages += Map("stage" -> i.stageId, "job" -> job, "tasks" -> i.numTasks,
                    "start_ms" -> i.submissionTime.getOrElse(-1L),
                    "end_ms" -> i.completionTime.getOrElse(-1L))
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.synchronized {
        j.tasks += 1
        if (e.reason != Success) j.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.runMs += m.executorRunTime
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.input += m.inputMetrics.bytesRead
        }
      }
    }

  def jobsOut: Seq[Map[String, Any]] = jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
    j.synchronized {
      Map("job" -> j.id, "phase" -> j.phase, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
          "stages" -> j.stageIds.size, "tasks" -> j.tasks,
          "failed_tasks" -> j.failedTasks, "cpu_ns" -> j.cpuNs, "run_ms" -> j.runMs,
          "shuffle_read_bytes" -> j.shuffleRead, "shuffle_write_bytes" -> j.shuffleWrite,
          "spill_bytes" -> j.spill, "input_bytes" -> j.input)
    }
  }
  def stagesOut: Seq[Map[String, Any]] = stages.synchronized(stages.toSeq)
}

/** Micro-batch progress of the benchmark's own streaming queries. */
final class StreamListener extends StreamingQueryListener {
  private val batches = ArrayBuffer[Map[String, Any]]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    batches.synchronized {
      batches += Map("name" -> p.name, "batch" -> p.batchId, "rows" -> p.numInputRows,
                     "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
                     "trigger_ms" -> ms("triggerExecution"), "add_batch_ms" -> ms("addBatch"))
    }
  }
  def of(name: String): Seq[Map[String, Any]] =
    batches.synchronized(batches.filter(_("name") == name).toSeq)
}

object Recorder {
  val PhaseKey = "perfbench.phase"
}
