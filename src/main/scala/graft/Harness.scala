package graft

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import org.apache.commons.io.FileUtils
import org.apache.spark.SparkContext
import org.apache.spark.graftshim.BusShim
import org.apache.spark.launcher.JavaModuleOptions
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit, pmod}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Plumbing shared by graft's mains (Verify, Bench and the dev tools):
  * one session builder, one task-metrics listener, one stream-progress
  * listener, one warm-up and one crawl-slice writer. Query builders
  * never use it.
  */
object Harness {
  /** `SPARK_GRAFT_CPUS` when set, else `default`. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").filter(_.nonEmpty).fold(default)(_.toInt)

  /** The mains' session: `local[cpus]` unless `master` is given, as many
    * shuffle partitions as cpus, UTC session time, no UI, log level WARN.
    * A `local-cluster[...]` master runs real executor JVMs; they get the
    * driver's classpath (same machine by definition), the
    * `SPARK_GRAFT_EXEC_MEM` heap, and the JDK module opens the driver
    * gets from build.sbt (spark-submit would inject those). `conf` adds
    * settings that must be in place when the session is created.
    */
  def session(app: String, defaultCpus: Int, master: Option[String] = None,
              conf: Seq[(String, String)] = Nil): SparkSession = {
    val n = cpus(defaultCpus)
    val m = master.getOrElse(s"local[$n]")
    val b = SparkSession.builder().master(m).appName(app)
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (m.startsWith("local-cluster"))
      b.config("spark.executor.extraClassPath", sys.props("java.class.path"))
        .config("spark.executor.memory",
                sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM", "4g"))
        .config("spark.executor.extraJavaOptions",
                JavaModuleOptions.defaultModuleOptions())
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def mb(bytes: Long): Double = bytes / 1048576.0

  /** One completed stage, as the profiler reports it. */
  case class Stage(id: Int, name: String, wallMs: Long, runMs: Long,
                   cpuMs: Long, tasks: Int, shuffleReadBytes: Long,
                   shuffleWriteBytes: Long, inputBytes: Long)

  /** What the tasks and jobs since the last reset did. `jobSpans` are
    * (start, end) epoch ms of each finished job.
    */
  case class Snapshot(shuffleReadBytes: Long, shuffleWriteBytes: Long,
                      cpuNs: Long, spillBytes: Long, inputBytes: Long,
                      jobSpans: Vector[(Long, Long)], stages: Vector[Stage])

  /** Register a fresh [[Metrics]] on the session's context. */
  def metrics(spark: SparkSession): Metrics = {
    val m = new Metrics(spark.sparkContext)
    spark.sparkContext.addSparkListener(m)
    m
  }

  /** Task metrics summed over every task end: shuffle bytes (the
    * scale-decision currency: on a cluster network bytes dominate long
    * before local CPU does), executor CPU (the load-immune sibling of
    * wall time), spill (a memory-starved operator should degrade here
    * rather than OOM) and input bytes; plus job spans and per-stage
    * records for the profiler. Listener events arrive asynchronously, so
    * `snapshot` and `reset` first drain the listener bus: a reading never
    * misses a task of the measured run, and a reset never lets a late
    * task of the previous run leak into the next.
    */
  final class Metrics private[Harness] (sc: SparkContext) extends SparkListener {
    private var shuffleRead, shuffleWrite, cpuNs, spill, input = 0L
    private val jobStarts = mutable.Map[Int, Long]()
    private val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
    private val stages = mutable.ArrayBuffer[Stage]()

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) synchronized {
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        cpuNs += m.executorCpuTime
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        input += m.inputMetrics.bytesRead
      }
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val i = s.stageInfo
      val m = i.taskMetrics
      synchronized {
        stages += Stage(i.stageId, i.name.takeWhile(_ != '\n'),
          i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L),
          m.executorRunTime, m.executorCpuTime / 1000000, i.numTasks,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead)
      }
    }
    override def onJobStart(j: SparkListenerJobStart): Unit =
      synchronized(jobStarts(j.jobId) = j.time)
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      synchronized(jobStarts.remove(j.jobId).foreach(s => jobSpans += ((s, j.time))))

    def snapshot(): Snapshot = {
      BusShim.drain(sc)
      synchronized(Snapshot(shuffleRead, shuffleWrite, cpuNs, spill, input,
                            jobSpans.toVector, stages.toVector))
    }
    def reset(): Unit = {
      BusShim.drain(sc)
      synchronized {
        shuffleRead = 0L; shuffleWrite = 0L; cpuNs = 0L; spill = 0L; input = 0L
        jobStarts.clear(); jobSpans.clear(); stages.clear()
      }
    }
  }

  /** One streaming micro-batch: the query's name, its batch id, input
    * rows, the engine's own triggerExecution ms, and when the progress
    * event arrived (System.nanoTime).
    */
  case class Progress(name: String, batchId: Long, rows: Long, ms: Long,
                      arrivedNs: Long)

  /** Register a fresh [[StreamProgress]] on the session. */
  def streamProgress(spark: SparkSession): StreamProgress = {
    val p = new StreamProgress(spark.sparkContext)
    spark.streams.addListener(p)
    p
  }

  /** Every micro-batch progress event of the session's streaming queries.
    * The events ride the shared listener bus, so reads drain it first.
    */
  final class StreamProgress private[Harness] (sc: SparkContext)
      extends StreamingQueryListener {
    private val seen = mutable.ArrayBuffer[Progress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ms = Option(p.durationMs.get("triggerExecution")).fold(-1L)(_.longValue)
      synchronized(seen += Progress(p.name, p.batchId, p.numInputRows, ms, System.nanoTime()))
    }
    def snapshot(): Vector[Progress] = { BusShim.drain(sc); synchronized(seen.toVector) }
    def clear(): Unit = { BusShim.drain(sc); synchronized(seen.clear()) }
  }

  /** Warm the JVM, codegen and file-index paths so start-up cost is not
    * charged to whichever query runs first: touch every table's file
    * index and footer, and run one shuffle and one broadcast-join shape.
    * Each step is guarded on its own: a bad table must neither crash the
    * caller before it reports anything nor cost the other tables their
    * warm-up (one shared try once skipped the join warm-up and inflated
    * every alphabetically early query 5-11×).
    */
  def warm(spark: SparkSession, sfDir: String): Unit = {
    def step(what: String)(body: => Unit): Unit =
      try body catch { case e: Throwable =>
        System.err.println(s"[harness] warmup $what failed: ${e.getMessage}") }
    spark.range(1000000L).selectExpr("sum(id)").collect()
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "documents", "embeddings"))
      step(t)(spark.read.parquet(s"$sfDir/$t.parquet").count())
    step("events")(Tables.events(spark, sfDir).count())
    step("join-shape") {
      val a = spark.range(100000L).selectExpr("id", "id % 100 AS k")
      val b = spark.range(100L).selectExpr("id AS k", "id * 2 AS v")
      a.join(broadcast(b), "k").groupBy("k").count().count()
    }
  }

  /** Split `docs` into `n` crawl slices by `pmod(doc_id, n)` and write
    * slice i as the single file `dir/documents_i.parquet` (a file
    * source with maxFilesPerTrigger=1 then reads one slice per
    * micro-batch). Returns the slice paths in order.
    */
  def writeSlices(docs: DataFrame, n: Int, dir: String): Seq[String] = {
    new File(dir).mkdirs()
    (0 until n).map { i =>
      // `_`-prefixed: file sources skip it while it exists.
      val tmp = new File(dir, s"_slice_$i")
      docs.filter(pmod(col("doc_id"), lit(n)) === i)
        .coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no parquet part written for slice $i"))
      val dst = new File(dir, s"documents_$i.parquet")
      Files.move(part.toPath, dst.toPath)
      FileUtils.deleteDirectory(tmp)
      dst.getPath
    }
  }
}
