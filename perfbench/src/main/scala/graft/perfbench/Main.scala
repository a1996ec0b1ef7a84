package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.graftshim.BusShim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange

import graft.{SparkEntry, Tables}

/** The benchmark's measuring process. It drives the program only through
  * its public functions (`SparkEntry.queries`, `Tables.read`,
  * `PipelineStream.runOnce` / `reconcile` / `attritionView`) and times
  * each call from outside; it writes raw samples as JSON for `run.py`,
  * which turns them into metrics and checks the outputs.
  *
  *   graft.perfbench.Main run --data DIR --work DIR --out FILE
  *       (--queries q1,q2,... | --partition relational|curation)
  *       --seed N --seconds S --trace 0|1
  *       [--stream-slices N --stream-batches K]
  *
  * Protocol: set up one session and resolve the inputs, then run one
  * untimed pass over the queries in name order: it warms up the JIT and
  * Spark's code generation, and its results are dumped for the oracle
  * check. Set-up is one interval, from JVM start to the end of that
  * pass. Then timed passes, each in a seed-permuted order, until
  * `--seconds` have elapsed (at least three, so that a per-query median
  * can set one slow pass aside). Every later result must equal the
  * first pass's. With `--trace 1` every second timed pass runs with the
  * benchmark's Spark listener attached, so the tracing overhead shows as
  * the difference; the stream segment, when asked for, follows.
  */
object Main {
  type Query = (SparkSession, String) => DataFrame

  /** Registry partition, by the module each query is built in. */
  def relational: Map[String, Query] =
    graft.jobs.CoreQueries.queries ++ graft.jobs.RecPipeline.queries ++
      graft.jobs.AnalyticsQueries.queries ++ graft.sources.KvTable.queries ++
      graft.ext.Sessions.queries ++ graft.ext.Layout.queries
  def curation: Map[String, Query] =
    graft.ext.Corpus.queries ++ graft.ext.Dedup.queries ++
      graft.ext.Similarity.queries ++ graft.ext.TextOps.queries ++
      graft.ext.Stats.queries ++ graft.ext.Pipeline.queries ++
      graft.ext.Multimodal.queries

  val Tables10 = Seq("region", "nation", "customer", "supplier", "part",
                     "orders", "lineitem", "events", "documents", "embeddings")

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Epoch microseconds from a monotonic clock (listener events carry
    * epoch milliseconds, so harness and Spark times share one axis). */
  object Clock {
    private val anchorNs = System.nanoTime()
    private val anchorUs = System.currentTimeMillis() * 1000L
    def us: Long = anchorUs + (System.nanoTime() - anchorNs) / 1000L
  }

  def main(argv: Array[String]): Unit = {
    val opts = argv.drop(1).grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    argv.headOption match {
      case Some("run") => run(opts)
      case _ =>
        System.err.println("usage: Main run --data DIR --work DIR --out FILE ...")
        sys.exit(2)
    }
  }

  private def run(o: Map[String, String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val bootS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val dataDir = o("data"); val work = o("work")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o.getOrElse("trace", "0") == "1"
    val names = o.get("partition") match {
      case Some("relational") => relational.keys.toSeq.sorted
      case Some("curation") => curation.keys.toSeq.sorted
      case Some(other) => sys.error(s"unknown partition $other")
      case None => o("queries").split(",").toSeq.filter(_.nonEmpty)
    }
    val streamSlices = o.getOrElse("stream-slices", "0").toInt
    val streamBatches = o.getOrElse("stream-batches", "0").toInt
    val cores = Runtime.getRuntime.availableProcessors()
    new File(work).mkdirs()

    val registry = SparkEntry.queries
    val out = scala.collection.mutable.LinkedHashMap[String, Any](
      "seed" -> seed, "cores" -> cores, "traced" -> traced,
      "jvm_boot_s" -> bootS,
      "registry" -> registry.keys.toSeq.sorted,
      "relational" -> relational.keys.toSeq.sorted,
      "curation" -> curation.keys.toSeq.sorted,
      "oracle_sql" -> names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
    val errors = ArrayBuffer[Map[String, Any]]()

    // ---- set-up: session + inputs
    val initS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - bootS
    val s0 = System.nanoTime()
    val spark = {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    Tables10.foreach { t =>
      if (t == "events") Tables.events(spark, dataDir).schema
      else Tables.read(spark, dataDir, t).schema
    }
    val sc = spark.sparkContext
    out("init_s") = initS
    out("session_inputs_s") = (System.nanoTime() - s0) / 1e9

    // ---- per-query measurement
    val recorder = new Recorder
    var recording = false
    val phases = ArrayBuffer[Map[String, Any]]()
    def phase(query: String, pass: Int, name: String, t0: Long, t1: Long): Unit =
      if (recording) phases += Map("query" -> query, "pass" -> pass,
                                   "phase" -> name, "start_us" -> t0, "end_us" -> t1)
    def enter(query: String, pass: Int, name: String): Unit =
      if (recording) sc.setLocalProperty(Recorder.PhaseKey, s"$query|$pass|$name")
    def leave(): Unit = sc.setLocalProperty(Recorder.PhaseKey, null)

    def storage(): (Int, Long) = {
      val infos = sc.getRDDStorageInfo
      (sc.getPersistentRDDs.size, infos.map(i => i.memSize + i.diskSize).sum)
    }
    def release(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }

    val reference = scala.collection.mutable.Map[String, Seq[Any]]()
    val warmResults = scala.collection.mutable.LinkedHashMap[String, Any]()
    def runQuery(name: String, pass: Int): Map[String, Any] = {
      val fn = registry(name)
      System.err.println(s"[perfbench] pass $pass: $name")
      val t0 = Clock.us
      var t1, t2, t3 = -1L
      var failedIn = ""
      val rec = scala.collection.mutable.LinkedHashMap[String, Any]("query" -> name, "pass" -> pass)
      try {
        failedIn = "construct"; enter(name, pass, failedIn)
        val df = fn(spark, dataDir); t1 = Clock.us
        failedIn = "plan"; enter(name, pass, failedIn)
        val plan = df.queryExecution.executedPlan; t2 = Clock.us
        failedIn = "consume"; enter(name, pass, failedIn)
        val rows = df.collect(); t3 = Clock.us
        failedIn = ""; enter(name, pass, "release")
        val (heldRdds, heldBytes) = storage()
        rec ++= Seq("construct_s" -> (t1 - t0) / 1e6, "plan_s" -> (t2 - t1) / 1e6,
                    "consume_s" -> (t3 - t2) / 1e6, "wall_s" -> (t3 - t0) / 1e6,
                    "held_rdds" -> heldRdds, "held_bytes" -> heldBytes,
                    "rows" -> rows.length)
        if (recording) {
          val tracker = df.queryExecution.tracker.phases
          Seq("analysis", "optimization", "planning").foreach { p =>
            rec(s"tracker_${p}_s") = tracker.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
          }
          rec("exchanges") = countExchanges(plan)
          rec("checkpoint_leaves") = df.queryExecution.analyzed.collect {
            case l: LogicalRDD => l }.size
        }
        val canon = Canon.rows(rows)
        if (pass == 0) {
          reference(name) = canon
          warmResults(name) = Map("columns" -> df.columns.toSeq, "rows" -> canon)
        } else if (!reference.get(name).exists(Canon.sameRows(_, canon))) {
          errors += Map("op" -> name, "pass" -> pass,
                        "error" -> "output differs from the first pass's output")
        }
      } catch {
        case NonFatal(e) =>
          errors += Map("op" -> name, "pass" -> pass,
                        "error" -> s"threw in $failedIn: ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
          rec("failed") = true
      }
      val r0 = Clock.us
      release()
      val r1 = Clock.us
      leave()
      rec("release_s") = (r1 - r0) / 1e6
      if (t3 > 0) {
        phase(name, pass, "construct", t0, t1); phase(name, pass, "plan", t1, t2)
        phase(name, pass, "consume", t2, t3); phase(name, pass, "release", r0, r1)
      }
      rec.toMap
    }

    // ---- warm-up: the oracle pass (name order, same for every seed)
    val passes = ArrayBuffer[Map[String, Any]]()
    var p = 0
    def runPass(kind: String): Unit = {
      val order = if (p == 0) names.sorted else new Random(seed * 1000003L + p).shuffle(names)
      val t0 = System.nanoTime()
      val qs = order.map(n => runQuery(n, p))
      val wall = (System.nanoTime() - t0) / 1e9
      passes += Map("pass" -> p, "kind" -> kind, "traced" -> recording, "wall_s" -> wall,
                    "queries" -> qs)
      p += 1
      System.gc()
    }
    runPass("oracle")
    out("setup_s") = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // ---- timed passes; a traced run alternates untraced and traced
    // passes (listener attached), so the tracing overhead shows as the
    // difference between the two kinds
    def setRecording(on: Boolean): Unit = if (on != recording) {
      if (on) sc.addSparkListener(recorder)
      else { BusShim.drain(sc); sc.removeSparkListener(recorder) }
      recording = on
    }
    val start = System.nanoTime()
    var timed = 0
    while (timed < 3 || System.nanoTime() - start < seconds * 1e9) {
      timed += 1
      setRecording(traced && timed % 2 == 0)
      runPass("timed")
    }
    setRecording(traced)
    out("passes") = passes.toSeq

    // ---- direct Tables.read timings (hit: cached relation; miss: an
    // unseen path holding the same bytes)
    if (traced) {
      val hit = (1 to 20).map { _ =>
        val t0 = System.nanoTime(); Tables.read(spark, dataDir, "lineitem")
        (System.nanoTime() - t0) / 1e6 }
      val miss = (1 to 10).map { i =>
        val alias = s"$work/tables-miss-$i"
        new File(alias).mkdirs()
        Files.copy(Paths.get(s"$dataDir/lineitem.parquet"),
                   Paths.get(s"$alias/lineitem.parquet"),
                   StandardCopyOption.REPLACE_EXISTING)
        val t0 = System.nanoTime(); Tables.read(spark, alias, "lineitem")
        (System.nanoTime() - t0) / 1e6 }
      out("tables") = Map("hit_ms" -> hit, "miss_ms" -> miss)
    }

    // ---- stream segment
    if (traced && streamSlices > 0) {
      val stream = new StreamSegment(spark, dataDir, work, seed, streamSlices,
                                     streamBatches, errors)
      out("stream") = stream.run(n => enter("stream", -1, n),
                                 (n, t0, t1) => phase("stream", -1, n, t0, t1))
      leave()
    }

    if (recording) {
      BusShim.drain(sc)
      out("phases") = phases.toSeq
      out("jobs") = recorder.jobsOut
      out("stages") = recorder.stagesOut
    }
    out("errors") = errors.toSeq
    json.writeValue(new File(o("out")), out)
    json.writeValue(new File(o("out") + ".results.json"), warmResults)
    spark.stop()
  }

  private def countExchanges(plan: SparkPlan): Int = {
    def walk(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case e: Exchange => 1 + e.children.map(walk).sum
      case other => (other.children ++ other.subqueries).map(walk).sum
    }
    walk(plan)
  }
}
