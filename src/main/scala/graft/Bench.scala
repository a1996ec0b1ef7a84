package graft

import org.apache.spark.sql.SparkSession

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Harness.cpus(4)
    val spark = Harness.session("graft-bench", cpus)
    // Shuffle bytes, executor CPU and spill per query: a byte or CPU
    // regression between rounds must be visible in the committed
    // artifact, not just wall-time noise (q_pagerank's wall has swung
    // 2-4x across rounds on byte-identical plans).
    val metrics = Harness.metrics(spark)
    Harness.warm(spark, sfDir)
    // Keep the sorted Seq end-to-end: deterministic execution AND output
    // key order. A failing query records -1 (not its time-to-throw) so
    // breakage is visible in the metric line instead of masked.
    //
    // toRdd.count(), NOT Dataset.count(): counting through a fresh
    // aggregate plan lets Catalyst eliminate row-preserving left joins
    // and final sorts — under-measuring any query with that shape.
    // Executing the query's OWN physical plan times what a consumer of
    // the full result would pay. (Changed in r5; r4-and-earlier totals
    // are slight under-measurements for sort/left-join tails.)
    //
    // TWO runs per query, min reported: a single-run protocol let
    // box-load noise swing untouched queries 4-7× between rounds,
    // drowning every real regression (r6 postmortem). Run 2 also
    // supplies the per-query shuffle bytes (steady-state, post-JIT).
    def runOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                name: String): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).queryExecution.toRdd.count()
            (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        -1.0 }
    }
    case class R(name: String, first: Double, best: Double,
                 readMb: Double, writeMb: Double,
                 cpuSec: Double = 0.0, spillMb: Double = 0.0)
    // Rows whose steady-state wall exceeds this get a THIRD timing run:
    // the slow tail is where box-load noise hides real regressions (and
    // invents fake ones — q_pagerank re-litigated four rounds running);
    // one extra sample on <15 rows costs ~1 min and halves the variance
    // where it matters. Bytes/CPU/spill stay run-2's (steady-state).
    val minOf3ThresholdSec = 5.0
    // SPARK_GRAFT_BENCH_ONLY: run a named subset ("relational" = the
    // TPC-H-ish join/window/analytics groups, or a comma list). Local
    // scale studies only — a subset run redirects the full-map artifact
    // to BENCH_SUBSET.json so the committed BENCH_LOCAL.json (full
    // registry, the round-over-round currency) can never be clobbered
    // by a partial map. Driver runs never set this.
    val subset: Option[Set[String]] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map {
        case "relational" =>
          (jobs.CoreQueries.queries ++ jobs.RecPipeline.queries ++
           jobs.AnalyticsQueries.queries ++ ext.Sessions.queries ++
           sources.KvTable.queries).keySet
        case csv => csv.split(",").map(_.trim).filter(_.nonEmpty).toSet
      }
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => subset.forall(_.contains(name)) }
      .map { case (name, fn) =>
      val w1 = runOnce(fn, name)
      if (w1 < 0) R(name, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0)
      else {
        // Inter-query hygiene, outside the timed region: without the
        // sweep, blocks and old-gen garbage accumulate across the
        // registry and the tail of the run measures GC thrash, not the
        // queries (r8: isolated q_embed_quantize 0.6 s vs 10.9 s late in
        // a full sweep). Also keeps run 2 honest: a leaked persist from
        // run 1 would under-measure it.
        PlanMode.sweep(spark)
        metrics.reset()
        val w2 = runOnce(fn, name)
        PlanMode.sweep(spark)
        val m = metrics.snapshot()
        // A failed run 2 leaves PARTIAL counters — record -1 markers
        // for ALL run-2-derived metrics (bytes, CPU, spill), not the
        // torn values, so the round-over-round comparison never reads
        // an aborted run as a regression (or masks one). A cpu_sec of
        // 0.0 here would be indistinguishable from a genuinely cheap
        // query and would seed an infinite-ratio flag when it recovers.
        if (w2 < 0) R(name, w1, w1, -1.0, -1.0, -1.0, -1.0)
        else {
          val readMb = Harness.mb(m.shuffleReadBytes)
          val writeMb = Harness.mb(m.shuffleWriteBytes)
          val cpuSec = m.cpuNs / 1e9
          val spillMb = Harness.mb(m.spillBytes)
          val best2 = math.min(w1, w2)
          val best =
            if (best2 < minOf3ThresholdSec) best2
            else {
              val w3 = runOnce(fn, name)
              PlanMode.sweep(spark)
              if (w3 < 0) best2 else math.min(best2, w3)
            }
          R(name, w1, best, readMb, writeMb, cpuSec, spillMb)
        }
      }
    }
    // Two sinks for the same measurement. The harness captures only the
    // LAST ~2000 chars of stdout and JSON-parses them, so the stdout line
    // must fit that window WHOLE or the parse fails (r4's 105-query line
    // overflowed it -> parsed:null). stdout therefore gets a BOUNDED line:
    // total + failures + the slowest queries, greedily added while the
    // line stays under budget; BENCH_LOCAL.json in the repo gets the
    // full-precision full map (min + first-run + shuffle bytes) so the
    // per-round perf audit trail doesn't depend on stdout capture at all.
    def fmt(v: Double, dp: Int): String = {
      val s = BigDecimal(v).setScale(dp, BigDecimal.RoundingMode.HALF_UP)
        .bigDecimal.stripTrailingZeros.toPlainString
      if (s.isEmpty) "0" else s
    }
    val total = results.collect { case r if r.best >= 0 => r.best }.sum
    def mapOf(dp: Int, f: R => Double): String =
      results.map(r => "\"" + r.name + "\":" + fmt(f(r), dp))
        .mkString("{", ",", "}")
    // "cpus" is recorded because shuffle BYTES depend on it (more
    // map/reduce partitions -> more per-block framing + worse per-block
    // compression on MB-scale shuffles: measured q_quality_classifier
    // 4.6 MB read at 8 threads vs 8.2 MB at 32, identical source) —
    // tools/bench_bytes_diff.py refuses cross-environment comparisons.
    def fullLine(sf: String): String =
      s"""{"metric":"total","value":${fmt(total, 4)},"unit":"sec","protocol":"min-of-2;min-of-3-over-${fmt(minOf3ThresholdSec, 0)}s","cpus":$cpus,"heap_mb":${Runtime.getRuntime.maxMemory() / 1048576},"queries":${mapOf(4, _.best)},"first_run":${mapOf(4, _.first)},"cpu_sec":${mapOf(3, _.cpuSec)},"spill_mb":${mapOf(2, _.spillMb)},"shuffle_read_mb":${mapOf(2, _.readMb)},"shuffle_write_mb":${mapOf(2, _.writeMb)},"sf":"$sf"}"""
    def boundedLine(sf: String, budget: Int): String = {
      // Failures (-1) always surface; the rest slowest-first.
      val ranked = results.sortBy(r => if (r.best < 0) Double.MinValue else -r.best)
      val head = s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec","sf":"$sf","n_queries":${results.size},"protocol":"min-of-2;min-of-3-over-${fmt(minOf3ThresholdSec, 0)}s","full":"BENCH_LOCAL.json","queries":{"""
      val tail = "}}"
      val sb = new StringBuilder(head)
      var first = true
      for (r <- ranked) {
        val entry = (if (first) "" else ",") + "\"" + r.name + "\":" + fmt(r.best, 2)
        if (sb.length + entry.length + tail.length <= budget) {
          sb.append(entry); first = false
        }
      }
      sb.append(tail).toString
    }
    val artifact =
      if (subset.isEmpty) "BENCH_LOCAL.json" else "BENCH_SUBSET.json"
    try {
      val w = new java.io.PrintWriter(artifact)
      try w.println(fullLine(sfDir)) finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $artifact: ${e.getMessage}") }
    println(boundedLine(new java.io.File(sfDir).getName, 1800))
    spark.stop()
    // rc must say what the metric line says: a round where queries
    // errored is a FAILED bench run, not "[success]" with -1 markers
    // buried in the JSON (r7 shipped exactly that and the artifact
    // attested a passing round with 23 broken queries).
    val nFailed = results.count(_.best < 0)
    if (nFailed > 0) {
      System.err.println(s"[bench] $nFailed queries failed — exiting nonzero")
      sys.exit(1)
    }
  }
}
