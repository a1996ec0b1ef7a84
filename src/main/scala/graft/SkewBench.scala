package graft

import graft.ops.Ops
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Head-to-head: MANUAL salting (q_salted_join / q_topk_salted's
  * pattern) vs AQE's skew-join split, on a crafted power-law corpus —
  * the evidence behind the 100 TB skew recommendation in docs/SCALE.md.
  * The manual pattern predates mature AQE; whether it still earns its
  * complexity is a measurement, not a belief.
  *
  * Corpus: `rows` fact rows where HOT_SHARE of all rows carry ONE key
  * (the planet-scale hot-entity shape: one viral doc, one bot user) and
  * the rest spread uniformly over `nKeys` keys; a `nKeys`-row dim side.
  * Deterministic by construction (id arithmetic, no RNG).
  *
  * Variants (each = one shuffle-join + groupBy aggregate):
  *   join_aqe_skew   plain shuffle join, AQE skew-join ON with
  *                   thresholds scaled down to engage at bench size
  *                   (prod defaults: 256 MiB partition threshold — the
  *                   same RELATIVE skew at bench scale sits in KiB).
  *   join_aqe_noskew AQE on, skew-join handling off — isolates the
  *                   skew splitter from AQE's coalescing.
  *   join_noaqe      no AQE at all: the naive baseline that eats the
  *                   full hot-partition straggler.
  *   join_salted     q_salted_join's manual pattern (probe salted,
  *                   dim replicated SaltBuckets×), AQE off.
  *   topk_window / topk_salted / topk_heap: the per-group top-K family
  *   on the same skew (window rank vs two-phase salt vs BoundedTopK).
  *
  * Broadcast is DISABLED for the join variants (threshold -1): at
  * bench scale the dim fits in memory and every variant would
  * degenerate to the same broadcast plan; the question under test is
  * the SHUFFLE-join regime, where the 100 TB dim does not fit.
  *
  * Protocol: min-of-3 wall per variant, full answer rows cross-checked
  * equal across ALL variants first — both join variants and all three
  * top-K variants, compared as sorted collected rows, not a hash proxy
  * (a fast wrong answer is not a datum).
  * One JSON line; docs/SCALE.md holds the conclusions table.
  */
object SkewBench {
  def main(args: Array[String]): Unit = {
    val cpus = Harness.cpus(32)
    val rows = sys.env.getOrElse("SPARK_GRAFT_SKEW_ROWS", "20000000").toLong
    val nKeys = 200000L
    val hotShare = 0.5 // fraction of fact rows on the single hot key
    val spark = Harness.session("graft-skew-bench", cpus)
    val metrics = Harness.metrics(spark)

    // Hot key 0 takes every even id (hotShare=0.5); odd ids spread
    // uniformly. Payload widens rows so shuffle sizes are realistic.
    def fact: DataFrame = spark.range(rows).select(
      col("id"),
      when(pmod(col("id"), lit(2)) === 0, lit(0L))
        .otherwise(pmod(col("id"), lit(nKeys))).as("k"),
      (col("id") % 997).cast("double").as("v"),
      concat(lit("payload_"), col("id") % 1000).as("pay"))
    def dim: DataFrame = spark.range(nKeys).select(
      col("id").as("k"), concat(lit("seg_"), col("id") % 7).as("segment"))

    def agg(joined: DataFrame): DataFrame =
      joined.groupBy(col("segment"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))

    val SaltBuckets = 8
    def saltedJoin(): DataFrame = {
      val f = fact.withColumn("salt", pmod(hash(col("id") * 31 + col("k")), lit(SaltBuckets)))
      val d2 = dim.withColumn("salt", explode(sequence(lit(0), lit(SaltBuckets - 1))))
      agg(f.join(d2, Seq("k", "salt")))
    }
    def plainJoin(): DataFrame = agg(fact.join(dim, Seq("k")))

    def topkWindow(): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("k")).orderBy(col("v"), col("id"))
      fact.withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
        .groupBy().agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    }
    def topkSalted(): DataFrame =
      Ops.topKPerGroupSalted(fact, Seq("k"), col("v"), col("id"), 10)
        .groupBy().agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    def topkHeap(): DataFrame =
      Ops.topKHeap(fact, Seq("k"), col("v"), col("id"), 10,
                   outScore = "score", outId = "id")
        .groupBy().agg(count(lit(1)).as("n"), sum(col("score")).as("sv"))

    def time(fn: () => DataFrame): Double = {
      val t0 = System.nanoTime()
      fn().queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }
    def bestOf3(fn: () => DataFrame): (Double, Double, Double) = {
      PlanMode.sweep(spark)
      val runs = (1 to 3).map { _ =>
        metrics.reset()
        val w = time(fn); (w, metrics.snapshot())
      }
      val last = runs.last._2 // bytes of the last (steady-state) run
      (runs.map(_._1).min, Harness.mb(last.shuffleReadBytes),
       Harness.mb(last.shuffleWriteBytes))
    }

    // Shuffle-join regime: no broadcast; AQE skew thresholds scaled to
    // the bench's partition sizes (same RELATIVE skew as prod).
    val noBroadcast = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val skewTuned = noBroadcast ++ Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8m",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8m")
    val aqeNoSkew = noBroadcast ++ Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "false")
    val noAqe = noBroadcast ++ Seq("spark.sql.adaptive.enabled" -> "false")

    // Answer parity first: every variant must agree before any timing
    // counts — a fast-but-wrong variant is not a datum. Rows are
    // compared DIRECTLY (sorted Seq[Row] equality), not through a
    // collision-prone String.hashCode proxy. All outputs are bounded
    // (7 segments / 1 top-K summary row), so collect() is safe. The
    // sv sums are sums of integer-valued doubles well under 2^53, so
    // exact equality holds regardless of summation order.
    def rowsOf(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    val refJoin = PlanMode.withConfs(spark, skewTuned: _*)(rowsOf(plainJoin()))
    val saltedRows = PlanMode.withConfs(spark, noAqe: _*)(rowsOf(saltedJoin()))
    require(refJoin == saltedRows,
      s"salted join diverged from plain join — abort\n plain=$refJoin\n salted=$saltedRows")
    val refTopk = PlanMode.withConfs(spark, skewTuned: _*)(rowsOf(topkWindow()))
    val topkSaltedRows = PlanMode.withConfs(spark, skewTuned: _*)(rowsOf(topkSalted()))
    val topkHeapRows = PlanMode.withConfs(spark, skewTuned: _*)(rowsOf(topkHeap()))
    require(refTopk == topkSaltedRows,
      s"salted top-K diverged from window top-K — abort\n window=$refTopk\n salted=$topkSaltedRows")
    require(refTopk == topkHeapRows,
      s"heap top-K diverged from window top-K — abort\n window=$refTopk\n heap=$topkHeapRows")

    val out = scala.collection.mutable.LinkedHashMap[String, (Double, Double, Double)]()
    out("join_aqe_skew") = PlanMode.withConfs(spark, skewTuned: _*)(bestOf3(() => plainJoin()))
    out("join_aqe_noskew") = PlanMode.withConfs(spark, aqeNoSkew: _*)(bestOf3(() => plainJoin()))
    out("join_noaqe") = PlanMode.withConfs(spark, noAqe: _*)(bestOf3(() => plainJoin()))
    out("join_salted_noaqe") = PlanMode.withConfs(spark, noAqe: _*)(bestOf3(() => saltedJoin()))
    out("join_salted_aqe") = PlanMode.withConfs(spark, skewTuned: _*)(bestOf3(() => saltedJoin()))
    out("topk_window") = PlanMode.withConfs(spark, skewTuned: _*)(bestOf3(() => topkWindow()))
    out("topk_salted") = PlanMode.withConfs(spark, skewTuned: _*)(bestOf3(() => topkSalted()))
    out("topk_heap") = PlanMode.withConfs(spark, skewTuned: _*)(bestOf3(() => topkHeap()))

    // Trigger proof: the AQE-skew claim must come from the plan, not be
    // inferred from wall times — execute the plain join under the tuned
    // confs and report whether the final adaptive plan's sort-merge join
    // carries the skew=true marker (and how many partition splits ran).
    val skewMarker = PlanMode.withConfs(spark, skewTuned: _*) {
      val df = plainJoin()
      df.queryExecution.toRdd.count()
      val plan = df.queryExecution.executedPlan.toString
      plan.contains("skew=true")
    }
    println(s"[skewbench] aqe_skew_triggered=$skewMarker")

    def fmt(v: Double) = f"$v%.2f"
    val body = out.map { case (k, (w, r, wr)) =>
      s""""$k":{"wall_sec":${fmt(w)},"shuffle_read_mb":${fmt(r)},"shuffle_write_mb":${fmt(wr)}}"""
    }.mkString(",")
    val line = s"""{"metric":"skew_headtohead","rows":$rows,"n_keys":$nKeys,"hot_share":$hotShare,"cpus":$cpus,"protocol":"min-of-3","aqe_skew_triggered":$skewMarker,"variants":{$body}}"""
    try {
      val w = new java.io.PrintWriter("docs/SKEWBENCH.json")
      try w.println(line) finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[skewbench] cannot write: ${e.getMessage}") }
    println(line)
    spark.stop()
  }
}
