package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The mains' shared plumbing: the inter-query sweep frees the storage
  * a consumed query still holds (CacheHygieneSpec sees only the
  * CacheManager; checkpointTail blocks live outside it), the one
  * task-metrics listener counts and resets, the scoped-conf helper
  * restores unset keys, and the crawl-slice writer partitions its input.
  */
class HarnessSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("PlanMode.sweep frees the checkpointTail blocks of a consumed query") {
    PlanMode.sweep(spark)
    val df = SparkEntry.queries("q_dedup_cluster")(spark, TestSpark.Sf)
    assert(df.queryExecution.toRdd.count() > 0)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
           "q_dedup_cluster held no blocks, so the sweep is not exercised")
    PlanMode.sweep(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("Harness.Metrics counts shuffle writes and reads 0 after reset") {
    val metrics = Harness.metrics(spark)
    try {
      spark.range(0L, 10000L, 1L, 4).groupBy(col("id") % 10).count().collect()
      val m = metrics.snapshot()
      assert(m.shuffleWriteBytes > 0 && m.shuffleReadBytes > 0)
      assert(m.jobSpans.nonEmpty && m.stages.nonEmpty)
      metrics.reset()
      assert(metrics.snapshot() ==
             Harness.Snapshot(0L, 0L, 0L, 0L, 0L, Vector.empty, Vector.empty))
    } finally spark.sparkContext.removeSparkListener(metrics)
  }

  test("PlanMode.withConfs restores a set key and unsets an unset one") {
    val (set, unset) = ("spark.graft.test.set", "spark.graft.test.unset")
    spark.conf.set(set, "before")
    try {
      PlanMode.withConfs(spark, set -> "inside", unset -> "inside") {
        assert(spark.conf.get(set) == "inside" && spark.conf.get(unset) == "inside")
      }
      assert(spark.conf.get(set) == "before")
      assert(spark.conf.getOption(unset).isEmpty)
    } finally spark.conf.unset(set)
  }

  test("Harness.writeSlices writes n single-file slices that partition the input") {
    val dir = Files.createTempDirectory("graft-slices").toFile
    try {
      val docs = Tables.documents(spark, TestSpark.Sf)
        .select(col("doc_id"), col("text"), col("source"))
      val paths = Harness.writeSlices(docs, 3, dir.getPath)
      assert(paths.map(new File(_).getName) ==
             Seq("documents_0.parquet", "documents_1.parquet", "documents_2.parquet"))
      assert(dir.listFiles().map(_.getName).sorted.toSeq ==
             paths.map(new File(_).getName), "slice temp dirs left behind")
      assert(paths.forall(p => new File(p).isFile))
      val back = spark.read.parquet(paths: _*)
      assert(back.count() == docs.count())
      assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }
}
