package graft
object ExtDemo {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session("graft-ext-demo", 4,
      conf = Seq("spark.sql.extensions" -> "graft.GraftExtensions"))
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .createOrReplaceTempView("embeddings")
    val r = spark.sql("SELECT vec_id, graft_norm(embedding) n, graft_dot(embedding, embedding) d, graft_hamming(vec_id, vec_id+1) h FROM embeddings ORDER BY vec_id LIMIT 3").collect()
    r.foreach(x => println(s"[ext-demo] $x"))
    val hll = spark.sql(
      """SELECT label, round(graft_hll(conv(substr(md5(CAST(vec_id AS STRING)),1,15),16,10)), 2) est,
        |       count(DISTINCT vec_id) exact
        |FROM embeddings GROUP BY 1 ORDER BY 1 LIMIT 3""".stripMargin).collect()
    hll.foreach(x => println(s"[ext-demo] hll $x"))
    // k=16 > label cardinality (10) -> every label survives with its count
    val hh = spark.sql(
      "SELECT graft_heavy_hitters(CAST(label AS STRING), 16) FROM embeddings").collect()
    println(s"[ext-demo] heavy-hitter sketch: ${hh.head.get(0).toString.take(100)}")
    println("[ext-demo] codegen check:")
    val df = spark.sql("SELECT graft_dot(embedding, embedding) d FROM embeddings")
    df.queryExecution.executedPlan.toString.linesIterator.take(4).foreach(l => println(s"[ext-demo] $l"))
    // salted top-K parity on real data (library surface)
    import graft.ops.Ops
    import org.apache.spark.sql.functions._
    val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select(col("o_custkey"), col("o_totalprice"), col("o_orderkey"))
    val plain = Ops.topKPerGroup(o, Seq("o_custkey"), col("o_totalprice"), col("o_orderkey"), 5).collect().toSet
    val salted = Ops.topKPerGroupSalted(o, Seq("o_custkey"), col("o_totalprice"), col("o_orderkey"), 5).collect().toSet
    println(s"[ext-demo] salted==plain: ${salted == plain} (${plain.size} rows)")
    // FsUtil round-trip on the local scheme (S5 surface)
    import graft.sources.FsUtil
    val fsDir = java.nio.file.Files.createTempDirectory("graft_fs").toString
    FsUtil.writeString(s"$fsDir/demo/x.txt", "graft-fs-demo")
    println(s"[ext-demo] fs read back: ${FsUtil.readString(s"$fsDir/demo/x.txt")}, ls=${FsUtil.ls(s"$fsDir/demo").size}")
    // IVF ANN sample
    val ivf = graft.ext.Similarity.qAnnIvf(spark, "/root/testdata/sf0.001")
    println(s"[ext-demo] ivf rows=${ivf.count()}")
    ivf.show(5, truncate = false)
    // bucketed co-located join: no exchange (S-scale join strategy)
    import graft.sources.Bucketing
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    Bucketing.writeBucketed(
      spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .select(col("o_custkey"), col("o_totalprice")), "demo_b_orders", "o_custkey", 4)
    Bucketing.writeBucketed(
      spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
        .select(col("c_custkey").as("o_custkey"), col("c_acctbal")), "demo_b_cust", "o_custkey", 4)
    val bj = Bucketing.bucketedJoin(spark, "demo_b_orders", "demo_b_cust", "o_custkey")
    println(s"[ext-demo] bucketed join rows=${bj.count()}")
    val bplan = bj.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    println(s"[ext-demo] bucketed join exchanges=${bplan.linesIterator.count(_.contains("Exchange hashpartitioning"))}")
    bplan.linesIterator.filter(l => l.contains("SortMergeJoin") || l.contains("Scan")).take(3).foreach(l => println(s"[ext-demo] ${l.trim.take(90)}"))
    spark.sql("DROP TABLE IF EXISTS demo_b_orders"); spark.sql("DROP TABLE IF EXISTS demo_b_cust")
    spark.stop()
  }
}
