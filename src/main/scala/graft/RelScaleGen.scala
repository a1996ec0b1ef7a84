package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Relational scale-up generator (dev tool): produce an sf1-shaped dir
  * from sf0.1 by replicating the TPC-H-ish tables `factor`× with
  * disjoint key ranges — the second scale axis the documents-corpora
  * ladder (ScaleGen) doesn't cover. The 10×/100×-diverse ladder scales
  * documents/embeddings; the join/window/analytics rows had never run
  * above sf0.1 (verdict r14 #6). This produces lineitem at 6M rows etc.
  * so the relational subset's plans (broadcast thresholds, AQE
  * coalescing, exchange reuse) can be measured at 10× row counts.
  *
  * Key mapping per replica k (0 until factor): every PRIMARY key gets
  * `+ k × (max(key)+1)`; every FOREIGN key gets the SAME offset as its
  * parent — referential integrity holds within each replica, join
  * fan-outs per key are UNCHANGED (selectivity-preserving: a 10× corpus
  * of the same shape, not 10× hotter keys). Fixed dims (region, nation)
  * are copied verbatim — their keys appear as FKs and must stay dense.
  * events scales both event_id and user_id (more users at the same
  * per-user activity, the organic growth shape). documents/embeddings
  * are copied verbatim: this axis is deliberately relational-only.
  */
object RelScaleGen {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/sf1rel"
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = Harness.session("graft-rel-scale-gen", 32)
    new java.io.File(out).mkdirs()

    def rd(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def wr(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")
    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1L

    // Replicate with per-replica key offsets. The k column comes from a
    // broadcast 1-column range crossJoin — `factor` rows, bounded.
    def rep(df: DataFrame, keyOffsets: (String, Long)*): DataFrame = {
      val ks = spark.range(factor).select(col("id").as("__k"))
      val crossed = df.crossJoin(broadcast(ks))
      keyOffsets.foldLeft(crossed) { case (d, (c, off)) =>
        d.withColumn(c, col(c) + col("__k") * off)
      }.drop("__k")
    }

    val customer = rd("customer"); val supplier = rd("supplier")
    val part = rd("part"); val orders = rd("orders")
    val lineitem = rd("lineitem"); val events = rd("events")
    val offC = maxOf(customer, "c_custkey")
    val offS = maxOf(supplier, "s_suppkey")
    val offP = maxOf(part, "p_partkey")
    val offO = maxOf(orders, "o_orderkey")
    val offE = maxOf(events, "event_id")
    val offU = maxOf(events, "user_id")

    wr(rd("region"), "region")
    wr(rd("nation"), "nation")
    wr(rd("documents").coalesce(4), "documents")
    wr(rd("embeddings").coalesce(4), "embeddings")
    wr(rep(customer, "c_custkey" -> offC), "customer")
    wr(rep(supplier, "s_suppkey" -> offS), "supplier")
    wr(rep(part, "p_partkey" -> offP), "part")
    wr(rep(orders, "o_orderkey" -> offO, "o_custkey" -> offC), "orders")
    wr(rep(lineitem, "l_orderkey" -> offO, "l_partkey" -> offP,
           "l_suppkey" -> offS), "lineitem")
    wr(rep(events, "event_id" -> offE, "user_id" -> offU), "events")

    val check = Seq("customer", "supplier", "part", "orders", "lineitem",
                    "events").map { t =>
      t -> spark.read.parquet(s"$out/$t.parquet").count()
    }
    println(s"[relscalegen] wrote $out at ${factor}x: " +
      check.map { case (t, n) => s"$t=$n" }.mkString(", "))
    spark.stop()
  }
}
