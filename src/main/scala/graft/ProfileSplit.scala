package graft

import graft.ext.{Corpus, Dedup, TextOps}
import graft.ops.Ops
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.util.concurrent.atomic.AtomicLong

/** Dev probe: STAGE-SPLIT timings for the
  * slowest 100×-diverse rows — candidate-generation vs verify for the
  * pair operators, per-expression CPU decomposition for the scan-bound
  * ones — each probe with wall, executor-CPU, and shuffle bytes, so
  * "corpus-linear floor" claims are measured, not asserted
  * (docs/SCALE.md records the output).
  *
  *   SPARK_GRAFT_SF_DIR=/tmp/sfbig100d sbt "runMain graft.ProfileSplit prefix_jaccard"
  */
object ProfileSplit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val shufW = new AtomicLong; val shufR = new AtomicLong
    val cpuNs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          cpuNs.addAndGet(m.executorCpuTime)
        }
      }
    })
    spark.range(1000000L).selectExpr("sum(id)").collect()

    def probe(name: String)(body: => Long): Unit = {
      org.apache.spark.graftshim.BusShim.drain(spark.sparkContext)
      shufW.set(0); shufR.set(0); cpuNs.set(0)
      val t0 = System.nanoTime()
      val n = body
      val secs = (System.nanoTime() - t0) / 1e9
      org.apache.spark.graftshim.BusShim.drain(spark.sparkContext)
      println(f"[split] $name%-28s ${secs}%8.2f s  cpu=${cpuNs.get / 1e9}%8.1f s  " +
        f"shuf_w=${shufW.get / 1048576.0}%8.1f MiB  shuf_r=${shufR.get / 1048576.0}%8.1f MiB  rows=$n%d")
    }
    def run(df: DataFrame): Long = df.queryExecution.toRdd.count()

    val docs = Tables.documents(spark, sfDir)

    args.foreach {
      case "prefix_jaccard" =>
        // Split: shingle build / candidate generation / verify.
        // `full` FIRST: the persisted stage frames below otherwise
        // satisfy the full query's subtrees via the CacheManager and
        // under-report it (same trap as explode_join).
        probe("prefix.full")(run(SparkEntry.queries("q_prefix_jaccard")(spark, sfDir)))
        val sh = Dedup.prefixJacDocs(docs).persist()
        probe("prefix.shingles")(run(sh))
        val cand = Dedup.prefixJacCandidates(sh).persist()
        probe("prefix.candidates")(run(cand))
        probe("prefix.cand_rerun")(run(Dedup.prefixJacCandidates(sh)))
        probe("prefix.verify") {
          run(cand
            .join(sh.select(col("doc_id").as("doc_a"), col("grams").as("ga"),
                            col("n").as("n_a")), Seq("doc_a"))
            .join(sh.select(col("doc_id").as("doc_b"), col("grams").as("gb"),
                            col("n").as("n_b")), Seq("doc_b"))
            .withColumn("n_common",
              size(array_intersect(col("ga"), col("gb"))).cast("bigint"))
            .withColumn("jaccard", col("n_common").cast("double") /
              (col("n_a") + col("n_b") - col("n_common")).cast("double"))
            .filter(col("jaccard") >= Dedup.PrefixJacT))
        }
        cand.unpersist(); sh.unpersist()

      case "prefix_candidates" =>
        // Sub-split of the candidate stage: bucket-count collect /
        // probe-prefix build (array_sort + dense-literal df probes) /
        // the gram self-join + pair aggregation.
        val sh2 = Dedup.prefixJacDocs(docs).persist()
        probe("p2.shingles")(run(sh2))
        var counts: Array[Long] = null
        probe("p2.bucket_counts") {
          counts = Dedup.prefixOrderCounts(sh2); counts.count(_ > 0).toLong
        }
        val pref2 = Dedup.prefixProbe(sh2, counts).persist()
        probe("p2.probe_build")(run(pref2))
        probe("p2.pair_join")(run(Dedup.prefixJacCandidates(sh2)))
        // Raw gram-collision volume: join matches BEFORE the pair agg
        // (the rows the partial aggregation must hash) — the honest
        // denominator for "what does the join cost".
        // All three probes below reuse Dedup's shared filter helpers
        // (prefixIndexSide / prefixRoleLengthFilter / prefixOMin) —
        // single source of truth for the t = 8/10 arithmetic, so a
        // threshold change can't leave the probes measuring a stale
        // pipeline (ADVICE r13).
        probe("p2.raw_matches") {
          val idx2 = Dedup.prefixIndexSide(pref2)
          run(idx2.select(col("gram"), col("doc_id").as("doc_s"),
                          col("n").as("n_s"))
            .join(pref2.select(col("gram"), col("doc_id").as("doc_l"),
                               col("n").as("n_l")), Seq("gram"))
            .filter(Dedup.prefixRoleLengthFilter))
        }
        // Same join keyed on xxhash64(gram) instead of the gram string —
        // the candidate-superset experiment (collisions only ADD).
        probe("p2.pair_join_hashed") {
          val ph = pref2.withColumn("h", xxhash64(col("gram")))
          val idxh = Dedup.prefixIndexSide(ph)
          run(idxh.select(col("h"), col("doc_id").as("doc_s"), col("n").as("n_s"),
                          col("pk").as("pk_s"))
            .join(ph.select(col("h"), col("doc_id").as("doc_l"),
                            col("n").as("n_l"), col("pk").as("pk_l")), Seq("h"))
            .filter(Dedup.prefixRoleLengthFilter)
            .select(col("doc_s"), col("doc_l"), col("pk_s"), col("pk_l"))
            .groupBy(col("doc_s"), col("doc_l"))
            .agg(count(lit(1)).as("c"),
                 max(col("pk_s")).as("mx_s"), max(col("pk_l")).as("mx_l"))
            .withColumn("n_s", expr("mx_s div 1048576"))
            .withColumn("n_l", expr("mx_l div 1048576"))
            .withColumn("pmax_s", col("mx_s") % lit(1048576L))
            .withColumn("pmax_l", col("mx_l") % lit(1048576L))
            .withColumn("o_min", Dedup.prefixOMin)
            .filter(col("c") >= least(lit(2L), col("o_min")) &&
              col("c") + least(col("n_s") - col("pmax_s"),
                               col("n_l") - col("pmax_l")) >= col("o_min")))
        }
        // Count-only pair agg (drop the positional filter → superset):
        // slimmer agg state, candidate growth is the question.
        probe("p2.pair_join_countonly") {
          val idx2 = Dedup.prefixIndexSide(pref2)
          run(idx2.select(col("gram"), col("doc_id").as("doc_s"), col("n").as("n_s"))
            .join(pref2.select(col("gram"), col("doc_id").as("doc_l"),
                               col("n").as("n_l")), Seq("gram"))
            .filter(Dedup.prefixRoleLengthFilter)
            .select(col("doc_s"), col("doc_l"), col("n_s"), col("n_l"))
            .groupBy(col("doc_s"), col("doc_l"))
            .agg(count(lit(1)).as("c"), first(col("n_s")).as("n_s"),
                 first(col("n_l")).as("n_l"))
            .filter(col("c") >= least(lit(2L), Dedup.prefixOMin)))
        }
        pref2.unpersist(); sh2.unpersist()

      case "keep_best" =>
        probe("keepbest.full")(run(SparkEntry.queries("q_dedup_keep_best")(spark, sfDir)))
        probe("keepbest.labels")(run(Corpus.clusterLabelsOf(docs)))

      case "quality" =>
        // Per-expression CPU decomposition over the same text scan.
        probe("quality.scan_text")(run(docs.agg(sum(length(col("text"))))))
        probe("quality.tokens")(
          run(docs.agg(sum(size(Ops.tokens(col("text")))))))
        probe("quality.alnum_regex")(
          run(docs.agg(sum(length(
            regexp_replace(col("text"), "[^a-zA-Z0-9 ]", ""))))))
        probe("quality.stop_hits") {
          val hit = TextOps.EnStop
            .map(w => when(contains(concat(lit(" "), col("text"), lit(" ")),
                                    lit(s" $w ")), 1).otherwise(0))
            .reduce(_ + _)
          run(docs.agg(sum(hit)))
        }
        probe("quality.column_nosort")(
          run(docs.select(col("doc_id"), TextOps.qualityColumn.as("q"))))
        probe("quality.full")(run(SparkEntry.queries("q_quality_score")(spark, sfDir)))

      case "explode_join" =>
        // Split: pack (groupBy+collect_list shuffle) / unpack (split+
        // explode+casts) / join+agg / final global sort. The pack and
        // unpack stages are the operator's semantic (round-tripping the
        // reference's `key@qty,...` micro-format), so their cost is the
        // honest floor; the question is whether string CPU or the
        // shuffle dominates, and what the orderBy adds.
        // `full` runs FIRST: the staged frames are persisted, and the
        // CacheManager matches the full query's identical pack subtree
        // against them — a later `full` probe would silently skip the
        // pack exchange and under-report.
        probe("explode.full")(run(SparkEntry.queries("q_explode_join")(spark, sfDir)))
        val packed = Tables.lineitem(spark, sfDir)
          .select(col("l_orderkey"),
                  Ops.packPairs(col("l_partkey").cast("bigint").cast("string"),
                                col("l_quantity").cast("bigint").cast("string")).as("pair"))
          .groupBy(col("l_orderkey"))
          .agg(concat_ws(",", collect_list(col("pair"))).as("items"))
          .persist()
        probe("explode.pack")(run(packed))
        val exploded = Ops.unpackPairs(packed, "items", ",", "item_key", "item_qty")
          .persist()
        probe("explode.unpack")(run(exploded))
        probe("explode.join_agg") {
          val p = Tables.part(spark, sfDir)
          run(exploded
            .join(broadcast(p), col("item_key").cast("bigint") === p("p_partkey"))
            .groupBy(col("l_orderkey"))
            .agg((sum(col("p_retailprice").cast("decimal(18,2)") *
                      col("item_qty").cast("bigint"))).cast("double").as("packed_value"),
                 count(lit(1)).as("n_items")))
        }
        exploded.unpersist(); packed.unpersist()

      case "pipeline_report" =>
        // The library-path claim: pipelineReport materializes the stage
        // chain ONCE for both reports; the two registry rows (timed in
        // isolation by the driver) each pay it.
        probe("report.run_then_by_source") {
          run(graft.ext.Pipeline.pipelineRun(docs)) +
            run(graft.ext.Pipeline.pipelineBySource(docs))
        }
        probe("report.combined") {
          val (g, bs) = graft.ext.Pipeline.pipelineReport(docs)
          run(g) + run(bs)
        }

      case "cooccurrence" =>
        probe("cooc.full")(run(SparkEntry.queries("q_cooccurrence")(spark, sfDir)))
        // Basket-boundedness evidence: emitted pair volume = Σ C(k, 2)
        // over per-order distinct-brand counts k.
        probe("cooc.pair_volume") {
          val li = Tables.lineitem(spark, sfDir)
          val p = Tables.part(spark, sfDir)
            .select(col("p_partkey"), col("p_brand"))
          val r = li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
            .groupBy(col("l_orderkey"))
            .agg(countDistinct(col("p_brand")).as("k"))
            .agg(sum(col("k") * (col("k") - 1) / 2).as("pairs"),
                 max(col("k")).as("max_basket"),
                 count(lit(1)).as("orders")).head()
          println(s"[split] cooc.volume pairs=${r.get(0)} " +
            s"max_basket=${r.get(1)} orders=${r.get(2)}")
          1L
        }

      case other =>
        probe(other)(run(SparkEntry.queries(other)(spark, sfDir)))
    }
    spark.stop()
  }
}
