package graft

/** Tuning-response matrix for the `spark.graft.*` caps (dev tool; the
  * committed table lives in docs/KNOBS.md).
  *
  * Each cap exists so a 100 TB operator can trade candidate-set recall
  * against pair-generation cost per corpus — but GraftConfSpec only
  * pins that the knobs are LIVE, not what turning them BUYS. This
  * sweep runs each knob's flagship query at ¼×, 1× (default), and 4×
  * the compiled cap and records rows / wall / shuffle bytes, so an
  * operator retuning in production has measured response curves
  * instead of folklore. (Row counts move because the caps change the
  * candidate sets BY DESIGN — the embedded oracles pin only the
  * default column; non-default rows document divergence a caller owns,
  * per the GraftConf contract.)
  */
object KnobSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val cpus = Harness.cpus(32)
    val spark = Harness.session("graft-knob-sweep", cpus)
    val metrics = Harness.metrics(spark)

    // knob -> the registry query whose candidate generation it caps.
    val flagship = Map(
      "spark.graft.dedup.maxGramDf"   -> "q_ngram_jaccard",
      "spark.graft.decontam.maxDf"    -> "q_contamination",
      "spark.graft.semdedup.cellCap"  -> "q_semdedup",
      "spark.graft.simhash.bandMaxDf" -> "q_dedup_simhash",
      "spark.graft.winnow.maxDf"      -> "q_winnow_fingerprint",
      "spark.graft.dbscan.bandMaxDf"  -> "q_dbscan")

    val report = new StringBuilder
    report ++= "# spark.graft.* tuning-response curves\n\n"
    report ++= s"`graft.KnobSweep` at `$sfDir`, local[$cpus], " +
      s"${java.time.LocalDate.now()}. Each knob's flagship query at " +
      "¼×/1×/4× the compiled default; rows move because the caps " +
      "gate candidate generation BY DESIGN (defaults are the " +
      "oracle-pinned contract; divergence at other values is the " +
      "caller's, per GraftConf). Wall is single-run — read it for " +
      "shape, bytes for the real cost signal.\n\n"
    report ++= "| knob | value | rows | wall (s) | shuffle r/w (MB) |\n"
    report ++= "|---|---|---|---|---|\n"

    var bad = 0
    for ((key, default, _) <- GraftConf.knobs) {
      val qname = flagship(key)
      val fn = SparkEntry.queries(qname)
      // Untimed warm-up at the default: without it the first cell of
      // every triple (the ¼× value) is charged the query's JIT/codegen
      // and file-index cost and the "curve" is mostly warm-up shape
      // (first sweep: maxGramDf ¼× read 15.5 s vs 1.2 s at 4× — a
      // LOWER candidate cap cannot cost 13× more).
      try fn(spark, sfDir).queryExecution.toRdd.count()
      catch { case _: Throwable => () }
      for (v <- Seq(math.max(1L, default / 4), default, default * 4)) {
        PlanMode.sweep(spark)
        metrics.reset()
        val isDefault = v == default
        val conf = if (isDefault) Nil else Seq(key -> v.toString)
        val t0 = System.nanoTime()
        val row = PlanMode.withConfs(spark, conf: _*) {
          try {
            val n = fn(spark, sfDir).queryExecution.toRdd.count()
            val w = (System.nanoTime() - t0) / 1e9
            val m = metrics.snapshot()
            f"| `$key`${if (isDefault) " (default)" else ""} | $v | $n | $w%.2f | " +
              f"${Harness.mb(m.shuffleReadBytes)}%.1f / ${Harness.mb(m.shuffleWriteBytes)}%.1f |"
          } catch { case e: Throwable =>
            bad += 1
            s"| `$key` | $v | FAILED: ${e.toString.take(120)} | | |"
          }
        }
        report ++= row + "\n"
        println(s"[knobsweep] $row")
      }
    }
    report ++= s"\nQueries: " +
      GraftConf.knobs.map { case (k, _, _) => s"`$k` → `${flagship(k)}`" }
        .mkString(", ") + ".\n"
    report ++=
      """
How to read this: on the ORGANIC sf corpora the result rows are
cap-invariant even at ¼× — the caps drop only keys hotter than any
key an organic corpus produces, so recall is intact and the response
shows up in the byte columns (semdedup cell pairs, dbscan band
pairs). The rows column moves only where a cap actually binds, which
takes a hot-key-saturated corpus: the stop-gram stressor in
docs/SCALE.md ("hot-gram caps proven on a stopword-saturated
stressor") is the binding/recall evidence; this table is the COST
response an operator consults before raising a cap at 100 TB
(4× a cap ⇒ up to ~2× candidate bytes here, still zero row change).
"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("docs/KNOBS.md"), report.toString)
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
