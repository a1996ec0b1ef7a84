package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query-name filter]
    // (the driver passes two; the filter is for local iteration)
    val sfDir = args(0)
    val outDir = args(1)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    // SPARK_GRAFT_MASTER=local-cluster[2,8,4096] runs the SAME gate with
    // real separate executor JVMs — the multi-process posture a 100 TB
    // cluster has and single-JVM local[] structurally cannot exercise
    // (executor-side closure/expression serialization, broadcast
    // transport, per-executor memory). Everything else is identical, so
    // a green local-cluster run attests every query's plan survives
    // process boundaries.
    val spark = Harness.session("graft-verify", 4, sys.env.get("SPARK_GRAFT_MASTER"))
    new java.io.File(outDir).mkdirs()
    // A query that throws leaves NO parquet dir, and the driver's compare
    // silently omits it from CORRECTNESS_r{N}.json — 23 broken queries
    // read as an all-green round (r7 postmortem). Record every failure in
    // an explicit manifest next to the dumps and shout on stdout, so
    // missing coverage is visible rather than implied passing.
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          .linesIterator.take(3).mkString(" | ").take(500)
        System.err.println(s"[verify] $name failed: $msg")
        failed(name) = msg
      }
      // Free what the query persisted or checkpointed before the next
      // one runs, or storage accumulates over the whole registry.
      PlanMode.sweep(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = failed
      .map { case (k, v) => s"${q(k)}: {${q("err")}: ${q(v)}}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    if (failed.nonEmpty)
      println(s"[verify] ${failed.size}/${SparkEntry.queries.size} queries FAILED: " +
        failed.keys.mkString(", "))
    spark.stop()
    // Nonzero exit so the harness records the round as broken instead of
    // attesting a shrunken-but-green correctness report.
    if (failed.nonEmpty) sys.exit(1)
  }
}
