package graft.streaming

/** Tiny driveable surface for the streaming plane: runs the hourly
  * windowed aggregation over a static events dir through a real
  * StreamingQuery (memory sink) and prints the row count + a sample, so
  * streaming behavior is observable outside the test suite.
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Harness.session("graft-stream-demo", 4)
    val out = EventStream.runOnce(spark, dir)
    println(s"[stream-demo] hourly-agg rows=${out.count()}")
    out.orderBy("bucket", "event_type").show(5, truncate = false)
    val sessions = SessionStream.runOverStaticDir(spark, dir)
    println(s"[stream-demo] sessionized users=${sessions.count()}")
    sessions.orderBy("user_id").show(5, truncate = false)
    val deduped = DedupStream.runOnce(spark, dir)
    println(s"[stream-demo] dedup survivors=${deduped.count()}")
    val joined = JoinStream.runOnce(spark, dir)
    println(s"[stream-demo] stream-stream join pairs=${joined.count()}")
    val historyDir = java.nio.file.Files
      .createTempDirectory("graft_ingest_demo").toString + "/history"
    val ingested = CorpusStream.runOnce(spark, dir, historyDir)
    println(s"[stream-demo] corpus ingest survivors=${ingested.count()}")
    val again = CorpusStream.runOnce(spark, dir, historyDir)
    println(s"[stream-demo] re-ingest history size=${again.count()} (idempotent)")
    spark.stop()
  }
}
