package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession for the whole test JVM (suites run sequentially in
  * the forked test process).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val Sf = "/root/testdata/sf0.001"

  /** Run `body` with spark.graft.checkpoint.dir set, so every
    * PlanMode.checkpointTail takes the reliable Dataset.checkpoint route;
    * the conf and the context's checkpoint directory are restored after.
    */
  def withReliableCheckpointDir[A](body: => A): A =
    org.apache.spark.SparkTestHooks.restoringCheckpointDir(spark.sparkContext) {
      spark.conf.set("spark.graft.checkpoint.dir", reliableDir)
      try body
      finally spark.conf.unset("spark.graft.checkpoint.dir")
    }
  private lazy val reliableDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(dir))
    dir.toURI.toString
  }
}
