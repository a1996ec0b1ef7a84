package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The Tables.read resolved-relation cache must never serve stale rows:
  * a flat table directory rewritten with new files takes the miss path
  * (its one-level signature moved), and a partitioned layout is never
  * cached at all — a file rewritten in place inside a partition
  * subdirectory leaves the top-level listing unchanged, so only the miss
  * path can see it.
  */
class TablesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def assertIds(root: Path, want: Range): Unit = {
    val got = Tables.read(spark, root.toString, "t").select(col("id"))
      .collect().map(_.getLong(0)).toSet
    val fresh = got == want.map(_.toLong).toSet
    assert(fresh, s"read ${got.size} ids, want the ${want.size} in $want")
  }

  private def tempDir(): Path = {
    val dir = Files.createTempDirectory("graft-tables")
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile))
    dir
  }

  private def filesEndingWith(dir: Path, suffix: String): Seq[Path] = {
    val s = Files.walk(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(suffix)).toList
    } finally s.close()
  }

  test("Tables.read: a rewritten flat directory returns fresh rows") {
    val root = tempDir()
    val table = root.resolve("t.parquet").toString
    spark.range(0, 10).write.parquet(table)
    assertIds(root, 0 until 10)
    assertIds(root, 0 until 10) // served from the cache
    spark.range(100, 125).write.mode("overwrite").parquet(table)
    assertIds(root, 100 until 125)
  }

  test("Tables.read: a file rewritten inside a partition returns fresh rows") {
    val root = tempDir()
    val table = root.resolve("t.parquet")
    def write(dir: String, from: Long, n: Long): Unit =
      spark.range(from, from + n).withColumn("p", lit(1)).coalesce(1)
        .write.option("parquet.block.size", 4096).partitionBy("p").parquet(dir)
    write(table.toString, 0L, 10L)
    // The replacement is far longer and has many row groups: a reader
    // still holding the old listing (the old file length) plans one split
    // over the first few hundred bytes and misses most of its rows.
    val donor = root.resolve("donor.parquet")
    write(donor.toString, 500L, 20000L)
    // Drop the checksum sidecars now, so the in-place rewrite below
    // touches the data file only and every directory listing stays as it
    // was when the table was first read.
    filesEndingWith(root, ".crc").foreach(Files.delete)
    assertIds(root, 0 until 10)
    assertIds(root, 0 until 10)
    val Seq(target) = filesEndingWith(table, ".parquet")
    val Seq(source) = filesEndingWith(donor, ".parquet")
    val out = Files.newOutputStream(target) // truncate + write in place
    try Files.copy(source, out) finally out.close()
    assertIds(root, 500 until 20500)
  }
}
