package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Smoke test of the dev CLI's plan and profile modes on the
  * MaxTemperature-shaped registry query.
  */
class ProbeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val Q = "q_max_per_group"

  test("Probe plan --dump writes the formatted plan and leaves audit mode") {
    val dir = Files.createTempDirectory("graft-probe")
    try {
      Probe.plan(spark, Seq(Q), TestSpark.Sf, Some(dir.toString))
      assert(Files.readString(dir.resolve(s"$Q.txt")).contains("Physical Plan"))
      assert(!PlanMode.auditing)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("Probe profile reports at least one job per run") {
    val runs = Probe.profile(spark, Seq(Q), TestSpark.Sf)
    assert(runs.map(_.run) == Seq(1, 2))
    assert(runs.forall(r => r.jobs >= 1 && r.m.stages.nonEmpty), runs)
  }
}
