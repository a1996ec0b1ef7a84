package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The dev CLI reads the executions a query actually runs: audit rows
  * and plan dumps cover the checkpoints fired while q_dedup_cluster's
  * frame is built, not only its final collect. Profile is smoke-tested
  * on the MaxTemperature-shaped registry query.
  */
class ProbeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val Q = "q_max_per_group"
  private val Checkpointing = "q_dedup_cluster"

  private def isCheckpoint(action: String): Boolean =
    action == "localCheckpoint" || action == "checkpoint"

  test("Probe audit counts the construction checkpoints as executions") {
    val row = Probe.auditRow(spark, Checkpointing, TestSpark.Sf)
    assert(row.actions.size >= 3, row)
    assert(row.actions.exists(isCheckpoint), row)
    assert(row.actions.last == "collect", row)
  }

  test("Probe audit rows repeat run to run") {
    val first = Probe.auditRow(spark, Checkpointing, TestSpark.Sf)
    val second = Probe.auditRow(spark, Checkpointing, TestSpark.Sf)
    assert(first == second)
  }

  test("Probe plan --dump writes one formatted plan per recorded execution") {
    val dir = Files.createTempDirectory("graft-probe")
    try {
      val Seq((q, actions)) = Probe.plan(spark, Seq(Checkpointing), TestSpark.Sf,
                                         Some(dir.toString))
      assert(q == Checkpointing)
      val text = Files.readString(dir.resolve(s"$q.txt"))
      assert(actions.size >= 3, actions)
      assert("== Physical Plan ==".r.findAllMatchIn(text).size == actions.size)
      actions.zipWithIndex.foreach { case (a, i) =>
        assert(text.contains(s"===== execution ${i + 1}/${actions.size}: $a ====="))
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("Probe profile reports at least one job per run") {
    val runs = Probe.profile(spark, Seq(Q), TestSpark.Sf)
    assert(runs.map(_.run) == Seq(1, 2))
    assert(runs.forall(r => r.jobs >= 1 && r.m.stages.nonEmpty), runs)
  }
}
