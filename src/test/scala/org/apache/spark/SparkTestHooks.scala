package org.apache.spark

/** Test hooks into SparkContext state that is private[spark]. */
object SparkTestHooks {
  /** Block until the listener bus has delivered every posted event, so a
    * spec that counts jobs sees all of the code it measured.
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Run `body`, then restore the context's checkpoint directory. Spark
    * keeps one per SparkContext and PlanMode.checkpointTail pins it on
    * first use, so a spec that routes through its own reliable-checkpoint
    * directory must not leave that directory pinned for later specs.
    */
  def restoringCheckpointDir[A](sc: SparkContext)(body: => A): A = {
    val before = sc.checkpointDir
    try body
    finally sc.checkpointDir = before
  }
}
