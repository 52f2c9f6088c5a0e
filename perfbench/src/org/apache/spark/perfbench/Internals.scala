package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** The two private[spark] members a traced run reads, hence this package. */
object Internals {
  /** The listener bus delivers events asynchronously; wait until listeners
    * have seen everything posted so far.
    */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The shuffle a map stage writes, linking the stage to its exchange. */
  def shuffleDepId(i: StageInfo): Option[Int] = i.shuffleDepId
}
