package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** Access to `private[spark]` scheduler state the tracer reads. */
object Bus {
  /** Block until every event posted so far has been delivered, so
    * listener-side counts are final. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** True for a shuffle-map stage (the final stage of a map-stage job). */
  def isMapStage(s: StageInfo): Boolean = s.shuffleDepId.isDefined
}
