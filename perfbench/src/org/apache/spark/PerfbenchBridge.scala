package org.apache.spark

/** The two non-public reads the tracer needs. */
object PerfbenchBridge {
  /** Listener events are delivered asynchronously: read a layer's counters
    * only after the bus has delivered everything posted so far. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whether a completed stage was the map side of a shuffle (an exchange). */
  def isShuffleMap(stage: scheduler.StageInfo): Boolean = stage.shuffleDepId.isDefined
}
