package org.apache.spark

/** The one private Spark call the benchmark needs: listener events arrive
  * asynchronously, so a traced run waits for the bus to empty before it
  * reads its counts.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
