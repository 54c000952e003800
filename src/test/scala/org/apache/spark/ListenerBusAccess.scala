package org.apache.spark

/** Test access to the one Spark internal a job-count assertion needs:
  * listener events arrive asynchronously, so a test that counts jobs
  * with a `SparkListener` waits for the bus to drain before reading.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
