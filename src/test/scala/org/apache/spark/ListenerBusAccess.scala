package org.apache.spark

import java.util.concurrent.CountDownLatch

import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated}

/** Test access to the Spark internals job-count and size assertions
  * need: listener events arrive asynchronously, so a test that counts
  * jobs with a `SparkListener` waits for the bus to drain before reading.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Stalls the status queue, whose listener fills the status store
    * behind `SparkContext.getRDDStorageInfo`, at its first block update
    * until the returned function is called. Until then that store lags
    * the block manager, as it can after any job.
    */
  def holdStatusQueue(sc: SparkContext): () => Unit = {
    val latch = new CountDownLatch(1)
    val hold = new SparkListener {
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = latch.await()
    }
    sc.listenerBus.addToStatusQueue(hold)
    () => { latch.countDown(); sc.listenerBus.removeListener(hold) }
  }
}
