package org.apache.spark

import java.util.concurrent.CountDownLatch

import scala.reflect.ClassTag

import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerInterface}

/** Test access to the listener bus: which listeners it holds, and a way
  * to hold back the status store the way a busy bus does.
  */
object ListenerBusAccess {
  /** The listeners of class `T` on `sc`'s bus, over all its queues. */
  def listeners[T <: SparkListenerInterface: ClassTag](sc: SparkContext): Seq[T] =
    sc.listenerBus.findListenersByClass[T]()

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
