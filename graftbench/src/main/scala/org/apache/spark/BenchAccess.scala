package org.apache.spark

import java.util.concurrent.atomic.AtomicLong

/** The two Spark internals the benchmark waits on off the clock, hence this
  * one file in Spark's package: the listener bus (so a span's task metrics
  * are complete before they are read) and the ContextCleaner (so the
  * shuffles, broadcasts and blocks an op dropped are cleaned before the next
  * op starts, not during it).
  */
object BenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  private val lastCleanNs = new AtomicLong()
  @volatile private var watched: SparkContext = _

  /** Collects garbage, which hands dropped references to the cleaner, then
    * waits until the cleaner has done nothing for 300 ms (its queue poll
    * interval is 100 ms), for at most 5 s.
    */
  def drainCleaner(sc: SparkContext): Unit = {
    val quietMs = 300L
    val maxMs = 5000L
    if (watched ne sc) {
      sc.cleaner.foreach(_.attachListener(new CleanerListener {
        private def touch(): Unit = lastCleanNs.set(System.nanoTime())
        def rddCleaned(rddId: Int): Unit = touch()
        def shuffleCleaned(shuffleId: Int): Unit = touch()
        def broadcastCleaned(broadcastId: Long): Unit = touch()
        def accumCleaned(accId: Long): Unit = touch()
        def checkpointCleaned(rddId: Long): Unit = touch()
      }))
      watched = sc
    }
    System.gc()
    val start = System.nanoTime()
    lastCleanNs.set(start)
    while (System.nanoTime() - lastCleanNs.get() < quietMs * 1000000L &&
      System.nanoTime() - start < maxMs * 1000000L) Thread.sleep(10)
  }
}
