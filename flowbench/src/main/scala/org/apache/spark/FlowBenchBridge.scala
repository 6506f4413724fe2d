package org.apache.spark

/** Access to the two `private[spark]` hooks the flow benchmark needs to
  * read settled numbers: the listener bus (so every job/task event of a
  * traced step is delivered before the step's counters are read) and
  * the context cleaner (so storage released by dropped references is
  * counted as released). Same one-file package-bridge pattern as the
  * library's `GraftColumnBridge`; no Spark internals are modified.
  */
object FlowBenchBridge {

  /** Blocks until every event posted so far has reached every listener. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Number of cleanup tasks the context cleaner has completed so far,
    * counted by an attached listener; `None` when the cleaner is off.
    */
  def attachCleanerCounter(sc: SparkContext): Option[java.util.concurrent.atomic.AtomicLong] =
    sc.cleaner.map { cleaner =>
      val n = new java.util.concurrent.atomic.AtomicLong()
      cleaner.attachListener(new CleanerListener {
        def rddCleaned(rddId: Int): Unit = n.incrementAndGet()
        def shuffleCleaned(shuffleId: Int): Unit = n.incrementAndGet()
        def broadcastCleaned(broadcastId: Long): Unit = n.incrementAndGet()
        def accumCleaned(accId: Long): Unit = n.incrementAndGet()
        def checkpointCleaned(rddId: Long): Unit = n.incrementAndGet()
      })
      n
    }
}
