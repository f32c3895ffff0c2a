package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

/** Counters of the benchmark's own JVM, where Spark runs in local
  * mode: collector time, peak heap, and the heap still in use after a
  * full collection. */
object Jvm {
  private def pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble

  def resetPeak(): Unit = pools.foreach(_.resetPeakUsage())

  def peakHeapMb(): Double = pools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  def retainedHeapMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Retained heap once Spark's context cleaner, which frees shuffle and
    * broadcast state only after a collection finds it unreachable, has
    * caught up: collect until the figure stops falling (at most 10x). */
  def settledHeapMb(): Double = {
    var last = retainedHeapMb()
    var now = last
    var rounds = 0
    do {
      last = now
      Thread.sleep(200)
      now = retainedHeapMb()
      rounds += 1
    } while (last - now > 1.0 && rounds < 10)
    now
  }
}
