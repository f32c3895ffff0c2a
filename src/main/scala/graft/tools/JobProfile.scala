package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Profiling probe for optimization work: runs each named query once
  * (warm) and once timed under the shared BenchProtocol, with a
  * SparkListener attached, and reports wall seconds vs #jobs, #stages,
  * #tasks and summed task time. A query whose wall time is several ×
  * its summed task time / cores is scheduling/latency-bound (too many
  * sequential jobs — eager checkpoints, unrolled iterations), not
  * compute-bound; that distinction picks the optimization (fewer jobs
  * vs cheaper operators). An optional third argument applies
  * session-conf overrides (`spark.conf.set`, e.g. AQE off or a
  * plan-string cap) to measure what a config change does to a query
  * without touching BenchProtocol. Diagnostic only — never feeds an
  * artifact.
  *
  * Usage: runMain graft.tools.JobProfile <keys,csv> [sfDir] [k=v[,k=v...]]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",")
    val d = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = graft.BenchProtocol.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    if (args.length > 2) args(2).split(",").foreach { kv =>
      val i = kv.indexOf('=')
      require(i > 0, s"conf override must be k=v, got '$kv'")
      spark.conf.set(kv.take(i), kv.drop(i + 1))
    }
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskMs = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskInfo != null)
          taskMs.addAndGet(t.taskInfo.duration)
      }
    })
    names.foreach { n =>
      graft.BenchProtocol.warmUp(spark, Seq(n), d) // uncounted
      Thread.sleep(300) // let listener drain
      jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0L)
      val dt = graft.BenchProtocol.timeOnce(spark, n, graft.SparkEntry.queries(n), d)
      Thread.sleep(500) // listener events are async
      println(f"JOBPROFILE $n wall=$dt%.3f s jobs=${jobs.get} stages=${stages.get} tasks=${tasks.get} taskTime=${taskMs.get / 1000.0}%.2f s")
    }
    spark.stop()
  }
}
