package graft.tools

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Per-stage breakdown for one query run: stage name (callsite),
  * task count, summed task time — tells WHICH operator inside a
  * many-stage query owns the task time JobProfile reports as one
  * number. Diagnostic only — never feeds an artifact. */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",")
    val d = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = graft.BenchProtocol.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    val stages = mutable.ArrayBuffer.empty[(String, Int, Long)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        stages.synchronized {
          stages += ((sc.stageInfo.name.take(90), sc.stageInfo.numTasks,
            sc.stageInfo.taskMetrics.executorRunTime))
        }
    })
    names.foreach { n =>
      graft.BenchProtocol.warmUp(spark, Seq(n), d)
      Thread.sleep(300)
      stages.synchronized(stages.clear())
      val dt = graft.BenchProtocol.timeOnce(spark, n, graft.SparkEntry.queries(n), d)
      Thread.sleep(500)
      println(f"STAGEPROFILE $n wall=$dt%.3f s nstages=${stages.size}")
      stages.synchronized {
        stages.groupBy(_._1).map { case (nm, ss) =>
          (nm, ss.size, ss.map(_._2).sum, ss.map(_._3).sum)
        }.toSeq.sortBy(-_._4).take(12).foreach { case (nm, cnt, tk, ms) =>
          println(f"  STAGE x$cnt tasks=$tk%4d run=${ms / 1000.0}%7.2f s  $nm")
        }
      }
    }
    spark.stop()
  }
}
