package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Decomposes the per-query floor for a list of keys: DataFrame
  * construction time (analysis + any eager checkpoint builds), action
  * time (.count()), driver-side vs task-side split (wall − summed
  * task time / cores), and job count — the evidence base for the
  * round-16 "attack the sub-1s floor" work item. Also times raw
  * reader construction (listing + parquet schema inference) for the
  * fixture tables, since every query pays that at build time.
  * Diagnostic only — never feeds an artifact.
  *
  * Usage: runMain graft.tools.FloorProbe <keys,csv|tables|trivial> [sfDir]
  */
object FloorProbe {
  def main(args: Array[String]): Unit = {
    val d = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = graft.BenchProtocol.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskMs = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
      }
    })
    def reset(): Unit = { jobs.set(0); tasks.set(0); taskMs.set(0L) }

    if (args(0) == "tables") {
      // reader-construction cost: file listing + parquet schema
      // inference, paid by every spark.read.parquet at build time
      val names = Seq("lineitem", "orders", "customer", "events",
        "documents", "embeddings", "part", "supplier", "nation", "region")
      names.foreach { n =>
        val p = s"$d/$n.parquet"
        spark.read.parquet(p) // warm the listing cache
        val t0 = System.nanoTime()
        (1 to 20).foreach(_ => spark.read.parquet(p))
        val dt = (System.nanoTime() - t0) / 1e9 / 20
        println(f"FLOORPROBE table=$n read_construct=${dt * 1000}%.1f ms")
      }
      // with an explicit schema (no inference)
      names.foreach { n =>
        val p = s"$d/$n.parquet"
        val sch = spark.read.parquet(p).schema
        val t0 = System.nanoTime()
        (1 to 20).foreach(_ => spark.read.schema(sch).parquet(p))
        val dt = (System.nanoTime() - t0) / 1e9 / 20
        println(f"FLOORPROBE table=$n read_construct_with_schema=${dt * 1000}%.1f ms")
      }
      spark.stop(); return
    }

    if (args(0) == "trivial") {
      // the absolute floor: a 1-row range count (plan + 1 job + 1 task)
      spark.range(1).count()
      (1 to 3).foreach { i =>
        val t0 = System.nanoTime()
        (1 to 20).foreach(_ => spark.range(1).count())
        println(f"FLOORPROBE trivial pass$i avg=${(System.nanoTime() - t0) / 1e9 / 20 * 1000}%.1f ms")
      }
      spark.stop(); return
    }

    val names = args(0).split(",")
    names.foreach { n =>
      val fn = graft.SparkEntry.queries.getOrElse(n,
        sys.error(s"unknown query: $n"))
      graft.BenchProtocol.warmUp(spark, Seq(n), d)
      Thread.sleep(200)
      (1 to 2).foreach { pass =>
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
        reset()
        val t0 = System.nanoTime()
        val df = fn(spark, d)
        val t1 = System.nanoTime()
        df.count()
        val t2 = System.nanoTime()
        Thread.sleep(300)
        println(f"FLOORPROBE $n pass=$pass build=${(t1 - t0) / 1e6}%.0f ms " +
          f"exec=${(t2 - t1) / 1e6}%.0f ms total=${(t2 - t0) / 1e6}%.0f ms " +
          f"jobs=${jobs.get} tasks=${tasks.get} taskTime=${taskMs.get / 1000.0}%.2f s")
      }
    }
    spark.stop()
  }
}
