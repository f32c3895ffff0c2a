package graft.tools
object TimeQ {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",")
    val d = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    // session + timing from BenchProtocol so TimeQ numbers stay
    // comparable to bench_full.json / BENCH_isolated.json (a private
    // config copy here had already drifted: it omitted AQE)
    val spark = graft.BenchProtocol.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    val reps = sys.env.getOrElse("TIMEQ_RUNS", "3").toInt
    names.foreach { n =>  // warm + N timed, report each + min
      graft.BenchProtocol.warmUp(spark, Seq(n), d)
      val ts = (1 to reps).map { i =>
        val dt = graft.BenchProtocol.timeOnce(spark, n,
          graft.SparkEntry.queries(n), d)
        println(f"TIMEQ $n run$i $dt%.3f s")
        dt
      }
      println(f"TIMEQ $n min ${ts.min}%.3f s")
    }
    spark.stop()
  }
}
