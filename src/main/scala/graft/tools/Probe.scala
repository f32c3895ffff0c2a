package graft.tools
/** Dev-only smoke probe: mirrors the driver's t1 check (entry rows>0). */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = graft.BenchProtocol.session("4")
    spark.sparkContext.setLogLevel("ERROR")
    println("ENTRY_ROWS=" + graft.SparkEntry.entry(spark).count())
    spark.stop()
  }
}
