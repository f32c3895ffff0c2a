package graft.tools

import org.apache.spark.sql.SparkSession

/** TimeQ-isolated canonical bench snapshot — the artifact that ends
  * the per-round bench-noise adjudication loop: three rounds running,
  * per-key verdicts from the loaded full bench pass had to be
  * hand-re-measured (host load pulses inflate individual keys even
  * through the min-of-2-full-passes protocol, and calibration
  * normalization itself disagreed ~40% across load phases — uniform
  * division cannot fix minutes-scale pulses). This tool re-times the
  * slowest N keys of the committed `bench_full.json` under the TimeQ
  * isolation protocol — sequential, min of 3 runs with minutes of
  * other keys' work between a key's samples, persistent-RDD blocks
  * dropped before each run — and writes `BENCH_isolated.json`:
  * per-key isolated seconds plus the pinned calibration probe, so
  * per-key regression verdicts come from ISOLATION, committed and
  * refreshed each round, not from whatever the full pass's host
  * happened to be doing.
  *
  * Usage: runMain graft.tools.IsolatedBench [sfDir] [outJson] [topN]
  */
object IsolatedBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outJson = args.lift(1).getOrElse("BENCH_isolated.json")
    val topN = args.lift(2).map(_.toInt).getOrElse(25)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // session/calibration/prep/timing shared with Bench via
    // BenchProtocol — the probe and config are code-identical across
    // tools (calibration comparisons additionally require the same
    // SPARK_GRAFT_CPUS; see BenchProtocol's caveat)
    val spark = graft.BenchProtocol.session(cpus)

    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("bench_full.json")), "UTF-8")
    val inner = txt.substring(txt.indexOf("\"queries\":{") + 11)
    // shared key regex (BenchProtocol.KeyEntry): a mixed-case key must
    // never be silently excluded from isolated re-timing
    val keys = graft.BenchProtocol.KeyEntry.findAllMatchIn(inner)
      .map(m => m.group(1) -> m.group(2).toDouble).toSeq
      .sortBy(-_._2).take(topN).map(_._1)

    val qs = graft.SparkEntry.queries
    graft.BenchProtocol.warmUp(spark, keys, sfDir)
    // table prep the timed keys depend on (one-time sinks, Bench protocol)
    graft.BenchProtocol.prepTables(spark, sfDir)

    def once(k: String): Double =
      graft.BenchProtocol.timeOnce(spark, k, qs(k), sfDir)
    // three FULL PASSES over the key list (not back-to-back per key):
    // minutes of other keys' work between a key's samples, so one host
    // pulse cannot poison all three — the property that makes the min
    // a steady-state estimate (same reasoning as Bench's two passes,
    // with a third sample for the tail)
    val passes = (1 to 3).map(_ => keys.map(k => k -> once(k)).toMap)
    def ms(v: Double): String =
      java.lang.String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

    // the pinned calibration probe (shared), min-of-3, for context
    val calibration = graft.BenchProtocol.calibrate(spark)

    val rows = keys.map { k =>
      val vs = passes.map(_(k)).filter(_ >= 0)
      val v = if (vs.isEmpty) -1.0 else vs.min
      println(s"[isolated] $k min=${ms(v)}s samples=[${passes.map(p => ms(p(k))).mkString(", ")}]")
      s""""$k":${ms(v)}"""
    }
    val w = new java.io.PrintWriter(outJson)
    try w.println(s"""{"protocol":"min-of-3, sequential full passes, isolated single-query runs","sf":"$sfDir","top_n":$topN,"calibration_sec":${ms(calibration)},"queries":{${rows.mkString(",")}}}""")
    finally w.close()
    println(s"[isolated] wrote $outJson")
    spark.stop()
  }
}
