package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The ANN plane-count dial, MEASURED (SURVEY §6.1): the streaming
  * ANN ingest probe is honestly linear at a fixed plane count (probes
  * and index grow together over a fixed 2^nPlanes bucket space, so
  * per-probe candidate work grows with corpus depth), and the
  * documented production dial is nPlanes ≈ log₂(N / target bucket
  * size). This tool turns that prose into an artifact: it times the
  * ingest-probe shape — [[graft.engine.VectorOps.stageAnnIndex]] over
  * half the corpus, [[graft.engine.VectorOps.classifyAnnBatch]] over
  * the other half (the same annProbeScore core the real stream runs) —
  * at 8 and 16 hyperplanes, on the sf0.1 fixture and the ×10
  * key-shifted ScaleCliff corpus, min over two full passes on every
  * cell (the detector-noise protocol), and writes the four cells plus
  * per-plane-count growth exponents side by side.
  *
  * Expected shape: at 8 planes (256 buckets) ×10 corpus depth inflates
  * bucket occupancy ×10 on BOTH sides of the candidate join; at 16
  * planes (65 536 buckets) the same corpus sits at fixture-like
  * occupancy and the probe exponent falls — turning the dial IS the
  * scale story, now measured rather than claimed.
  *
  * Usage: runMain graft.tools.PlaneDial [baseDir] [factor] [outJson]
  */
object PlaneDial {
  def main(args: Array[String]): Unit = {
    val base = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val outJson = args.lift(2).getOrElse("BENCH_planes.json")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.BenchProtocol.session(cpus) // shared bench config
    val big = ScaleCliff.scaledCopy(spark, base, factor)
    println(s"[planedial] scaled corpus at $big (${factor}x $base)")

    def emb(dir: String) = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))

    // stage one index per (corpus, planes) cell — staging is the
    // build side, timed separately from the probe (the dial trades
    // probe work; the index write grows linearly either way).
    // Dial settings measured: the fixed-narrow space (8 planes,
    // 1 probe bit), the widened space (16/1), and the PAIRED
    // production setting (16 planes / 2 probe bits — the wider space
    // splits true neighbors across more buckets, the extra probe bit
    // buys them back; see Round21OpsSpec's recall measurement).
    val settings = Seq((8, 1), (16, 1), (16, 2))
    val cells = for (dir <- Seq(base, big); (planes, bits) <- settings)
      yield (dir, planes, bits)
    val idxPaths: Map[(String, Int), String] =
      (for (dir <- Seq(base, big); p <- settings.map(_._1).distinct) yield {
        val path = graft.engine.StagedPaths.tmp(s"graft_planedial_${p}")
        val t0 = System.nanoTime()
        graft.engine.VectorOps.stageAnnIndex(
          emb(dir).filter(col("vec_id") % 2 === 0), path, nPlanes = p, dim = 64)
        println(f"[planedial] staged $dir planes=$p in ${(System.nanoTime() - t0) / 1e9}%.3f s")
        (dir, p) -> path
      }).toMap

    def once(dir: String, planes: Int, bits: Int): Double =
      // shared timing protocol; the consuming count() rides inside
      graft.BenchProtocol.timeOnce(spark, s"ann planes=$planes bits=$bits", (s, dd) =>
        graft.engine.VectorOps.classifyAnnBatch(s, idxPaths((dd, planes)),
          emb(dd).filter(col("vec_id") % 2 === 1), nPlanes = planes,
          dim = 64, probeBits = bits)
          .groupBy("status").agg(count(lit(1)).as("n")), dir)
    // warm-up pass (codegen/JIT) on the small side
    settings.foreach { case (p, b) => once(base, p, b) }
    // min over two FULL passes across all cells (pulse protocol)
    val passes = (1 to 2).map(_ =>
      cells.map { case (d, p, b) => (d, p, b) -> once(d, p, b) }.toMap)
    def best(d: String, p: Int, b: Int): Double = passes.map(_((d, p, b))).min
    def ms(v: Double): String =
      java.lang.String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

    val rows = settings.map { case (p, bits) =>
      val b = best(base, p, bits)
      val g = best(big, p, bits)
      val expo = math.log(g / b) / math.log(factor.toDouble)
      println(s"[planedial] planes=$p bits=$bits base=${ms(b)}s x$factor=${ms(g)}s exponent=${ms(expo)}")
      s""""planes_${p}_bits_$bits":{"base_sec":${ms(b)},"scaled_sec":${ms(g)},"ratio":${ms(g / b)},"exponent":${ms(expo)}}"""
    }
    val w = new java.io.PrintWriter(outJson)
    try w.println(s"""{"base":"$base","factor":$factor,"probe":"stageAnnIndex(half) + classifyAnnBatch(half), min of 2 full passes, cells are (planes, probeBits)","dim":64,"cells":{${rows.mkString(",")}}}""")
    finally w.close()
    println(s"[planedial] wrote $outJson")
    spark.stop()
  }
}
