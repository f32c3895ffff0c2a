package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-cliff differential rung: the oracle gate runs two orders of
  * magnitude below the design point, so wrong-at-scale hazards that
  * are *empirical* (a plan that quietly goes quadratic, a valve that
  * stops valving, a window that serializes) can hide behind green
  * hashes. This tool measures the cliff directly: it derives a
  * `factor`× corpus from the sf0.1 fixture by key-shifted replication
  * (replica r adds r·10⁷ to every entity key, so joins stay
  * referentially intact and group cardinalities scale like a real
  * corpus; document texts get a per-replica suffix token so
  * cross-replica docs are near- but not exact-duplicates — dup GROUP
  * COUNTS scale ×factor while group sizes stay fixture-like), then
  * times the N slowest queries (from bench_full.json) at both scales
  * and reports the per-query growth exponent log_factor(t_big/t_base).
  * A query above exponent 1.3 is flagged super-linear — the
  * q_spearman-class alarm, caught empirically instead of by review.
  *
  * Replication is derived data for BENCHMARKING only (never an oracle
  * input): fixtures in /root/testdata remain the sole correctness
  * surface. Usage:
  *   runMain graft.tools.ScaleCliff [baseDir] [factor] [outJson] [topN]
  */
object ScaleCliff {

  private val Off = 10000000L

  private[tools] def scaledCopy(s: SparkSession, base: String, factor: Int): String = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_scalecliff_x$factor"
    val marker = new java.io.File(s"$dir/embeddings.parquet/_SUCCESS")
    if (marker.exists()) return dir
    val reps = s.range(factor).toDF("r")
    def write(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def rd(name: String): DataFrame = s.read.parquet(s"$base/$name.parquet")
    // Shift ONLY the named key columns; every other fixture column
    // passes through schema-blind, so a driver-side fixture refresh
    // that adds columns can never silently narrow the scaled corpus
    // (a dropped column would error the sweep's queries as ratio -1
    // and the coverage loss would read as "measured").
    def shifted(name: String, keys: Set[String],
                textSuffix: Boolean = false): Unit = {
      val df0 = rd(name)
      val cols = df0.columns.toIndexedSeq.map {
        case c if keys.contains(c) => (col(c) + col("r") * Off).as(c)
        case "text" if textSuffix =>
          // per-replica suffix token: cross-replica docs are NEAR- but
          // not exact-duplicates, so dup group COUNTS scale ×factor
          // while group sizes stay fixture-like
          concat(col("text"), lit(" zr"), col("r")).as("text")
        case c => col(c)
      }
      write(name, df0.crossJoin(reps).select(cols: _*))
    }
    // tiny dims stay constant at any SF (25 nations is reality)
    write("region", rd("region"))
    write("nation", rd("nation"))
    shifted("customer", Set("c_custkey"))
    shifted("supplier", Set("s_suppkey"))
    shifted("part", Set("p_partkey"))
    shifted("orders", Set("o_orderkey", "o_custkey"))
    shifted("lineitem", Set("l_orderkey", "l_partkey", "l_suppkey"))
    shifted("events", Set("event_id", "user_id"))
    shifted("documents", Set("doc_id"), textSuffix = true)
    shifted("embeddings", Set("vec_id"))
    dir
  }

  private def slowestKeys(n: Int): Seq[String] = {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("bench_full.json")), "UTF-8")
    val inner = txt.substring(txt.indexOf("\"queries\":{") + 11)
    // shared key regex (BenchProtocol.KeyEntry) — see IsolatedBench
    graft.BenchProtocol.KeyEntry.findAllMatchIn(inner)
      .map(m => m.group(1) -> m.group(2).toDouble).toSeq
      .sortBy(-_._2).take(n).map(_._1)
  }

  def main(args: Array[String]): Unit = {
    val base = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val outJson = args.lift(2).getOrElse("BENCH_sfX.json")
    val topN = args.lift(3).map(_.toInt).getOrElse(25)
    // optional 5th arg: explicit comma-separated key list (overrides
    // the slowest-N selection) — targeted exponent re-measures of a
    // specific key without timing the whole slow set
    val explicitKeys = args.lift(4).map(_.split(',').toSeq.map(_.trim)
      .filter(_.nonEmpty))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.BenchProtocol.session(cpus) // shared bench config
    val big = scaledCopy(spark, base, factor)
    println(s"[scalecliff] scaled corpus at $big (${factor}x $base)")
    val keys = explicitKeys.getOrElse(slowestKeys(topN))
    val qs = graft.SparkEntry.queries
    graft.BenchProtocol.warmUp(spark, keys, base)
    def once(k: String, dir: String): Double =
      graft.BenchProtocol.timeOnce(spark, k, qs(k), dir)
    def ms(v: Double): String =
      java.lang.String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // min over TWO FULL PASSES on BOTH sides (the Bench protocol —
    // full passes put minutes between a key's two samples so a host
    // pulse inflates different keys in each pass): a single scaled
    // run caught a pulse and flagged q_dedup_simhash at exponent
    // 1.42 where an isolated min-of-2 re-measure reads 1.06 — the
    // detector must not be noisier than the thing it detects
    def pass(dir: String): Map[String, Double] =
      keys.map(k => k -> once(k, dir)).toMap
    def best(m1: Map[String, Double], m2: Map[String, Double],
             k: String): Double = (m1(k), m2(k)) match {
      case (a, b) if a < 0 => b
      case (a, b) if b < 0 => a
      case (a, b) => math.min(a, b)
    }
    val (b1, b2) = (pass(base), pass(base))
    val (g1, g2) = (pass(big), pass(big))
    val rows = keys.map { k =>
      val b = best(b1, b2, k) match { case x if x < 0 => Double.MaxValue; case x => x }
      val g = best(g1, g2, k)
      val ratio = if (b > 0 && b < Double.MaxValue && g > 0) g / b else -1.0
      val expo = if (ratio > 0) math.log(ratio) / math.log(factor.toDouble) else -1.0
      val flag = expo > 1.3
      println(s"[scalecliff] $k base=${ms(if (b == Double.MaxValue) -1 else b)}s " +
        s"x$factor=${ms(g)}s ratio=${ms(ratio)} exponent=${ms(expo)}" +
        (if (flag) " SUPER-LINEAR" else ""))
      s""""$k":{"base_sec":${ms(if (b == Double.MaxValue) -1 else b)},"scaled_sec":${ms(g)},"ratio":${ms(ratio)},"exponent":${ms(expo)},"superlinear":$flag}"""
    }
    val w = new java.io.PrintWriter(outJson)
    try w.println(
      s"""{"base":"$base","factor":$factor,"top_n":$topN,"queries":{${rows.mkString(",")}}}""")
    finally w.close()
    println(s"[scalecliff] wrote $outJson")
    spark.stop()
  }
}
