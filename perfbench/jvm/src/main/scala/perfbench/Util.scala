package perfbench

import java.util.Locale

/** Small statistics, JSON and logging helpers shared by the workloads. */
object Util {

  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Quantile, or 0 when the layer recorded no sample. */
  def quantileOr0(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else quantile(xs, q)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt)))
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def readJson(path: java.nio.file.Path): com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(path.toFile)

  def writeFile(path: java.nio.file.Path, text: String): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, text)
  }
}

/** One workload run's outcome: operations attempted and failed, the
  * outputs' verdict, the measured metrics (name -> (value, unit)) and
  * the name prefixes of the per-layer metrics the workload leaves idle. */
final case class Outcome(attempted: Long, failed: Long, correct: Boolean,
                         metrics: Seq[(String, Double, String)], idle: Seq[String]) {
  def json: String = Util.obj(Seq(
    "result" -> Util.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Util.obj(metrics.map { case (n, v, u) =>
        n -> Util.obj(Seq("value" -> Util.num(v), "unit" -> Util.str(u)))
      }))),
    "idle" -> idle.map(Util.str).mkString("[", ", ", "]")))
}
