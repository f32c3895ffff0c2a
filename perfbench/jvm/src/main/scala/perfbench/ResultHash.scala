package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Row}

/** The consuming action every timed key ends in, and the check of its
  * output: the whole physical plan runs (sorts included, no column
  * pruned — `count()` would let Catalyst drop every column nothing
  * observes), each row is hashed where it is produced, and only a row
  * count and an order-insensitive multiset hash come back.
  *
  * Columns are hashed in name order (the oracle compares columns
  * sorted by name). Doubles are hashed at 9 significant digits, so
  * summation-order noise in the last bits of a parallel aggregate
  * cannot flip a hash; decimals and integers are exact. */
object ResultHash {

  final case class Digest(rows: Long, hash: Long)

  def consume(df: DataFrame): Digest = {
    val sc = df.sparkSession.sparkContext
    val rows = sc.longAccumulator("perfbench.rows")
    val hashes = sc.longAccumulator("perfbench.hash")
    val order = df.schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    df.foreachPartition { (it: Iterator[Row]) =>
      var n = 0L
      var h = 0L
      it.foreach { r =>
        n += 1
        h += fmix(rowHash(r, order))
      }
      rows.add(n)
      hashes.add(h)
    }
    Digest(rows.sum, hashes.sum)
  }

  private val Sig = new MathContext(9)

  def rowHash(r: Row, order: Array[Int]): Long = {
    var h = 0x6a09e667f3bcc909L
    order.foreach(i => h = fmix(h * 31 + value(r.get(i))))
    h
  }

  def value(v: Any): Long = v match {
    case null => 0x1b873593L
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case b: JBigDecimal => text(b.stripTrailingZeros.toPlainString)
    case b: scala.math.BigDecimal => text(b.bigDecimal.stripTrailingZeros.toPlainString)
    case l: Long => fmix(l)
    case i: Int => fmix(i.toLong)
    case s: Short => fmix(s.toLong)
    case b: Byte => fmix(b.toLong)
    case b: Boolean => if (b) 0x5bd1e995L else 0x2545f491L
    case s: String => text(s)
    case a: Array[Byte] => bytes(a)
    case r: Row => rowHash(r, (0 until r.length).toArray)
    case m: scala.collection.Map[_, _] =>
      m.foldLeft(0x3c6ef372L) { case (acc, (k, x)) => acc + fmix(value(k) * 31 + value(x)) }
    case s: scala.collection.Seq[_] =>
      s.foldLeft(0x510e527fL)((acc, x) => fmix(acc * 31 + value(x)))
    case t: java.sql.Timestamp => fmix(t.getTime * 1000L + (t.getNanos / 1000) % 1000)
    case other => text(other.toString)
  }

  private def double(d: Double): Long =
    if (d.isNaN) 0x7ff8000000000000L
    else if (d.isInfinite) java.lang.Double.doubleToLongBits(d)
    else if (d == 0.0) 0L
    else text(new JBigDecimal(d).round(Sig).stripTrailingZeros.toString)

  private def text(s: String): Long = bytes(s.getBytes(UTF_8))

  private def bytes(a: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    a.foreach { b => h = (h ^ (b & 0xff)) * 0x100000001b3L }
    fmix(h ^ a.length)
  }

  /** MurmurHash3's 64-bit finalizer. */
  def fmix(x: Long): Long = {
    var k = x
    k ^= k >>> 33
    k *= 0xff51afd7ed558ccdL
    k ^= k >>> 33
    k *= 0xc4ceb9fe1a85ec53L
    k ^= k >>> 33
    k
  }
}
