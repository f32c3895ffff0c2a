package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.collection.mutable

/** In-memory per-topic stream store with byte-bounded drop-oldest
  * eviction and idle-TTL expiry — the reference's Stream Manager
  * semantics (stream/manager.go):
  *
  *  - per-stream byte budget, evict oldest batches until the new batch
  *    fits, count dropped rows            (stream/manager.go:277-343)
  *  - size estimate rows × cols × 8      (stream/manager.go:419-427)
  *  - idle-TTL expiry of whole streams   (stream/manager.go:150-184)
  *  - create-on-access registry          (stream/manager.go:216-241)
  *  - catalog listing / schema fetch / full-scan serve
  *                                       (flight/server.go:82-230)
  *
  * PARITY-MODE COMPONENT: this is deliberately a single-node,
  * driver-side store (the reference is single-node by design,
  * art/article.md:107), fed from `foreachBatch`. At 100 TB the same
  * semantics ride on watermarked streaming state (see
  * StreamingOps.qStreamSessionTtl for the TTL analog) or an external
  * store; a driver-held buffer is NOT the scale path and is bounded by
  * `maxBytesPerStream` for exactly that reason. Clock is injected for
  * deterministic tests. */
final class StreamStore(
    maxBytesPerStream: Long = 100L * 1024 * 1024,
    ttlMillis: Long = 60000L,
    now: () => Long = () => System.currentTimeMillis()) {

  import StreamStore.{ColZone, DblZone, StrZone, Zone}

  final case class Batch(rows: Seq[Row], sizeBytes: Long,
                         zones: Map[String, ColZone])

  private final class Entry(val schema: StructType) {
    val batches = mutable.ArrayDeque.empty[Batch]
    var currentBytes = 0L
    var droppedRows = 0L
    /** Batches whose zone stats were computed — incremented only in
      * append, so specs can pin "planning never rescans rows" as
      * `zoneComputations == appended` regardless of how many times a
      * query was planned over the topic. */
    var zoneComputations = 0L
    /** Monotone count of batches EVER appended — the topic's streaming
      * offset axis. The absolute index of the oldest still-buffered
      * batch is `appended - batches.size` (eviction moves the tail of
      * the axis, never renumbers it) — the same Kafka-style offset
      * contract the streaming source needs. */
    var appended = 0L
    var lastUpdated: Long = now()
  }

  private val streams = mutable.LinkedHashMap.empty[String, Entry]

  /** rows × cols × 8 heuristic (stream/manager.go:419-427). */
  def estimateSize(nRows: Int, nCols: Int): Long = nRows.toLong * nCols * 8

  /** Append a batch; evict oldest batches until it fits the byte
    * budget. A batch larger than the whole budget is dropped outright —
    * a deliberate deviation from the reference, whose AddBatch
    * (stream/manager.go) evicts until empty and then still appends the
    * oversized batch, letting currentSize exceed maxBytes. We keep the
    * byte-budget invariant instead (property-tested: currentBytes ≤
    * maxBytesPerStream always holds). Returns rows dropped by
    * eviction. */
  def append(topic: String, schema: StructType, rows: Seq[Row]): Long = synchronized {
    val e = streams.getOrElseUpdate(topic, new Entry(schema))
    e.lastUpdated = now()
    val size = estimateSize(rows.size, schema.size)
    var dropped = 0L
    if (size > maxBytesPerStream) {
      dropped = rows.size.toLong
      e.droppedRows += dropped
      return dropped
    }
    while (e.currentBytes + size > maxBytesPerStream && e.batches.nonEmpty) {
      val old = e.batches.removeHead()
      e.currentBytes -= old.sizeBytes
      dropped += old.rows.size
    }
    e.droppedRows += dropped
    e.batches.append(Batch(rows, size, computeZones(schema, rows)))
    e.zoneComputations += 1
    e.currentBytes += size
    e.appended += 1
    dropped
  }

  /** One pass over the rows the append already holds: min/max/hasNull
    * per ZONEABLE column — integral types (as longs), timestamps (as
    * epoch micros) and dates (as epoch days) share the long [[Zone]];
    * doubles and floats get [[DblZone]] under Spark's NaN-largest /
    * -0.0 == 0.0 comparison order; strings get a TRUNCATED [[StrZone]]
    * (parquet's truncated footer statistics: prefix lower bound,
    * incremented-prefix upper bound). Cost is O(rows × zoneable cols)
    * paid once per batch at write time — plan time then reads these
    * maps in O(#batches), the footer-stats discipline Iceberg/parquet
    * use. */
  private def computeZones(schema: StructType, rows: Seq[Row]): Map[String, ColZone] = {
    import org.apache.spark.sql.types._
    schema.fields.zipWithIndex.flatMap { case (f, idx) =>
      val toLong: Option[Any => Option[Long]] = f.dataType match {
        case LongType | IntegerType | ShortType | ByteType =>
          Some({ case n: Number => Some(n.longValue()); case _ => None })
        case TimestampType => Some(StreamStore.timestampMicros)
        case DateType => Some(StreamStore.dateDays)
        case _ => None
      }
      toLong match {
        case Some(conv) =>
          var mn = Long.MaxValue
          var mx = Long.MinValue
          var hasNull = false
          rows.foreach { r =>
            conv(r.get(idx)) match {
              case Some(v) =>
                if (v < mn) mn = v
                if (v > mx) mx = v
              case None => hasNull = true
            }
          }
          Some(f.name -> Zone(mn, mx, hasNull))
        case None if f.dataType == DoubleType || f.dataType == FloatType =>
          // fractional axis under the ENGINE'S comparison order
          // (nanSafeCmpDouble — NaN largest and equal to itself,
          // -0.0 == 0.0): the same order the reader evaluates pushed
          // predicates with, so pruning can never disagree with it. A
          // float widens to double exactly, so one axis serves both.
          // NaN values participate as the largest element (a NaN-
          // holding batch gets max = NaN and stays un-prunable by any
          // upper-side predicate — exactly right, since `x > v` is
          // TRUE for NaN rows under Spark's NaN semantics).
          var mn = Double.PositiveInfinity
          var mx = Double.NegativeInfinity
          var any = false
          var hasNull = false
          rows.foreach { r =>
            r.get(idx) match {
              case n: Number =>
                val v = n.doubleValue()
                any = true
                if (StreamStore.nanSafeCmpDouble(v, mn) < 0) mn = v
                if (StreamStore.nanSafeCmpDouble(v, mx) > 0) mx = v
              case _ => hasNull = true
            }
          }
          // all-null batch keeps the inverted (+∞, -∞) range, which
          // DblZone.nonEmpty reads as "no values" — same convention as
          // the long Zone's (MaxValue, MinValue)
          Some(f.name ->
            (if (any) DblZone(mn, mx, hasNull)
             else DblZone(Double.PositiveInfinity, Double.NegativeInfinity,
               hasNull)))
        case None if f.dataType == StringType =>
          var mn: String = null
          var mx: String = null
          var hasNull = false
          rows.foreach { r =>
            r.get(idx) match {
              case s: String =>
                if (mn == null || s.compareTo(mn) < 0) mn = s
                if (mx == null || s.compareTo(mx) > 0) mx = s
              case _ => hasNull = true
            }
          }
          StreamStore.strZoneOf(mn, mx, hasNull).map(f.name -> _)
        case None => None
      }
    }.toMap
  }

  /** Zone stats per surviving batch, aligned with [[batchesOf]] order —
    * the plan-time read side of the append-time stats. O(#batches). */
  def batchZonesOf(topic: String): Seq[Map[String, ColZone]] = synchronized {
    streams.get(topic).map(_.batches.map(_.zones).toSeq).getOrElse(Seq.empty)
  }

  /** ONE consistent plan-time snapshot: (appended counter, per-batch
    * zones, batch count). `planInputPartitions` previously read the
    * batch count and the zone list through two separate synchronized
    * calls — a concurrent append/eviction between them could shift the
    * zones Seq so zones(i) described a DIFFERENT batch than index i,
    * silently zone-pruning a batch whose rows matched the runtime
    * filter (wrong join results at worst, IndexOutOfBounds at best).
    * All three facts now come from one lock acquisition, so the
    * keep-decisions are internally consistent; the reader factory then
    * addresses batches by ABSOLUTE append index, which tolerates
    * eviction between plan and execute (evicted = missing offsets by
    * contract, never misattributed rows). */
  def planSnapshot(topic: String): (Long, Seq[Map[String, ColZone]]) =
    synchronized {
      streams.get(topic).map { e =>
        (e.appended, e.batches.map(_.zones).toSeq)
      }.getOrElse((0L, Seq.empty))
    }

  /** Per-batch (rows, bytes, zones) in buffer order — the statistics
    * source for the V2 scan's `estimateStatistics`: with the pushed
    * filters checked against each batch's zones, the scan reports the
    * POST-filter size the planner should cost (the parquet-footer
    * discipline: a selective filter on a store topic shrinks its
    * estimated size, flipping joins to broadcast exactly as file
    * sources do). One synchronized snapshot, O(#batches). */
  def batchStatsOf(topic: String): Seq[(Int, Long, Map[String, ColZone])] =
    synchronized {
      streams.get(topic).map(_.batches.map(b =>
        (b.rows.size, b.sizeBytes, b.zones)).toSeq).getOrElse(Seq.empty)
    }

  /** How many batches ever had zones computed (== appends that landed).
    * Spec hook: planning must not change this — zones are never
    * recomputed at plan time. */
  def zoneComputations(topic: String): Long =
    synchronized { streams.get(topic).map(_.zoneComputations).getOrElse(0L) }

  /** Monotone batch-append count — the streaming source's latest
    * offset for the topic (0 for unknown topics). */
  def appendedBatches(topic: String): Long =
    synchronized { streams.get(topic).map(_.appended).getOrElse(0L) }

  /** Batches by ABSOLUTE append index in [from, until): the streaming
    * source's getBatch. Indices already evicted by the byte budget are
    * silently absent — drop-oldest loses data by contract
    * (stream/manager.go's eviction), and the source surfaces that as
    * missing offsets rather than failing the query. */
  def batchSlice(topic: String, from: Long, until: Long): Seq[(Long, Seq[Row])] =
    synchronized {
      streams.get(topic).map { e =>
        val first = e.appended - e.batches.size
        e.batches.zipWithIndex.collect {
          case (b, i) if first + i >= from && first + i < until =>
            (first + i, b.rows)
        }.toSeq
      }.getOrElse(Seq.empty)
    }

  /** Drop streams idle longer than the TTL (stream/manager.go:150-184);
    * returns expired topic names. The reference runs this on a ttl/2
    * ticker; callers here invoke it per micro-batch or on a timer. */
  def expire(): Seq[String] = synchronized {
    val cutoff = now() - ttlMillis
    val dead = streams.collect { case (t, e) if e.lastUpdated < cutoff => t }.toSeq
    dead.foreach(streams.remove)
    dead
  }

  /** Catalog listing (flight/server.go:82-130). */
  def listTopics(): Seq[String] = synchronized { streams.keys.toSeq }

  /** Schema fetch (flight/server.go:211-230). */
  def schemaOf(topic: String): Option[StructType] =
    synchronized { streams.get(topic).map(_.schema) }

  def droppedRows(topic: String): Long =
    synchronized { streams.get(topic).map(_.droppedRows).getOrElse(0L) }

  def currentBytes(topic: String): Long =
    synchronized { streams.get(topic).map(_.currentBytes).getOrElse(0L) }

  /** Batch-granular snapshot for the Arrow serving layer
    * (FlightServe.doGet): the buffered batches with their boundaries
    * preserved — the reference streams one Arrow RecordBatch per
    * buffered batch (flight/server.go:171-208), not one merged blob.
    * Refreshes the TTL clock like any read. */
  def batchesOf(topic: String): Option[(StructType, Seq[Seq[Row]])] = synchronized {
    streams.get(topic).map { e =>
      e.lastUpdated = now()
      (e.schema, e.batches.map(_.rows).toSeq)
    }
  }

  /** Full-scan serve (flight/server.go:171-208): snapshot all buffered
    * batches as a DataFrame and refresh the TTL clock (reads keep
    * streams alive, stream/manager.go:381). */
  def scan(spark: SparkSession, topic: String): Option[DataFrame] = synchronized {
    streams.get(topic).map { e =>
      e.lastUpdated = now()
      val all = e.batches.flatMap(_.rows).toSeq
      spark.createDataFrame(
        spark.sparkContext.parallelize(all.toList), e.schema)
    }
  }

  /** Register every live stream as a temp view (catalog analog,
    * O16-O18): `spark.table(topic)` then serves the buffered data. */
  def registerViews(spark: SparkSession): Unit =
    listTopics().foreach { t =>
      scan(spark, t).foreach(_.createOrReplaceTempView(t.replaceAll("[^A-Za-z0-9_]", "_")))
    }
}

object StreamStore {
  /** Per-batch, per-column zone statistics computed ONCE at append
    * time (the Iceberg-footer analog: min/max/hasNull written when the
    * data lands, read — never recomputed — at plan time). A batch
    * whose zone excludes every pushed/runtime filter value and holds
    * no nulls cannot contribute a match, so the V2 scan skips planning
    * its partition without touching a row. */
  sealed trait ColZone { def hasNull: Boolean }

  /** Long-comparable zone: integral columns as-is, timestamps as epoch
    * micros, dates as epoch days (the column's declared type fixes the
    * axis, so zone and filter-literal conversions always agree). */
  final case class Zone(min: Long, max: Long, hasNull: Boolean) extends ColZone

  /** Double-comparable zone for DoubleType/FloatType columns (floats
    * widen exactly), ordered by [[nanSafeCmpDouble]] — Spark's own
    * fractional comparison semantics (NaN is the largest value and
    * equal to itself; -0.0 equals 0.0), which is ALSO the order
    * [[graft.sources.GraftFilterEval]] evaluates pushed fractional
    * predicates with, so pruning and the reader can never disagree. An
    * all-null batch carries the inverted (+∞, -∞) range. */
  final case class DblZone(min: Double, max: Double, hasNull: Boolean)
      extends ColZone

  /** Spark's fractional comparison (see SQL "NaN Semantics"): NaN is
    * larger than any other value and NaN = NaN is true; -0.0 = 0.0.
    * This deliberately differs from java.lang.Double.compare (which
    * orders -0.0 below 0.0) — pushed filters must match what Spark
    * itself would have evaluated above the scan. */
  private[graft] def nanSafeCmpDouble(x: Double, y: Double): Int = {
    val xn = java.lang.Double.isNaN(x)
    val yn = java.lang.Double.isNaN(y)
    if ((xn && yn) || (x == y)) 0
    else if (xn) 1
    else if (yn) -1
    else if (x > y) 1
    else -1
  }

  /** Truncated string zone, parquet-footer style (String.compareTo
    * ordering — the SAME ordering [[graft.sources.GraftFilterEval]]
    * evaluates pushed string predicates with, so pruning can never
    * disagree with the reader): `min` is a ≤-truncated lower bound
    * (a prefix of the true minimum); `max` is the true maximum when it
    * fit untruncated (`maxInclusive = true`) or the truncated prefix
    * with its last unit incremented — a STRICT upper bound
    * (`maxInclusive = false`). `min == null` means the batch held no
    * non-null value. */
  final case class StrZone(min: String, max: String, maxInclusive: Boolean,
                           hasNull: Boolean) extends ColZone

  /** Zone-stat truncation width for strings — footers keep bounds tiny
    * no matter how large the values (a 100 TB topic of whole documents
    * must not grow plan-time state with document length). */
  val StrZoneTrunc = 32

  /** THE datetime-external → epoch-axis conversion table: the append
    * side (zone computation above) and the plan/read side
    * (`graft.sources.GraftTimeConv`, which DELEGATES here) share this
    * one definition on purpose — if the two ever diverged (say, one
    * learns a new external class and the other doesn't), zones would
    * keep batches the filter then drops, or prune batches it would
    * keep. Timestamps normalize to epoch micros, dates to epoch days;
    * the column's declared type fixes which axis applies. */
  private[graft] def timestampMicros: Any => Option[Long] = {
    case t: java.sql.Timestamp =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t))
    case i: java.time.Instant =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i))
    case _ => None
  }

  private[graft] def dateDays: Any => Option[Long] = {
    case d: java.sql.Date =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d).toLong)
    case d: java.time.LocalDate =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateToDays(d).toLong)
    case _ => None
  }

  /** Build the truncated string zone from the batch's true min/max.
    * The lower bound truncates to a prefix (prefix ≤ original under
    * compareTo). The upper bound increments the truncated prefix's
    * last unit below Char.MaxValue, making it a strict bound; if every
    * unit is Char.MaxValue no finite bound exists and the column goes
    * unzoned for the batch (conservative — pruning is an optimization,
    * never a filter). */
  def strZoneOf(mn: String, mx: String, hasNull: Boolean): Option[StrZone] = {
    if (mn == null) return Some(StrZone(null, null, maxInclusive = true, hasNull))
    val lo = if (mn.length <= StrZoneTrunc) mn else mn.substring(0, StrZoneTrunc)
    if (mx.length <= StrZoneTrunc)
      Some(StrZone(lo, mx, maxInclusive = true, hasNull))
    else {
      val p = mx.substring(0, StrZoneTrunc).toCharArray
      var i = p.length - 1
      while (i >= 0 && p(i) == Char.MaxValue) i -= 1
      if (i < 0) None
      else Some(StrZone(lo, new String(p, 0, i) + (p(i) + 1).toChar,
        maxInclusive = false, hasNull))
    }
  }

  /** Config-driven constructor (O26): byte budget + TTL from one
    * [[GraftConfig]], clock still injectable for deterministic tests. */
  def apply(cfg: GraftConfig,
            now: () => Long = () => System.currentTimeMillis()): StreamStore =
    new StreamStore(cfg.bufferLimitBytes, cfg.ttlMillis, now)
}
