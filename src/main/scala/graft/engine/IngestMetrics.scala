package graft.engine

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame

/** Per-topic ingest-outcome counters for the streaming SemDeDup door —
  * the reference's per-stream drop/ingest counter family
  * (`roar_stream_records_dropped` etc., pkg/metrics.go:20-52) applied
  * to what OUR door decides: how many documents/vectors each topic's
  * ingest stream admitted vs classified as duplicates. Fed by
  * [[TextOps.startNeardupIngest]] (from its driver-side verdicts) /
  * [[VectorOps.startAnnIngest]] (from a one-job status [[rollup]] of
  * its checkpointed classification frame) per epoch; served through
  * [[MetricsHttpServer]]'s `/metrics` exposition.
  *
  * Statuses are normalized to an operational vocabulary: the text
  * door's `unique` and the vector door's `new` both count as
  * `admitted` (they grew the index); `dup_of_existing` /
  * `dup_in_batch` / `matched` keep their names. Counters are
  * monotone and AT-LEAST-ONCE under foreachBatch replay (a crashed
  * epoch's re-run re-counts its batch — the standard Prometheus
  * counter contract; exactly-once accounting lives in the
  * replay-idempotent index itself, see [[DeltaIndex]]). */
object IngestMetrics {
  private val counts = new ConcurrentHashMap[(String, String), AtomicLong]()
  private val epochs = new ConcurrentHashMap[String, AtomicLong]()

  private def normalize(status: String): String = status match {
    case "unique" | "new" => "admitted"
    case other => other
  }

  private[graft] def add(topic: String, status: String, n: Long): Unit = {
    counts.computeIfAbsent((topic, normalize(status)), _ => new AtomicLong())
      .addAndGet(n)
    ()
  }

  /** Row counts per value of `keyed`'s single string column (null
    * keys skipped), in ONE Spark job: each partition counts its rows
    * and the driver merges the ≤ a-few-entry maps. The ANN door's
    * epoch rollup over its locally checkpointed verdict frame — a
    * `groupBy` would plan an exchange job plus a result job, and the
    * door needs the same counts for its metrics, its delta write and
    * its callback guard. */
  private[graft] def rollup(keyed: DataFrame): Map[String, Long] =
    keyed.rdd.mapPartitions { rows =>
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      rows.foreach { r =>
        if (!r.isNullAt(0)) m(r.getString(0)) = m.getOrElse(r.getString(0), 0L) + 1L
      }
      Iterator.single(m.toMap)
    }.collect().foldLeft(Map.empty[String, Long]) { (acc, part) =>
      part.foldLeft(acc) { case (a, (k, n)) => a.updated(k, a.getOrElse(k, 0L) + n) }
    }

  /** One epoch's outcome: `statusCounts` is the epoch's verdict rows
    * per status, as the door counted them (no Spark work here). Every
    * epoch counts toward `epochs`, including empty drains (an evicted
    * offset is an epoch that classified nothing — visible as epochs
    * advancing while doc counts stand still). */
  private[graft] def recordEpoch(topic: String,
                                 statusCounts: Map[String, Long]): Unit = {
    epochs.computeIfAbsent(topic, _ => new AtomicLong()).incrementAndGet()
    statusCounts.foreach { case (status, n) => add(topic, status, n) }
  }

  // ---- LSM maintenance observability (round-14): a production door
  // needs to SEE plan-depth pressure (outstanding deltas — per-epoch
  // probe plan depth is deltas + base) and maintenance cadence
  // (compactions run), the ingest-index analog of the reference's
  // buffer-pressure gauges (pkg/metrics.go:20-52). Fed passively by
  // [[DeltaIndex.write]]/[[DeltaIndex.compact]] — a scrape reads
  // in-memory values only, never lists the filesystem.
  private val outstandingDeltas = new ConcurrentHashMap[String, Long]()
  private val compactions = new ConcurrentHashMap[String, AtomicLong]()
  // probe-occupancy warnings (measured super-linear regime announcing
  // itself in production — see VectorOps.annIngestEpoch)
  private val occupancyWarns = new ConcurrentHashMap[String, AtomicLong]()

  private[graft] def setOutstandingDeltas(index: String, n: Long): Unit = {
    outstandingDeltas.put(index, n); ()
  }

  private[graft] def recordCompaction(index: String): Unit = {
    compactions.computeIfAbsent(index, _ => new AtomicLong()).incrementAndGet()
    ()
  }

  private[graft] def recordOccupancyWarn(index: String): Unit = {
    occupancyWarns.computeIfAbsent(index, _ => new AtomicLong()).incrementAndGet()
    ()
  }

  /** index → live (un-compacted) delta count, for the exposition. */
  def outstandingDeltaGauges: Seq[(String, Long)] = {
    import scala.jdk.CollectionConverters._
    outstandingDeltas.asScala.toSeq.sortBy(_._1)
  }

  /** index → compactions run, for the exposition. */
  def compactionCounts: Seq[(String, Long)] = {
    import scala.jdk.CollectionConverters._
    compactions.asScala.map { case (k, v) => k -> v.get() }.toSeq.sortBy(_._1)
  }

  /** index → probe-occupancy warnings raised, for the exposition. */
  def occupancyWarnCounts: Seq[(String, Long)] = {
    import scala.jdk.CollectionConverters._
    occupancyWarns.asScala.map { case (k, v) => k -> v.get() }.toSeq.sortBy(_._1)
  }

  /** (topic, normalized status) → count, for the exposition. */
  def docCounts: Seq[((String, String), Long)] = {
    import scala.jdk.CollectionConverters._
    counts.asScala.map { case (k, v) => k -> v.get() }.toSeq
      .sortBy { case ((t, s), _) => (t, s) }
  }

  /** topic → epochs run (empty drains included). */
  def epochCounts: Seq[(String, Long)] = {
    import scala.jdk.CollectionConverters._
    epochs.asScala.map { case (k, v) => k -> v.get() }.toSeq.sortBy(_._1)
  }

  /** Test isolation hook: drop counters for one topic. */
  private[graft] def reset(topic: String): Unit = {
    import scala.jdk.CollectionConverters._
    counts.keySet.asScala.filter(_._1 == topic)
      .foreach(k => counts.remove(k))
    epochs.remove(topic)
    ()
  }
}
