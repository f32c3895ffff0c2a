package graft.engine

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** Per-topic ingest-outcome counters for the streaming SemDeDup door —
  * the reference's per-stream drop/ingest counter family
  * (`roar_stream_records_dropped` etc., pkg/metrics.go:20-52) applied
  * to what OUR door decides: how many documents/vectors each topic's
  * ingest stream admitted vs classified as duplicates. Fed per epoch
  * by [[IngestDoor]] from the door's driver-side verdict counts (both
  * the near-dup and the ANN epoch classify on the driver); served
  * through [[MetricsHttpServer]]'s `/metrics` exposition.
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
  // (topic, phase) → nanoseconds spent in that phase of the door's epochs
  private val phaseNanos = new ConcurrentHashMap[(String, String), AtomicLong]()

  private def normalize(status: String): String = status match {
    case "unique" | "new" => "admitted"
    case other => other
  }

  private[graft] def add(topic: String, status: String, n: Long): Unit = {
    counts.computeIfAbsent((topic, normalize(status)), _ => new AtomicLong())
      .addAndGet(n)
    ()
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

  /** Time one epoch spent per phase — `epoch` (the door's epoch
    * function: banding, probe, verdicts, delta write), `callback` (the
    * counters and `onEpoch`) and `fold` (the compaction decision, the
    * compaction and the next epoch's scan preparation) — in nanoseconds,
    * as [[IngestDoor]] timed it. */
  private[graft] def recordPhases(topic: String, nanos: Seq[(String, Long)]): Unit =
    nanos.foreach { case (phase, n) =>
      phaseNanos.computeIfAbsent((topic, phase), _ => new AtomicLong()).addAndGet(n)
    }

  /** (topic, phase) → seconds spent in that epoch phase, for the
    * exposition. */
  def epochSeconds: Seq[((String, String), Double)] = {
    import scala.jdk.CollectionConverters._
    phaseNanos.asScala.map { case (k, v) => k -> v.get() / 1e9 }.toSeq
      .sortBy { case ((t, p), _) => (t, p) }
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
    phaseNanos.keySet.asScala.filter(_._1 == topic)
      .foreach(k => phaseNanos.remove(k))
    ()
  }
}
