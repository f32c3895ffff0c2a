package graft.sources

import java.util
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsMetadataColumns, SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsPushDownTopN, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.catalog.SupportsWrite
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.engine.StreamStore

/** Process-wide registry naming live [[StreamStore]] instances so the
  * DataSource V2 path can address them by option. The reference serves
  * its stream manager over a Flight endpoint (flight/server.go:82-245);
  * the Spark-native analog is a V2 connector addressing the same
  * catalog — `spark.read.format("graft-store")` instead of a DoGet
  * RPC. PARITY-MODE like the store itself: the buffer lives in the
  * driver JVM, which local-mode executors share; the 100 TB serve path
  * is the checkpointed-parquet sink plus real topics, not this buffer
  * (see StreamStore's scale note). */
object GraftStoreRegistry {
  private val stores = TrieMap.empty[String, StreamStore]
  def register(name: String, store: StreamStore): Unit = stores.put(name, store)
  def unregister(name: String): Unit = stores.remove(name)
  def get(name: String): StreamStore =
    stores.getOrElse(name,
      throw new IllegalArgumentException(s"no registered graft store '$name'"))
}

/** DataSource V2 `TableProvider` exposing one StreamStore topic as a
  * batch-readable table — the reference's read path (GetSchema + DoGet,
  * flight/server.go:143-230) re-expressed on Spark's own connector
  * API, so every Catalyst feature (column pruning, filter pushdown,
  * AQE) applies to served streams for free:
  *
  *  - `inferSchema` = GetSchema (store.schemaOf)
  *  - one `InputPartition` PER BUFFERED BATCH — the same batch
  *    boundaries the reference streams as individual Arrow record
  *    batches (flight/server.go:171-208) become Spark's parallelism
  *    units
  *  - `SupportsPushDownRequiredColumns`: the reader converts ONLY the
  *    pruned fields to InternalRow (a projection the reference cannot
  *    do — DoGet always ships whole batches)
  *  - `SupportsPushDownFilters`: comparison/null predicates on atomic
  *    columns are evaluated inside the partition reader, before any
  *    row reaches Spark
  *
  * Usage: `spark.read.format("graft-store").option("store", n)
  * .option("topic", t).load()`. */
final class GraftStoreProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-store"

  /** TTL × RESTART CONTRACT: a topic the store idle-expired
    * (StreamStore.expire, reference stream/manager.go:150-184) is gone
    * WITH its schema — so a streaming query RESTARTING against it
    * fails here, loudly and before any planning, naming the topic and
    * the expiry possibility (the schema cannot be invented, and a
    * silent empty stream would read as "no data" when the truth is
    * "your topic was expired"). A topic expiring while a query is
    * ALREADY RUNNING instead drains empty (the offset axis clamps —
    * see GraftMicroBatchStream.latestOffset), mirroring eviction's
    * missing-offsets contract. Resuming against a RECREATED same-name
    * topic needs a fresh checkpoint: recreation restarts the append
    * axis at 0, and a checkpoint holding higher offsets would wait for
    * the new axis to catch up. */
  private def topicSchema(options: CaseInsensitiveStringMap): StructType = {
    val store = GraftStoreRegistry.get(options.get("store"))
    val topic = options.get("topic")
    store.schemaOf(topic).getOrElse(
      throw new IllegalArgumentException(
        s"unknown topic '$topic': never created, or idle-expired past " +
          "the store TTL. Re-ingest the topic (create-on-access) before " +
          "reading; a resuming streaming query additionally needs a " +
          "fresh checkpoint (recreation restarts the offset axis at 0)."))
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    topicSchema(options)

  /** Writes may target a topic the store hasn't seen (create-on-access,
    * stream/manager.go:216-241): accept the caller's schema instead of
    * forcing inference against a not-yet-existing topic. */
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new GraftStoreTable(properties.get("store"), properties.get("topic"), schema)
}

final class GraftStoreTable(storeName: String, topic: String, schema: StructType)
    extends Table with SupportsRead with SupportsWrite
    with SupportsMetadataColumns {
  override def name(): String = s"graft-store:$storeName/$topic"
  override def schema(): StructType = schema

  /** Kafka-style row provenance (reference O4 metadata projection:
    * the consumer exposes topic/partition/offset per message;
    * here the store's monotone append axis plays the offset role):
    * `_batch_offset` is the ABSOLUTE append index of the batch a row
    * was served from — stable across drop-oldest eviction, exactly
    * like a Kafka offset survives retention — and `_row_in_batch`
    * the position inside it. Metadata columns appear only when
    * selected (never in `SELECT *`), per the DSv2 contract. */
  override def metadataColumns(): Array[MetadataColumn] = Array(
    GraftMetaColumn(GraftStoreTable.BatchOffsetCol,
      "absolute append index of the store batch serving this row (Kafka offset analog; stable across eviction)"),
    GraftMetaColumn(GraftStoreTable.RowInBatchCol,
      "row position within its store batch"))
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(storeName, topic, schema,
      Option(options.get("maxBatchesPerTrigger")).map { raw =>
        // validate up front, as the Kafka source does for
        // maxOffsetsPerTrigger: 0/negative would pin latestOffset in
        // place (a stream that silently never advances), non-numeric
        // would surface as a bare NumberFormatException mid-plan
        val n = try raw.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"maxBatchesPerTrigger must be a positive integer, got '$raw'")
        }
        require(n > 0,
          s"maxBatchesPerTrigger must be a positive integer, got '$raw'")
        n
      })
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(storeName, topic, info.schema())
}

object GraftStoreTable {
  val BatchOffsetCol = "_batch_offset"
  val RowInBatchCol = "_row_in_batch"
}

final case class GraftMetaColumn(name: String, about: String)
    extends MetadataColumn {
  override def dataType(): org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.LongType
  override def isNullable: Boolean = false
  override def comment(): String = about
}

/** Write path of the connector — the reference's ingest direction
  * (consumer → manager.AddBatch, kafka/consumer.go feeding
  * stream/manager.go) as a DataSource V2 sink, so BOTH
  * `df.write.format("graft-store")` and `writeStream.format
  * ("graft-store")` land batches in the byte-bounded store:
  *
  *  - executors serialize nothing to disk: each DataWriter collects
  *    its partition's rows and ships them to the driver in its
  *    commit message (the store is driver-held by parity-mode
  *    contract, so the driver-side commit IS the only place the
  *    append can happen — same topology as the reference's
  *    single-process consumer→manager handoff)
  *  - batch mode appends one store batch PER PARTITION (preserving
  *    source parallelism as batch boundaries); streaming mode
  *    appends one store batch PER EPOCH — a micro-batch is the
  *    reference's per-poll batch unit (kafka/consumer.go micro-batch
  *    flush)
  *  - abort drops the buffered rows (nothing reached the store
  *    before the driver-side commit → exactly-once per epoch)
  */
final class GraftWriteBuilder(storeName: String, topic: String,
                              schema: StructType) extends WriteBuilder {
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new GraftBatchWrite(storeName, topic, schema)
    override def toStreaming: StreamingWrite =
      new GraftStreamingWrite(storeName, topic, schema)
  }
}

final case class GraftWriteMessage(rows: Seq[org.apache.spark.sql.Row])
    extends WriterCommitMessage

final class GraftDataWriterFactory(schema: StructType)
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    writer()
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] = writer()
  private def writer(): DataWriter[InternalRow] = new DataWriter[InternalRow] {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    private val toScala = CatalystTypeConverters.createToScalaConverter(schema)
    override def write(record: InternalRow): Unit =
      buf += toScala(record.copy()).asInstanceOf[org.apache.spark.sql.Row]
    override def commit(): WriterCommitMessage = GraftWriteMessage(buf.toSeq)
    override def abort(): Unit = buf.clear()
    override def close(): Unit = ()
  }
}

final class GraftBatchWrite(storeName: String, topic: String,
                            schema: StructType) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GraftDataWriterFactory(schema)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val store = GraftStoreRegistry.get(storeName)
    messages.foreach {
      case GraftWriteMessage(rows) if rows.nonEmpty =>
        store.append(topic, schema, rows)
      case _ => ()
    }
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

final class GraftStreamingWrite(storeName: String, topic: String,
                                schema: StructType) extends StreamingWrite {
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new GraftDataWriterFactory(schema)
  /** One store batch per epoch: the micro-batch IS the reference's
    * per-poll batch unit, so its boundary becomes the buffer's batch
    * boundary (and the streaming source's offset increment). */
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val rows = messages.flatMap {
      case GraftWriteMessage(rs) => rs
      case _ => Seq.empty
    }.toSeq
    if (rows.nonEmpty)
      GraftStoreRegistry.get(storeName).append(topic, schema, rows)
  }
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

final class GraftScanBuilder(storeName: String, topic: String,
                             full: StructType,
                             maxBatchesPerTrigger: Option[Long] = None)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownAggregates
    with SupportsPushDownLimit with SupportsPushDownTopN {

  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty
  private var pushedAgg: Option[GraftAggSpec] = None
  private var pushedLimit: Option[Int] = None
  private var pushedSort: Seq[SortOrder] = Seq.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Accept the comparison/null family on atomic columns; everything
    * else stays a Spark-side Filter. Pushed filters are NOT echoed
    * back as post-scan filters (we return them fully handled), so the
    * plan shows them only under PushedFilters. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (sup, unsup) = filters.partition(GraftFilterEval.supported(full, _))
    pushed = sup
    unsup
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** COMPLETE aggregate pushdown for ungrouped COUNT(*)/COUNT(col)/
    * MIN/MAX over the store's atomic columns — Spark removes the
    * Aggregate node entirely and the scan answers from the buffer in
    * one pass (the analog of a Flight server answering a summary
    * action without shipping batches; the reference can only ship
    * whole buffers, flight/server.go:171-208). Anything unsupported
    * (grouping, distinct counts, sums over non-atomic types) is
    * declined and Spark aggregates above the scan as usual, so
    * pushdown can never change semantics. */
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    agg.groupByExpressions.isEmpty &&
      agg.aggregateExpressions.forall(GraftAggSpec.supported(full, _))

  override def pushAggregation(agg: Aggregation): Boolean = {
    if (!supportCompletePushDown(agg)) return false
    pushedAgg = Some(GraftAggSpec(agg.aggregateExpressions.toSeq, full))
    true
  }

  /** FULL limit pushdown: the scan answers with the first N filtered
    * rows in buffer (= append) order — the reference's client-side
    * `--limit` (cmd/client.go:193) moved INTO the server, so at most
    * N rows ever leave the buffer. Fully handled (not partial): the
    * scan switches to one partition that stops iterating at N. */
  override def pushLimit(limit: Int): Boolean = {
    if (pushedAgg.isDefined) return false
    pushedLimit = Some(limit)
    true
  }
  override def isPartiallyPushed(): Boolean = false

  /** FULL top-N pushdown (ORDER BY + LIMIT): supported for sort keys
    * on atomic columns; the scan sorts the filtered buffer under the
    * requested direction/null ordering and emits exactly N rows, so
    * Spark drops its own TakeOrderedAndProject. */
  override def pushTopN(orders: Array[SortOrder], limit: Int): Boolean = {
    if (pushedAgg.isDefined) return false
    val ok = orders.forall(o =>
      GraftAggSpec.colOf(o.expression())
        .exists(n => full.fieldNames.contains(n) && GraftFilterEval.atomicCol(full, n)))
    if (!ok) return false
    pushedSort = orders.toSeq
    pushedLimit = Some(limit)
    true
  }

  override def build(): Scan =
    new GraftScan(storeName, topic, full, required, pushed, pushedAgg,
      pushedLimit, pushedSort, maxBatchesPerTrigger)
}

/** A fully-pushed ungrouped aggregation: the funcs in output order and
  * the one-row schema the scan must produce for them. */
final case class GraftAggSpec(funcs: Seq[AggregateFunc], full: StructType) {
  import org.apache.spark.sql.types._

  /** Output schema, positional: Spark matches the scan's readSchema
    * to the pushed aggregate expressions by position. */
  lazy val schema: StructType = StructType(funcs.zipWithIndex.map {
    case (_: CountStar, i) => StructField(s"agg_$i", LongType, nullable = false)
    case (_: Count, i)     => StructField(s"agg_$i", LongType, nullable = false)
    case (m: Min, i) =>
      StructField(s"agg_$i", full(GraftAggSpec.colOf(m.column).get).dataType)
    case (m: Max, i) =>
      StructField(s"agg_$i", full(GraftAggSpec.colOf(m.column).get).dataType)
    case (f, _) => throw new IllegalStateException(s"unsupported pushed agg $f")
  })

  /** Evaluate over the filtered buffered rows (one row out). */
  def eval(rows: Seq[org.apache.spark.sql.Row]): Seq[Any] = funcs.map {
    case _: CountStar => rows.size.toLong
    case c: Count =>
      val i = full.fieldIndex(GraftAggSpec.colOf(c.column).get)
      rows.count(_.get(i) != null).toLong
    case m: Min =>
      val i = full.fieldIndex(GraftAggSpec.colOf(m.column).get)
      rows.iterator.map(_.get(i)).filter(_ != null)
        .reduceOption((a, b) => if (GraftFilterEval.cmp(a, b) <= 0) a else b)
        .orNull
    case m: Max =>
      val i = full.fieldIndex(GraftAggSpec.colOf(m.column).get)
      rows.iterator.map(_.get(i)).filter(_ != null)
        .reduceOption((a, b) => if (GraftFilterEval.cmp(a, b) >= 0) a else b)
        .orNull
    case f => throw new IllegalStateException(s"unsupported pushed agg $f")
  }

  override def toString: String = funcs.mkString(", ")
}

object GraftAggSpec {
  /** Single-level column behind an aggregate argument, if it is one. */
  def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case nr: NamedReference if nr.fieldNames().length == 1 =>
        Some(nr.fieldNames()(0))
      case _ => None
    }

  private def atomic(schema: StructType, name: String): Boolean =
    schema.fields.find(_.name == name).exists(f => f.dataType match {
      case _: org.apache.spark.sql.types.NumericType => true
      case org.apache.spark.sql.types.StringType => true
      case org.apache.spark.sql.types.BooleanType => true
      case org.apache.spark.sql.types.TimestampType => true
      case org.apache.spark.sql.types.DateType => true
      case _ => false
    })

  def supported(schema: StructType, f: AggregateFunc): Boolean = f match {
    case _: CountStar => true
    case c: Count =>
      !c.isDistinct && colOf(c.column).exists(schema.fieldNames.contains)
    case m: Min => colOf(m.column).exists(atomic(schema, _))
    case m: Max => colOf(m.column).exists(atomic(schema, _))
    case _ => false
  }
}

/** Datetime-external → epoch-axis conversion for zone pruning
  * ([[GraftZonePrune.lv]]) and row-level filter eval
  * ([[GraftFilterEval.cmp]]) — a pure DELEGATE to the one shared table
  * in [[graft.engine.StreamStore]], the same table the append side
  * computes zones with. One definition on purpose: if the zone-compute
  * and filter-eval conversions ever diverged (say, one learns
  * LocalDateTime for TIMESTAMP_NTZ and the other doesn't), zones would
  * keep batches the filter then drops — or prune batches it would
  * keep. Timestamps normalize to micros, dates to days; the column's
  * declared type fixes which axis applies. */
private[sources] object GraftTimeConv {
  def tsMicros(x: Any): Option[Long] = StreamStore.timestampMicros(x)
  def dateDays(x: Any): Option[Long] = StreamStore.dateDays(x)
}

/** Batch-zone vs filter intersection tests: can ANY row of a batch
  * with these zones satisfy the filter? Conservative by construction —
  * unknown filter shapes, non-zoned columns, and values the zone axis
  * can't represent EXACTLY answer true, so zone pruning is an
  * optimization and never a filter (the same contract parquet
  * row-group statistics carry). */
object GraftZonePrune {
  import graft.engine.StreamStore.{ColZone, DblZone, StrZone, Zone}
  import graft.engine.StreamStore.nanSafeCmpDouble

  /** Filter literal → the long zone axis. STRICTLY integral plus the
    * datetime externals (micros/days — same conversion the zones were
    * computed with): a fractional Number must NOT truncate here, or a
    * strict bound goes wrong — GreaterThan(k, -0.5) truncated to 0
    * would wrongly prune a batch zoned [0, 0] whose k = 0 satisfies
    * the predicate. Fractional literals answer None and keep the
    * batch. */
  private def lv(x: Any): Option[Long] = x match {
    case n: java.lang.Long => Some(n.longValue())
    case n: java.lang.Integer => Some(n.longValue())
    case n: java.lang.Short => Some(n.longValue())
    case n: java.lang.Byte => Some(n.longValue())
    case other =>
      GraftTimeConv.tsMicros(other).orElse(GraftTimeConv.dateDays(other))
  }

  /** Filter literal → the double zone axis. Any Number converts via
    * doubleValue — the EXACT conversion the reader's row-level cmp
    * applies to a fractional pair, so zone decisions mirror the reader
    * even for a lossy long→double literal (both sides lose identically,
    * which is the soundness criterion: prune only what the reader would
    * empty out anyway). */
  private def dv(x: Any): Option[Double] = x match {
    case n: Number => Some(n.doubleValue())
    case _ => None
  }
  private def nonEmpty(z: Zone): Boolean = z.min <= z.max
  private def nonEmptyD(z: DblZone): Boolean = nanSafeCmpDouble(z.min, z.max) <= 0
  private def hasValues(z: StrZone): Boolean = z.min != null

  def mayMatch(zones: Map[String, ColZone], filters: Array[Filter]): Boolean =
    filters.forall(mayMatchOne(zones, _))

  /** One comparison against one zone. The string bounds are honest
    * about truncation: `min` only LOWER-bounds the true minimum and
    * `max` (when exclusive) strictly upper-bounds the true maximum, so
    * each predicate prunes only when the bound PROVES emptiness. The
    * double bounds are exact under [[nanSafeCmpDouble]] order (NaN
    * largest, -0.0 = 0.0 — Spark's own fractional semantics). */
  private def cmpZone(z: ColZone, v: Any)(
      okL: (Zone, Long) => Boolean)(
      okS: (StrZone, String) => Boolean)(
      okD: (DblZone, Double) => Boolean): Boolean = z match {
    case z: Zone => lv(v) match {
      case Some(x) => nonEmpty(z) && okL(z, x)
      case None => true
    }
    case z: DblZone => dv(v) match {
      case Some(x) => nonEmptyD(z) && okD(z, x)
      case None => true
    }
    case z: StrZone => v match {
      case s: String => hasValues(z) && okS(z, s)
      case _ => true
    }
  }

  private def strEq(z: StrZone, s: String): Boolean =
    s.compareTo(z.min) >= 0 &&
      (if (z.maxInclusive) s.compareTo(z.max) <= 0 else s.compareTo(z.max) < 0)

  private def dblEq(z: DblZone, x: Double): Boolean =
    nanSafeCmpDouble(z.min, x) <= 0 && nanSafeCmpDouble(x, z.max) <= 0

  private def cmp(zones: Map[String, ColZone], c: String, v: Any)(
      okL: (Zone, Long) => Boolean)(
      okS: (StrZone, String) => Boolean)(
      okD: (DblZone, Double) => Boolean): Boolean =
    zones.get(c).forall(cmpZone(_, v)(okL)(okS)(okD))

  private def mayMatchOne(zones: Map[String, ColZone], f: Filter): Boolean =
    f match {
      case EqualTo(c, v) =>
        cmp(zones, c, v)((z, x) => z.min <= x && x <= z.max)(strEq)(dblEq)
      case GreaterThan(c, v) =>
        // string: values ≤ max (or < max when exclusive); a value > s
        // can exist only when max > s under either form
        cmp(zones, c, v)((z, x) => z.max > x)(
          (z, s) => z.max.compareTo(s) > 0)(
          (z, x) => nanSafeCmpDouble(z.max, x) > 0)
      case GreaterThanOrEqual(c, v) =>
        cmp(zones, c, v)((z, x) => z.max >= x)((z, s) =>
          if (z.maxInclusive) z.max.compareTo(s) >= 0
          else z.max.compareTo(s) > 0)(
          (z, x) => nanSafeCmpDouble(z.max, x) >= 0)
      case LessThan(c, v) =>
        // string min is a ≤-truncated bound: prune only when even the
        // truncated prefix already reaches s
        cmp(zones, c, v)((z, x) => z.min < x)(
          (z, s) => z.min.compareTo(s) < 0)(
          (z, x) => nanSafeCmpDouble(z.min, x) < 0)
      case LessThanOrEqual(c, v) =>
        cmp(zones, c, v)((z, x) => z.min <= x)(
          (z, s) => z.min.compareTo(s) <= 0)(
          (z, x) => nanSafeCmpDouble(z.min, x) <= 0)
      case In(c, vs) =>
        zones.get(c) match {
          case Some(z) =>
            // any unrepresentable value keeps the batch (conservative)
            vs.exists(v => cmpZone(z, v)(
              (z, x) => z.min <= x && x <= z.max)(strEq)(dblEq))
          case None => true
        }
      case IsNull(c) => zones.get(c).forall(_.hasNull)
      case IsNotNull(c) => zones.get(c).forall {
        case z: Zone => nonEmpty(z)
        case z: DblZone => nonEmptyD(z)
        case z: StrZone => hasValues(z)
      }
      case _ => true
    }
}

final class GraftScan(storeName: String, topic: String, full: StructType,
                      required: StructType, pushed: Array[Filter],
                      agg: Option[GraftAggSpec] = None,
                      limit: Option[Int] = None,
                      sort: Seq[SortOrder] = Seq.empty,
                      maxBatchesPerTrigger: Option[Long] = None)
    extends Scan with Batch with SupportsRuntimeFiltering
    with SupportsReportStatistics {

  /** Runtime (DPP-style) IN filters injected by Spark's
    * PartitionPruning rule from the build side of a join — arrives
    * between planning and execution, so it lives in a var. */
  @volatile private var runtimeIn: Option[(String, Set[Long])] = None

  /** Join keys eligible for runtime filtering: the integral atomic
    * columns (batch zone min/max compare as longs) — restricted to the
    * PRUNED read schema: Spark's PartitionPruning resolves these
    * references against the scan relation's output, so advertising a
    * column the query didn't select fails analysis outright (hit when
    * reported statistics first made a pruned store scan the broadcast
    * side of a join). When an aggregate is pushed down the scan's
    * output is agg.schema, not `required` — advertising source columns
    * there reopens the same failure, and runtime row-filtering a
    * fully-pushed aggregate is meaningless anyway, so advertise
    * nothing. */
  override def filterAttributes(): Array[NamedReference] =
    if (agg.isDefined) Array.empty
    else required.fields.collect {
      // restricted to DATA columns (full.fieldNames): the metadata
      // columns _batch_offset/_row_in_batch are LongType too, and a
      // runtime In on one would occupy the single runtimeIn slot —
      // silently disabling zone pruning on a real data column
      case f if full.fieldNames.contains(f.name) &&
        (f.dataType == org.apache.spark.sql.types.LongType ||
          f.dataType == org.apache.spark.sql.types.IntegerType ||
          f.dataType == org.apache.spark.sql.types.ShortType) =>
        org.apache.spark.sql.connector.expressions.Expressions.column(f.name)
    }

  /** Accept the IN runtime filter on an integral column; anything
    * else is ignored (runtime filters are semantics-preserving hints
    * — the join above the scan re-applies the predicate, so partial
    * or absent application can never change results, exactly the
    * contract file-pruning sources like Iceberg rely on). */
  override def filter(filters: Array[Filter]): Unit =
    filters.collectFirst {
      case In(attr, values) if filterAttributes().exists(_.describe() == attr) =>
        attr -> values.collect { case n: Number => n.longValue() }.toSet
    }.foreach(f => runtimeIn = Some(f))
  override def readSchema(): StructType = agg.map(_.schema).getOrElse(required)

  /** Honest table statistics for the planner, now FILTER-AWARE: the
    * pushed predicates are checked against every batch's append-time
    * zones and only the batches that can match are counted — the
    * parquet-footer discipline, applied to the buffer. Pushed filters
    * are fully handled by this scan (no post-scan Filter node
    * remains), so the scan's reported stats ARE the post-filter
    * estimate the planner costs: a selective filter on a store topic
    * shrinks its estimated size and flips the join to broadcast
    * exactly the way footer statistics do for files (spec-pinned:
    * same join, same threshold — with the filter the static plan
    * broadcasts the store side, without it it sort-merges; threshold
    * -1 suppresses both). Without any of this, a DSv2 relation is
    * sized at `spark.sql.defaultSizeInBytes` (effectively infinite).
    * The surviving zones also surface per-column min/max/null
    * COLUMN statistics (`Statistics.columnStats`), so a CBO-enabled
    * planner estimates selectivity on store topics from real ranges,
    * mirroring what footers give every other table. */
  override def estimateStatistics(): Statistics = {
    val store = GraftStoreRegistry.get(storeName)
    val batches = store.batchStatsOf(topic)
    val kept = batches.filter(b => GraftZonePrune.mayMatch(b._3, pushed))
    val bytes = kept.map(_._2).sum
    val rows = kept.map(_._1.toLong).sum
    // merge surviving batches' zones per column: min of mins, max of
    // maxs, null seen anywhere; a column is reported only when every
    // surviving batch zoned it (all-batch coverage keeps the merged
    // range honest). CBO column stats cover the integral AND
    // fractional axes, boxed to the column's DECLARED type — catalyst
    // stores these raw objects in ColumnStat for the attribute, and a
    // java.lang.Long under an IntegerType attribute misbehaves
    // downstream (literal construction, selectivity math). A merged
    // fractional range touching NaN/±∞ is withheld (CBO range math
    // has no sane reading of it); string/datetime zones still drive
    // pruning and row/byte sizing above.
    import org.apache.spark.sql.types.{ByteType, DoubleType, FloatType, IntegerType, LongType, ShortType}
    def boxFor(c: String, v: Long): Option[Object] =
      full.fields.find(_.name == c).map(_.dataType).collect {
        case LongType => java.lang.Long.valueOf(v)
        case IntegerType => java.lang.Integer.valueOf(v.toInt)
        case ShortType => java.lang.Short.valueOf(v.toShort)
        case ByteType => java.lang.Byte.valueOf(v.toByte)
      }
    def boxForD(c: String, v: Double): Option[Object] =
      if (java.lang.Double.isNaN(v) || java.lang.Double.isInfinite(v)) None
      else full.fields.find(_.name == c).map(_.dataType).collect {
        case DoubleType => java.lang.Double.valueOf(v)
        case FloatType => java.lang.Float.valueOf(v.toFloat)
      }
    val colNames = kept.flatMap(_._3.keySet).distinct
      .filter(c => kept.forall(_._3.contains(c)))
    val colStats = colNames.flatMap { c =>
      import graft.engine.StreamStore.nanSafeCmpDouble
      val all = kept.map(_._3(c))
      val zs = all.collect {
        case z: graft.engine.StreamStore.Zone if z.min <= z.max => z
      }
      val ds = all.collect {
        case z: graft.engine.StreamStore.DblZone
          if nanSafeCmpDouble(z.min, z.max) <= 0 => z
      }
      for {
        _ <- Option.when(zs.nonEmpty || ds.nonEmpty)(())
        mn <- if (zs.nonEmpty) boxFor(c, zs.map(_.min).min)
              else boxForD(c, ds.map(_.min).reduce((a, b) =>
                if (nanSafeCmpDouble(a, b) <= 0) a else b))
        mx <- if (zs.nonEmpty) boxFor(c, zs.map(_.max).max)
              else boxForD(c, ds.map(_.max).reduce((a, b) =>
                if (nanSafeCmpDouble(a, b) >= 0) a else b))
      } yield
        org.apache.spark.sql.connector.expressions.Expressions.column(c)
          .asInstanceOf[NamedReference] ->
          (new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
            override def min(): java.util.Optional[Object] =
              java.util.Optional.of(mn)
            override def max(): java.util.Optional[Object] =
              java.util.Optional.of(mx)
          }: org.apache.spark.sql.connector.read.colstats.ColumnStatistics)
    }.toMap
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
      override def columnStats(): java.util.Map[NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
        colStats.asJava
    }
  }

  override def toBatch: Batch = this
  override def description(): String =
    s"GraftStoreScan(store=$storeName, topic=$topic, " +
      s"PushedFilters=[${pushed.mkString(", ")}], " +
      agg.map(a => s"PushedAggregation=[$a], ").getOrElse("") +
      limit.map(n => if (sort.nonEmpty)
        s"PushedTopN=[${sort.mkString(", ")} LIMIT $n], "
      else s"PushedLimit=[$n], ").getOrElse("") +
      s"ReadSchema=${readSchema().simpleString})"

  /** A fully-pushed aggregation / limit / top-N answers in ONE
    * partition (the scan must produce a globally-correct bounded
    * result); otherwise one partition per buffered batch — MINUS the
    * batches a runtime IN filter's zone check excludes: a batch whose
    * [min, max] on the filter column contains NO filter value cannot
    * contribute a join match, so its partition is never planned (the
    * buffer analog of Iceberg's runtime file pruning; at 100 TB this
    * is the difference between scanning every buffered batch and
    * touching only the key ranges the dimension actually selects). */
  override def planInputPartitions(): Array[InputPartition] =
    if (agg.isDefined || limit.isDefined) Array(GraftAggPartition)
    else {
      val store = GraftStoreRegistry.get(storeName)
      // ONE synchronized snapshot: appended counter + zones together,
      // so a concurrent append/eviction can't shift the zones Seq
      // between reading the count and indexing into it (which would
      // zone-prune the WRONG batch — wrong join results).
      val (appended, zones) = store.planSnapshot(topic)
      val n = zones.size
      val base = appended - n // oldest surviving batch's absolute index
      // Zone stats were computed ONCE when each batch was appended
      // (StreamStore.computeZones) — plan time is a pure O(#batches)
      // map lookup, never a row scan (spec-pinned: zoneComputations
      // is unchanged by planning). A column with no recorded zone
      // (shouldn't happen for an eligible integral attr) keeps its
      // batch — pruning is an optimization, never a filter.
      val keepRuntime: Int => Boolean = runtimeIn match {
        case Some((attr, values)) if full.fieldNames.contains(attr) =>
          i => zones(i).get(attr) match {
            case Some(z: graft.engine.StreamStore.Zone) =>
              z.hasNull || values.exists(v => v >= z.min && v <= z.max)
            case _ => true
          }
        case _ => _ => true
      }
      // STATIC pushed filters prune partitions by the same zone test
      // the statistics use — a batch no pushed predicate can match is
      // never planned (the reader would filter out every row anyway;
      // at 100 TB this is footer-level row-group skipping)
      val kept = (0 until n).filter(i =>
        GraftZonePrune.mayMatch(zones(i), pushed) && keepRuntime(i))
      GraftScanMetrics.record(storeName, topic, kept.size, n)
      // Partitions address batches by ABSOLUTE append index (the same
      // GraftAbsolutePartition the streaming path uses): an eviction
      // between plan and execute then surfaces as a missing batch by
      // the drop-oldest contract — an ordinal index here would silently
      // read a DIFFERENT batch's rows after the buffer shifted
      // (misattributed metadata, zone keep-decisions applied to the
      // wrong batch) or throw if the buffer shrank.
      kept.map(i => GraftAbsolutePartition(base + i): InputPartition).toArray
    }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(storeName, topic, full, required, pushed, agg,
      limit, sort)

  /** Streaming read path — the store's batch-append counter is a
    * Kafka-style monotone offset axis, so the topic doubles as a
    * Structured Streaming source: each micro-batch covers the append
    * indices [start, end) with ONE input partition per buffered batch
    * (same parallelism contract as the batch path). This is the
    * "Structured Streaming with Arrow Flight source" north star shape:
    * the reference's clients poll DoGet for whatever the buffer holds;
    * here a streaming query SUBSCRIBES to the same buffer and Spark's
    * incremental engines (windows, watermarks, stateful ops) run on
    * top for free. Offsets already evicted by the byte budget surface
    * as missing batches, not failures — drop-oldest loses data by
    * reference contract. */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftMicroBatchStream(storeName, topic, full, required, pushed,
      maxBatchesPerTrigger)
}

final class GraftMicroBatchStream(storeName: String, topic: String,
                                  full: StructType, required: StructType,
                                  pushed: Array[Filter],
                                  maxBatchesPerTrigger: Option[Long] = None)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {
  private def store = GraftStoreRegistry.get(storeName)

  /** Backpressure as CODE (reference O9-O11: the consumer's batch-size
    * / fetch-window caps how much each poll admits,
    * kafka/consumer.go): `maxBatchesPerTrigger` caps how many append
    * offsets one micro-batch covers — the Kafka maxOffsetsPerTrigger
    * analog at the store's offset granularity (one offset = one
    * appended batch). Spark's rate control calls
    * latestOffset(start, limit) when SupportsAdmissionControl is
    * implemented; an unset option keeps ReadAllAvailable (the previous
    * behavior, unchanged). Admitting fewer offsets also narrows the
    * eviction race: a bounded trigger drains in arrival order instead
    * of snapshotting one giant batch while the budget churns.
    *
    * NAMING TRAP: `ReadLimit.maxRows(n)` counts units of THIS source's
    * offset axis, which is the batch-append counter — so n admits n
    * BATCHES per trigger, not n rows (a 3-row appended batch consumes
    * ONE unit of the limit; spec-pinned). The Kafka source has the
    * same convention — maxOffsetsPerTrigger counts its offset unit,
    * messages — it just happens that Kafka's offset unit IS a row. */
  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit = {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    maxBatchesPerTrigger.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())
  }

  override def latestOffset(
      start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    import org.apache.spark.sql.connector.read.streaming.ReadMaxRows
    val s = Option(start).map(_.asInstanceOf[GraftOffset].index)
      .getOrElse(initialOffset().asInstanceOf[GraftOffset].index)
    val avail = store.appendedBatches(topic)
    // clamped at `start`: a topic idle-expired MID-QUERY (or recreated
    // with a restarted append axis) reports avail below the committed
    // offset — the axis must never run backwards, so the query drains
    // EMPTY instead of crashing or replaying foreign offsets (the TTL
    // analog of eviction's missing-offsets contract; restart-after-
    // expiry fails loudly at load() instead, see topicSchema)
    GraftOffset(math.max(s, limit match {
      case r: ReadMaxRows => math.min(avail, s + r.maxRows())
      case _ => avail
    }))
  }

  /** First offset to serve: the oldest batch still buffered when the
    * query starts (Kafka `startingOffsets=earliest` on the surviving
    * window — what a Flight client would see on its first DoGet). */
  override def initialOffset(): Offset = {
    val appended = store.appendedBatches(topic)
    val buffered = store.batchesOf(topic).map(_._2.size.toLong).getOrElse(0L)
    GraftOffset(appended - buffered)
  }
  override def latestOffset(): Offset = GraftOffset(store.appendedBatches(topic))
  override def deserializeOffset(json: String): Offset = GraftOffset(json.trim.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftOffset].index
    val e = end.asInstanceOf[GraftOffset].index
    store.batchSlice(topic, s, e)
      .map { case (abs, _) => GraftAbsolutePartition(abs): InputPartition }
      .toArray
  }

  /** The streaming reader always serves full ++ BOTH metadata columns:
    * unlike the batch path (where V2ScanRelationPushDown prunes and
    * the scan learns exactly which metadata fields were selected),
    * a StreamingDataSourceV2ScanRelation that references ANY metadata
    * column carries ALL declared metadata columns in declaration
    * order — and one that references none reads only the data
    * ordinals, so the two trailing slots are simply never read.
    * Serving them unconditionally satisfies both shapes (previously a
    * streaming SELECT of `_batch_offset` crashed with
    * ArrayIndexOutOfBounds because the reader emitted 3-slot rows
    * under a 5-attribute relation). */
  override def createReaderFactory(): PartitionReaderFactory = {
    import org.apache.spark.sql.types.{LongType, StructField}
    val withMeta = StructType(full.fields ++ Seq(
      StructField(GraftStoreTable.BatchOffsetCol, LongType, nullable = false),
      StructField(GraftStoreTable.RowInBatchCol, LongType, nullable = false)))
    new GraftReaderFactory(storeName, topic, full, withMeta, pushed)
  }
}

/** Offset = count of batches ever appended (monotone, Kafka-like). */
final case class GraftOffset(index: Long) extends Offset {
  override def json(): String = index.toString
}

/** Single partition answering a fully-pushed aggregation. */
case object GraftAggPartition extends InputPartition

/** Test/audit hook: last (kept, total) batch-partition counts planned
  * per (store, topic) — how the runtime-filter zone pruning is
  * observed from specs and the q_store_runtime_prune audit. Keyed by
  * BOTH names: topic-only keying let a same-named topic in a different
  * registered store (or a concurrent suite) overwrite the reading the
  * audit was about to assert on. */
private[graft] object GraftScanMetrics {
  private val planned =
    new java.util.concurrent.ConcurrentHashMap[(String, String), (Int, Int)]()
  def record(store: String, topic: String, kept: Int, total: Int): Unit =
    planned.put((store, topic), (kept, total))
  def lastPlanned(store: String, topic: String): Option[(Int, Int)] =
    Option(planned.get((store, topic)))
}

/** Partition addressing one batch by ABSOLUTE append index — shared by
  * the batch and streaming read paths, so eviction between plan and
  * execute always degrades to missing offsets, never to misattributed
  * rows. */
final case class GraftAbsolutePartition(absIndex: Long) extends InputPartition

final class GraftReaderFactory(storeName: String, topic: String,
                               full: StructType, required: StructType,
                               pushed: Array[Filter],
                               agg: Option[GraftAggSpec] = None,
                               limit: Option[Int] = None,
                               sort: Seq[SortOrder] = Seq.empty)
    extends PartitionReaderFactory {

  /** Comparator for the pushed top-N sort: per key, nulls placed by
    * the requested NullOrdering (NOT flipped by direction — Spark's
    * SortOrder already encodes the final null position), non-null
    * values by the typed comparison, flipped for DESC. */
  private def cmpRows(a: org.apache.spark.sql.Row,
                      b: org.apache.spark.sql.Row): Int = {
    import org.apache.spark.sql.connector.expressions.NullOrdering
    sort.iterator.map { o =>
      val i = full.fieldIndex(GraftAggSpec.colOf(o.expression()).get)
      val (va, vb) = (a.get(i), b.get(i))
      if (va == null && vb == null) 0
      else if (va == null) {
        if (o.nullOrdering() == NullOrdering.NULLS_FIRST) -1 else 1
      } else if (vb == null) {
        if (o.nullOrdering() == NullOrdering.NULLS_FIRST) 1 else -1
      } else {
        val c = GraftFilterEval.cmp(va, vb)
        if (o.direction() == SortDirection.DESCENDING) -c else c
      }
    }.find(_ != 0).getOrElse(0)
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    partition match {
      case GraftAggPartition if agg.isDefined =>
        // fully-pushed ungrouped aggregation: filter the whole buffer,
        // evaluate the funcs, emit the single result row
        val spec = agg.get
        val all = GraftStoreRegistry.get(storeName).batchesOf(topic)
          .map(_._2.flatten).getOrElse(Seq.empty)
          .filter(r => pushed.forall(GraftFilterEval.eval(full, r, _)))
        val toCat = CatalystTypeConverters.createToCatalystConverter(spec.schema)
        val out = toCat(org.apache.spark.sql.Row.fromSeq(spec.eval(all)))
          .asInstanceOf[InternalRow]
        return new PartitionReader[InternalRow] {
          private var emitted = false
          override def next(): Boolean = { val h = !emitted; emitted = true; h }
          override def get(): InternalRow = out
          override def close(): Unit = ()
        }
      case _ => ()
    }
    // Every path carries (row, absolute batch index, row-in-batch)
    // so the metadata columns can be served from any partition kind.
    val attributed: Seq[(org.apache.spark.sql.Row, Long, Long)] = partition match {
      case GraftAggPartition =>
        // fully-pushed limit / top-N: filter the whole buffer, sort if
        // a top-N order was pushed (stable, so ties keep append
        // order), cap at N — at most N rows ever leave the scan
        val store = GraftStoreRegistry.get(storeName)
        val batches = store.batchesOf(topic).map(_._2).getOrElse(Seq.empty)
        val base = store.appendedBatches(topic) - batches.size
        val all = batches.zipWithIndex.flatMap { case (b, i) =>
          b.zipWithIndex.map { case (r, j) => (r, base + i, j.toLong) }
        }.filter(t => pushed.forall(GraftFilterEval.eval(full, t._1, _)))
        val ordered =
          if (sort.nonEmpty) all.sortWith((a, b) => cmpRows(a._1, b._1) < 0)
          else all
        ordered.take(limit.getOrElse(Int.MaxValue))
      case GraftAbsolutePartition(abs) =>
        // absolute-index fetch (batch AND streaming paths): a batch
        // evicted between plan and execute is simply absent — missing
        // offsets by the drop-oldest contract, never another batch's
        // rows served under a stale index
        GraftStoreRegistry.get(storeName).batchSlice(topic, abs, abs + 1)
          .headOption.map(_._2).getOrElse(Seq.empty)
          .zipWithIndex.map { case (r, j) => (r, abs, j.toLong) }
      case other =>
        throw new IllegalStateException(s"unexpected partition $other")
    }
    val getters: Array[(org.apache.spark.sql.Row, Long, Long) => Any] =
      required.fieldNames.map {
        case GraftStoreTable.BatchOffsetCol =>
          (_: org.apache.spark.sql.Row, abs: Long, _: Long) => abs
        case GraftStoreTable.RowInBatchCol =>
          (_: org.apache.spark.sql.Row, _: Long, j: Long) => j
        case n =>
          val i = full.fieldIndex(n)
          (r: org.apache.spark.sql.Row, _: Long, _: Long) => r.get(i)
      }
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(required)
    val it = attributed.iterator
      .filter(t => pushed.forall(GraftFilterEval.eval(full, t._1, _)))
      .map { case (r, abs, j) =>
        val projected = org.apache.spark.sql.Row
          .fromSeq(getters.toIndexedSeq.map(g => g(r, abs, j)))
        toCatalyst(projected).asInstanceOf[InternalRow]
      }
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean = { val h = it.hasNext; if (h) cur = it.next(); h }
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}

/** Row-level evaluation of the pushed-filter family. Comparisons are
  * type-directed on the ATOMIC types the store's topics carry
  * (numerics, strings, booleans) — anything else is declared
  * unsupported in [[GraftScanBuilder.pushFilters]] and evaluated by
  * Spark above the scan, so pushdown can never change semantics. */
private[sources] object GraftFilterEval {
  private[sources] def atomicCol(schema: StructType, attr: String): Boolean =
    schema.fields.find(_.name == attr).exists(f => f.dataType match {
      case _: org.apache.spark.sql.types.NumericType => true
      case org.apache.spark.sql.types.StringType => true
      case org.apache.spark.sql.types.BooleanType => true
      case org.apache.spark.sql.types.TimestampType => true
      case org.apache.spark.sql.types.DateType => true
      case _ => false
    })
  private def atomic(schema: StructType, attr: String): Boolean =
    atomicCol(schema, attr)

  def supported(schema: StructType, f: Filter): Boolean = f match {
    case EqualTo(a, _) => atomic(schema, a)
    case GreaterThan(a, _) => atomic(schema, a)
    case GreaterThanOrEqual(a, _) => atomic(schema, a)
    case LessThan(a, _) => atomic(schema, a)
    case LessThanOrEqual(a, _) => atomic(schema, a)
    case IsNull(a) => schema.fieldNames.contains(a)
    case IsNotNull(a) => schema.fieldNames.contains(a)
    case _ => false
  }

  private def isLongSafe(n: Number): Boolean =
    n.isInstanceOf[java.lang.Long] || n.isInstanceOf[java.lang.Integer] ||
      n.isInstanceOf[java.lang.Short] || n.isInstanceOf[java.lang.Byte]

  private[sources] def cmp(l: Any, r: Any): Int = (l, r) match {
    // Integral pairs compare exactly: the double fallback collapses
    // BIGINTs differing only above 2^53, which would corrupt pushed
    // MIN/MAX and top-N ordering with no aggregate above the scan to
    // catch it.
    case (a: java.lang.Long, b: java.lang.Long) =>
      java.lang.Long.compare(a.longValue(), b.longValue())
    // exact branch is a WHITELIST of long-safe integrals: a blacklist
    // would let java.math.BigInteger through, whose longValue()
    // silently truncates above 64 bits
    case (a: Number, b: Number) if isLongSafe(a) && isLongSafe(b) =>
      java.lang.Long.compare(a.longValue(), b.longValue())
    // fractional pairs compare under SPARK's semantics (SQL "NaN
    // Semantics": NaN is larger than any other value and NaN = NaN;
    // -0.0 = 0.0) — NOT java.lang.Double.compare, which orders -0.0
    // below 0.0 and would make a fully-consumed pushed EqualTo(x, 0.0)
    // drop a stored -0.0 row Spark itself would keep
    case (a: Number, b: Number) =>
      graft.engine.StreamStore.nanSafeCmpDouble(a.doubleValue(), b.doubleValue())
    case (a: String, b: String) => a.compareTo(b)
    case (a: Boolean, b: Boolean) => java.lang.Boolean.compare(a, b)
    // datetime externals normalize to the epoch axis BEFORE comparing:
    // stored rows and filter literals can arrive in DIFFERENT classes
    // (java.sql.Timestamp rows vs a java.time.Instant literal under
    // spark.sql.datetime.java8API.enabled — or a store outliving a
    // config change), and a class-pair whitelist would throw exactly
    // when the mixed pair shows up, failing the whole query because
    // pushed filters are fully consumed with no Spark re-filter above.
    // Each side converts ONCE (this is the per-row hot path).
    case _ =>
      (GraftTimeConv.tsMicros(l), GraftTimeConv.tsMicros(r)) match {
        case (Some(a), Some(b)) => java.lang.Long.compare(a, b)
        case _ =>
          (GraftTimeConv.dateDays(l), GraftTimeConv.dateDays(r)) match {
            case (Some(a), Some(b)) => java.lang.Long.compare(a, b)
            case _ => throw new IllegalArgumentException(
              s"unsupported comparison: ${l.getClass} vs ${r.getClass}")
          }
      }
  }

  def eval(schema: StructType, row: org.apache.spark.sql.Row, f: Filter): Boolean = {
    def v(attr: String): Any = row.get(schema.fieldIndex(attr))
    f match {
      case IsNull(a) => v(a) == null
      case IsNotNull(a) => v(a) != null
      case EqualTo(a, x) => v(a) != null && cmp(v(a), x) == 0
      case GreaterThan(a, x) => v(a) != null && cmp(v(a), x) > 0
      case GreaterThanOrEqual(a, x) => v(a) != null && cmp(v(a), x) >= 0
      case LessThan(a, x) => v(a) != null && cmp(v(a), x) < 0
      case LessThanOrEqual(a, x) => v(a) != null && cmp(v(a), x) <= 0
      case _ => true
    }
  }
}
