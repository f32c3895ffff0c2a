package graft.engine

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

/** The reference's Prometheus scrape surface (pkg/metrics.go:231-243
  * serves `/metrics` via promhttp; cmd/serve.go wires ~20 counters) as
  * a zero-dependency JDK `HttpServer`: the same exposition text format
  * (v0.0.4 — `# HELP` / `# TYPE` / `name{label="v"} value` lines) any
  * Prometheus scraper, curl, or VictoriaMetrics agent already parses,
  * rendered on demand from the two live metric sources the engine has:
  *
  *   - [[StreamStore]] per-topic gauges/counters — buffered bytes,
  *     buffered rows, appended batches, dropped rows (the reference's
  *     `roar_stream_memory_bytes`, `roar_record_batches_created`,
  *     `roar_stream_records_dropped` family), plus the active-stream
  *     gauge;
  *   - [[GraftMetricsListener]] per-query counters fed by Spark's
  *     StreamingQueryListener — micro-batches executed, input rows,
  *     last batch duration and rate (the reference's per-topic
  *     message counters land here per-query, because in Spark the
  *     streaming query IS the pipeline unit).
  *
  * Also serves `/healthz` → `ok` (the reference's health/action RPC,
  * SURVEY O24) so one port answers both probes, like the reference's
  * single metrics mux.
  *
  * Scale note: a scrape reads in-memory counters only — no Spark
  * jobs, no store copies beyond the per-topic size/count lookups the
  * store already maintains; cost is O(topics + queries) per scrape.
  * Daemon executor threads, ephemeral-port friendly (`port = 0`),
  * `AutoCloseable` — same lifecycle contract as [[ArrowTcpServer]]. */
final class MetricsHttpServer(
    store: StreamStore,
    listener: GraftMetricsListener,
    port: Int = 0)
    extends AutoCloseable {

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool(
    (r: Runnable) => {
      val t = new Thread(r, "graft-metrics-http")
      t.setDaemon(true)
      t
    }))

  /** The bound (possibly ephemeral) port scrapers connect to. */
  val boundPort: Int = {
    server.createContext("/metrics", handler(() => render(), "text/plain; version=0.0.4; charset=utf-8"))
    server.createContext("/healthz", handler(() => "ok\n", "text/plain; charset=utf-8"))
    server.start()
    server.getAddress.getPort
  }

  private def handler(body: () => String, contentType: String): HttpHandler =
    new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        val bytes = body().getBytes(UTF_8)
        ex.getResponseHeaders.set("Content-Type", contentType)
        ex.sendResponseHeaders(200, bytes.length.toLong)
        val os = ex.getResponseBody
        try os.write(bytes) finally os.close()
      }
    }

  /** Prometheus label-value escaping: backslash, quote, newline. */
  private def esc(v: String): String =
    v.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")

  /** Locale-free number rendering: longs as digits, doubles via
    * Java's shortest-roundtrip Double.toString (always '.'-decimal). */
  private def num(d: Double): String =
    if (d == d.floor && !d.isInfinite && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  /** Render the full exposition document from live counters. */
  def render(): String = {
    val sb = new StringBuilder(4096)
    def metric(name: String, kind: String, help: String)(
        rows: Seq[(Seq[(String, String)], Double)]): Unit = {
      sb ++= s"# HELP $name $help\n# TYPE $name $kind\n"
      rows.foreach { case (labels, v) =>
        val ls =
          if (labels.isEmpty) ""
          else labels.map { case (k, lv) => s"""$k="${esc(lv)}"""" }
            .mkString("{", ",", "}")
        sb ++= s"$name$ls ${num(v)}\n"
      }
    }

    val topics = store.listTopics().sorted
    metric("graft_streams_active", "gauge",
      "Number of topics currently buffered in the stream store")(
      Seq((Nil, topics.size.toDouble)))
    metric("graft_stream_memory_bytes", "gauge",
      "Estimated buffered bytes per topic")(
      topics.map(t => (Seq("topic" -> t), store.currentBytes(t).toDouble)))
    metric("graft_stream_buffered_rows", "gauge",
      "Rows currently buffered per topic")(
      topics.map { t =>
        val rows = store.batchesOf(t).map(_._2.map(_.size.toLong).sum).getOrElse(0L)
        (Seq("topic" -> t), rows.toDouble)
      })
    metric("graft_record_batches_appended_total", "counter",
      "Record batches appended per topic since start (monotone; eviction does not decrease it)")(
      topics.map(t => (Seq("topic" -> t), store.appendedBatches(t).toDouble)))
    metric("graft_stream_records_dropped_total", "counter",
      "Rows evicted per topic by the drop-oldest byte budget")(
      topics.map(t => (Seq("topic" -> t), store.droppedRows(t).toDouble)))

    // ingest-door outcomes (reference's per-stream drop/ingest family,
    // pkg/metrics.go:20-52): what the streaming SemDeDup door decided
    // per topic — admitted items grew the index, dup_* / matched were
    // turned away. Epochs count every drain, including empty ones (an
    // evicted offset shows as epochs advancing with doc counts still).
    metric("graft_ingest_docs_total", "counter",
      "Ingest classification outcomes per topic (admitted, dup_of_existing, dup_in_batch, matched)")(
      IngestMetrics.docCounts.map { case ((t, st), v) =>
        (Seq("topic" -> t, "status" -> st), v.toDouble)
      })
    metric("graft_ingest_epochs_total", "counter",
      "Ingest micro-batch epochs run per topic (empty drains included)")(
      IngestMetrics.epochCounts.map { case (t, v) =>
        (Seq("topic" -> t), v.toDouble)
      })
    metric("graft_ingest_epoch_seconds_total", "counter",
      "Seconds ingest epochs spent per topic and phase (epoch function, callback, fold)")(
      IngestMetrics.epochSeconds.map { case ((t, p), v) =>
        (Seq("topic" -> t, "phase" -> p), v)
      })

    // LSM maintenance pressure (round-14): per-epoch probe plan depth
    // is outstanding deltas + base, so the gauge IS the plan-depth
    // dial; the compactions counter shows the maintenance cadence that
    // bounds it (compactEvery). Occupancy warnings flag the measured
    // super-linear probe regime (BENCH_planes.json) firing live.
    metric("graft_index_outstanding_deltas", "gauge",
      "Live (un-compacted) delta dirs per ingest index — per-epoch probe plan depth is this plus the base")(
      IngestMetrics.outstandingDeltaGauges.map { case (i, v) =>
        (Seq("index" -> i), v.toDouble)
      })
    metric("graft_ingest_compactions_total", "counter",
      "Delta-into-base compactions run per ingest index")(
      IngestMetrics.compactionCounts.map { case (i, v) =>
        (Seq("index" -> i), v.toDouble)
      })
    metric("graft_ingest_probe_occupancy_warnings_total", "counter",
      "Epochs whose mean ANN candidates/probe crossed the occupancy warning threshold (super-linear probe regime)")(
      IngestMetrics.occupancyWarnCounts.map { case (i, v) =>
        (Seq("index" -> i), v.toDouble)
      })

    val qs = listener.snapshot.sortBy(_.name)
    metric("graft_query_batches_total", "counter",
      "Micro-batches executed per streaming query")(
      qs.map(q => (Seq("query" -> q.name), q.batches.toDouble)))
    metric("graft_query_input_rows_total", "counter",
      "Input rows processed per streaming query")(
      qs.map(q => (Seq("query" -> q.name), q.inputRows.toDouble)))
    metric("graft_query_last_batch_duration_ms", "gauge",
      "triggerExecution duration of the most recent micro-batch")(
      qs.map(q => (Seq("query" -> q.name), q.lastDurationMs.toDouble)))
    metric("graft_query_input_rows_per_second", "gauge",
      "Input rate reported by the most recent micro-batch")(
      qs.map(q => (Seq("query" -> q.name), q.lastInputRowsPerSec)))
    sb.result()
  }

  override def close(): Unit = server.stop(0)
}
