package graft

import graft.engine.{GraftMetricsListener, IngestMetrics, MetricsHttpServer, StreamStore,
  StreamingOps, TextOps}
import graft.sources.GraftStoreRegistry
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types._
import java.net.{HttpURLConnection, URI}
import java.sql.Timestamp
import scala.io.Source

/** The /metrics scrape endpoint (reference pkg/metrics.go:231-243):
  * a REAL HTTP client hits a REAL bound port and parses the
  * Prometheus exposition text that comes back. */
class MetricsHttpServerSpec extends SparkSuite {
  import spark.implicits._

  private def get(port: Int, path: String): (Int, String, String) = {
    val conn = new URI(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(5000)
    conn.setReadTimeout(5000)
    val code = conn.getResponseCode
    val body = Source.fromInputStream(conn.getInputStream, "UTF-8").mkString
    val ct = conn.getHeaderField("Content-Type")
    conn.disconnect()
    (code, body, ct)
  }

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType)))

  test("scrape renders store gauges/counters in Prometheus text format over real HTTP") {
    val store = new StreamStore(maxBytesPerStream = 200)
    // 12 rows x 2 cols x 8 = 192 bytes/batch: second append evicts the first
    store.append("orders", schema, (1L to 12L).map(i => Row(i, s"a$i")))
    store.append("orders", schema, (13L to 24L).map(i => Row(i, s"b$i")))
    store.append("events", schema, Seq(Row(1L, "x")))
    val listener = new GraftMetricsListener
    val srv = new MetricsHttpServer(store, listener)
    try {
      val (code, body, ct) = get(srv.boundPort, "/metrics")
      assert(code == 200)
      assert(ct.startsWith("text/plain"))
      // exposition structure: HELP/TYPE pairs precede samples
      assert(body.contains("# TYPE graft_stream_memory_bytes gauge"))
      assert(body.contains("# TYPE graft_stream_records_dropped_total counter"))
      assert(body.contains("""graft_streams_active 2"""))
      assert(body.contains("""graft_stream_memory_bytes{topic="orders"} 192"""))
      assert(body.contains("""graft_stream_buffered_rows{topic="orders"} 12"""))
      assert(body.contains("""graft_record_batches_appended_total{topic="orders"} 2"""))
      assert(body.contains("""graft_stream_records_dropped_total{topic="orders"} 12"""))
      assert(body.contains("""graft_stream_records_dropped_total{topic="events"} 0"""))
      val (hc, hb, _) = get(srv.boundPort, "/healthz")
      assert(hc == 200 && hb == "ok\n")
    } finally srv.close()
  }

  test("scrape reflects live streaming-query counters fed by the listener") {
    implicit val sqlCtx = spark.sqlContext
    val store = new StreamStore()
    val listener = new GraftMetricsListener
    spark.streams.addListener(listener)
    val srv = new MetricsHttpServer(store, listener)
    try {
      val mem = MemoryStream[Ev]
      val q = StreamingOps.streamingTumbling(mem.toDF())
        .writeStream.outputMode("complete")
        .format("memory").queryName("scrape_probe").start()
      try {
        mem.addData(
          Ev(Timestamp.valueOf("2024-01-01 10:05:00"), "click", 1.0),
          Ev(Timestamp.valueOf("2024-01-01 10:06:00"), "view", 2.0))
        q.processAllAvailable()
      } finally q.stop()
      var tries = 0
      while (tries < 50 &&
        !listener.snapshot.exists(m => m.name == "scrape_probe" && m.inputRows >= 2)) {
        Thread.sleep(100); tries += 1
      }
      val (_, body, _) = get(srv.boundPort, "/metrics")
      assert(body.contains("""graft_query_input_rows_total{query="scrape_probe"} 2"""))
      assert(body.contains("# TYPE graft_query_batches_total counter"))
      val batchLine = body.linesIterator
        .find(_.startsWith("""graft_query_batches_total{query="scrape_probe"}""")).get
      assert(batchLine.split(' ').last.toLong >= 1)
    } finally {
      srv.close()
      spark.streams.removeListener(listener)
    }
  }

  test("label values escape quotes/backslashes/newlines per the exposition format") {
    val store = new StreamStore()
    store.append("odd\"topic\\name", schema, Seq(Row(1L, "x")))
    val srv = new MetricsHttpServer(store, new GraftMetricsListener)
    try {
      val (_, body, _) = get(srv.boundPort, "/metrics")
      assert(body.contains("""graft_stream_memory_bytes{topic="odd\"topic\\name"}"""))
    } finally srv.close()
  }

  test("scrape serves an ingest door's time per epoch phase beside its epoch count") {
    val dir = java.nio.file.Files.createTempDirectory("graft_phase_met")
    val idx = dir.resolve("ph_idx").toString
    val docs = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    def text(fam: String) = (0 until 8).map(i => s"${fam}tok$i").mkString(" ")
    TextOps.stageNeardupIndex(spark.createDataFrame(
      spark.sparkContext.parallelize(List(Row(0L, text("e0")))), docs), idx)
    val store = new StreamStore(1 << 20, Long.MaxValue / 2)
    IngestMetrics.reset("docs_phase")
    Seq(Seq(Row(100L, text("e0"))), Seq(Row(110L, text("f1"))))
      .foreach(b => store.append("docs_phase", docs, b))
    GraftStoreRegistry.register("s_phase", store)
    val srv = new MetricsHttpServer(store, new GraftMetricsListener)
    try {
      val q = TextOps.startNeardupIngest(spark, "s_phase", "docs_phase", idx,
        maxBatchesPerTrigger = 1, checkpointDir = dir.resolve("ckpt").toString,
        onEpoch = (_, c) => { c.collect(); () })
      try q.processAllAvailable() finally q.stop()
      val (_, body, _) = get(srv.boundPort, "/metrics")
      assert(body.contains("# TYPE graft_ingest_epoch_seconds_total counter"))
      assert(body.contains("""graft_ingest_epochs_total{topic="docs_phase"} 2"""))
      val phases = body.linesIterator
        .filter(_.startsWith("""graft_ingest_epoch_seconds_total{topic="docs_phase",""")).map { l =>
          l.stripPrefix("""graft_ingest_epoch_seconds_total{topic="docs_phase",phase="""")
            .takeWhile(_ != '"') -> l.split(' ').last.toDouble
        }.toMap
      assert(phases.keySet == Set("epoch", "callback", "fold"), body)
      assert(phases.values.forall(_ > 0.0), s"every phase took time: $phases")
      assert(phases("epoch") > phases("callback"), s"the epoch function dominates: $phases")
    } finally {
      srv.close()
      GraftStoreRegistry.unregister("s_phase")
    }
  }
}
