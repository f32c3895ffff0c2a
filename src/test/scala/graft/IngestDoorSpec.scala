package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicReference}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.engine.{IngestMetrics, StreamStore, TextOps, VectorOps}
import graft.sources.GraftStoreRegistry

/** The ingest doors' epoch bodies: the near-dup door end to end
  * through a real stream — its per-epoch Spark job budget, its verdicts
  * and ingest counters on edge-case inputs against a one-batch replay,
  * a door whose index path renders past Spark's plan-metadata
  * abbreviation limit — and the ANN epoch's delta write guard. */
class IngestDoorSpec extends SparkSuite {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** Family-disjoint text: two families share no 3-gram shingle. */
  private def text(fam: String): String =
    (0 until 8).map(i => s"${fam}tok$i").mkString(" ")

  private def df(rows: Seq[Row]): DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(rows.toList), docSchema)

  private def stage(path: String, fams: Seq[String]): Unit =
    TextOps.stageNeardupIndex(
      df(fams.zipWithIndex.map { case (f, i) => Row(i.toLong, text(f)) }), path)

  private def verdicts(c: DataFrame): Seq[(Long, String)] =
    c.collect().map(r => r.getLong(0) -> r.getString(1)).toSeq

  /** Runs `body` with a listener counting the jobs each streaming
    * batch id launched, per query id. Listener delivery is
    * asynchronous: a marker job submitted after `body` is delivered
    * after every job `body` started, so waiting for it flushes them. */
  private def countingJobs[T](body: => T): (T, Map[(String, Long), Int]) = {
    val counts = new ConcurrentHashMap[(String, Long), AtomicInteger]()
    val marker = s"job-count-flush-${System.nanoTime()}"
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        if (p.flatMap(x => Option(x.getProperty("spark.job.description")))
            .contains(marker)) flushed.countDown()
        for (props <- p; q <- Option(props.getProperty("sql.streaming.queryId"));
             b <- Option(props.getProperty("streaming.sql.batchId")))
          counts.computeIfAbsent((q, b.toLong), _ => new AtomicInteger())
            .incrementAndGet()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      spark.sparkContext.setJobDescription(marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(flushed.await(60, TimeUnit.SECONDS), "listener never flushed")
      (out, counts.asScala.map { case (k, v) => k -> v.get }.toMap)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("door job budget: a 4-epoch stream with one compaction runs at most 8 Spark jobs per plain epoch and 9 in the compaction epoch") {
    val dir = java.nio.file.Files.createTempDirectory("graft_door_jobs")
    val idx = dir.resolve("jb_idx").toString
    stage(idx, Seq("e0", "e1"))
    // each epoch admits one doc (a delta per epoch) and rejects one,
    // so compactEvery = 2 folds e0 and e1 at the top of epoch 2
    val batches = (0 until 4).map { i =>
      val dup = if (i == 0) text("e0") else text(s"f${i - 1}")
      Seq(Row(100L + i * 10, dup), Row(101L + i * 10, text(s"f$i")))
    }
    val st = new StreamStore(1 << 20, Long.MaxValue / 2)
    batches.foreach(b => st.append("docs_jobs", docSchema, b))
    GraftStoreRegistry.register("s_jobs", st)
    val perEpoch = TrieMap.empty[Long, Seq[(Long, String)]]
    try {
      val (queryId, jobs) = countingJobs {
        val q = TextOps.startNeardupIngest(spark, "s_jobs", "docs_jobs", idx,
          maxBatchesPerTrigger = 1, checkpointDir = dir.resolve("ckpt").toString,
          onEpoch = (e, c) => { perEpoch.put(e, verdicts(c)); () },
          compactEvery = 2)
        try q.processAllAvailable() finally q.stop()
        q.id.toString
      }
      assert(perEpoch.keySet == Set(0L, 1L, 2L, 3L))
      perEpoch.foreach { case (e, v) =>
        assert(v.toMap == Map(100L + e * 10 -> "dup_of_existing",
          101L + e * 10 -> "unique"), s"epoch $e verdicts: $v")
      }
      assert(IngestMetrics.compactionCounts.toMap.get(idx).contains(1L),
        s"exactly one mid-stream compaction: ${IngestMetrics.compactionCounts}")
      val byEpoch = jobs.collect { case ((q, b), n) if q == queryId => b -> n }
      assert(byEpoch.keySet == Set(0L, 1L, 2L, 3L), s"jobs by epoch: $byEpoch")
      info(s"jobs by epoch: ${byEpoch.toSeq.sorted.mkString(", ")}")
      // the pinning banding pass, the 4-job classification (probe-key
      // broadcast, (band, sig) aggregate, doc_id window, checkpoint),
      // the rollup, the delta write and the callback's collect; the
      // compaction adds its merge write
      Seq(0L, 1L, 3L).foreach(e => assert(byEpoch(e) <= 8,
        s"plain epoch $e ran ${byEpoch(e)} jobs (budget 8): $byEpoch"))
      assert(byEpoch(2L) <= 9,
        s"compaction epoch ran ${byEpoch(2L)} jobs (budget 9): $byEpoch")
    } finally GraftStoreRegistry.unregister("s_jobs")
  }

  test("door verdicts and ingest counters match a one-batch replay on short docs, a repeated doc_id, a band-less admission and an eviction-drained replay") {
    val dir = java.nio.file.Files.createTempDirectory("graft_door_edges")
    val idx = dir.resolve("ed_idx").toString
    val twinIdx = dir.resolve("ed_twin_idx").toString
    stage(idx, Seq("e0", "e1"))
    stage(twinIdx, Seq("e0", "e1"))
    val topic = "docs_edges"
    IngestMetrics.reset(topic)
    // 2 columns x 8 B a row: b0..b2 (144 B) fit the 160 B budget;
    // appending b3 and b4 (80 B each) evicts b0, b1 and b2
    val st = new StreamStore(maxBytesPerStream = 160, ttlMillis = Long.MaxValue / 2)
    val b0 = Seq(Row(100L, text("e0")), // an index copy
      Row(101L, "two tokens"), // < 3 tokens: no bands
      Row(102L, text("f1")), Row(102L, text("f1")), // doc_id repeated
      Row(103L, text("f1"))) // an in-batch copy
    // the only admission carries no bands: no delta part at all
    val b1 = Seq(Row(110L, "x"), Row(111L, text("e1")))
    // admitted by an attempt that crashes before its offsets commit
    val b2 = Seq(Row(120L, text("g2")), Row(121L, text("g3")))
    val b3 = Seq(Row(130L, text("g2")), Row(131L, text("f1")),
      Row(132L, "a b"), Row(133L, text("h3")), Row(134L, text("h3")))
    val b4 = Seq(Row(140L, text("g2")), Row(141L, text("h4")),
      Row(142L, text("k5")), Row(143L, "one"), Row(144L, text("h3")))
    Seq(b0, b1, b2).foreach(b => st.append(topic, docSchema, b))
    GraftStoreRegistry.register("s_edges", st)
    val delivered = TrieMap.empty[Long, Seq[(Long, String)]]
    val crashed = new AtomicBoolean(false)
    val crashedVerdicts = new AtomicReference(Seq.empty[(Long, String)])
    def start() = TextOps.startNeardupIngest(spark, "s_edges", topic, idx,
      maxBatchesPerTrigger = 1, checkpointDir = dir.resolve("ckpt").toString,
      onEpoch = (e, c) => {
        val v = verdicts(c)
        if (e == 2L && !crashed.getAndSet(true)) {
          crashedVerdicts.set(v)
          throw new IllegalStateException("injected crash before commit")
        }
        delivered.put(e, v)
        ()
      })
    def delta(e: Long) = new java.io.File(s"${idx}_delta/e$e")
    try {
      val q1 = start()
      try intercept[Exception](q1.processAllAvailable()) finally q1.stop()
      assert(crashedVerdicts.get.map(_._1).toSet == Set(120L, 121L))
      assert(delivered.keySet == Set(0L, 1L))
      assert(delivered(0L).count(_._1 == 102L) == 2,
        s"one verdict row per input row: ${delivered(0L)}")
      assert(delta(0L).isDirectory, "epoch 0 admitted banded docs")
      assert(!delta(1L).exists,
        "a band-less admission must leave no (empty) delta part")
      assert(delta(2L).isDirectory, "the crashed attempt wrote its delta")
      Seq(b3, b4).foreach(b => st.append(topic, docSchema, b))
      assert(st.droppedRows(topic) == 9L, "fixture must evict b0, b1 and b2")
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
      assert(!delta(2L).exists,
        "the eviction-drained replay of epoch 2 must clear its stale delta")
      assert(delivered.keySet == Set(0L, 1L, 3L, 4L),
        "the drained epoch delivers nothing")
      // the replay: every delivered doc in ONE batch on the twin index
      val door = delivered.toSeq.sortBy(_._1).flatMap(_._2)
      val replay = verdicts(TextOps.classifyNeardupBatch(spark, twinIdx,
        df((b0 ++ b1 ++ b3 ++ b4).toList)))
      def admitted(v: Seq[(Long, String)]) =
        v.map { case (i, s) => (i, s == "unique") }.sorted
      assert(admitted(door) == admitted(replay),
        s"door $door vs replay $replay")
      assert(door.count(_._2 == "unique") == 10 &&
        door.toMap.get(130L).contains("unique"),
        s"the cleared admission's copy is admitted again: $door")
      // counters are at-least-once: the crashed attempt counted too
      val tally = (door ++ crashedVerdicts.get).groupBy(_._2)
        .map { case (s, v) => (topic, if (s == "unique") "admitted" else s) -> v.size.toLong }
      assert(IngestMetrics.docCounts.filter(_._1._1 == topic).toMap == tally,
        s"counters: ${IngestMetrics.docCounts}")
      assert(IngestMetrics.epochCounts.toMap.get(topic).contains(6L),
        s"epochs 0-4 plus the crashed attempt: ${IngestMetrics.epochCounts}")
    } finally GraftStoreRegistry.unregister("s_edges")
  }

  test("a door whose index path renders past spark.sql.maxMetadataStringLength starts and classifies") {
    val dir = java.nio.file.Files.createTempDirectory("graft_door_long")
    val deep = dir.resolve("d" * 120)
    java.nio.file.Files.createDirectories(deep)
    val idx = deep.resolve("long_idx").toString
    assert(idx.length > 100 && spark.conf.get("spark.sql.maxMetadataStringLength") == "100")
    stage(idx, Seq("e0"))
    val st = new StreamStore(1 << 20, Long.MaxValue / 2)
    st.append("docs_long", docSchema, Seq(Row(100L, text("e0")), Row(101L, text("f1"))))
    GraftStoreRegistry.register("s_long", st)
    val seen = TrieMap.empty[Long, Map[Long, String]]
    try {
      val q = TextOps.startNeardupIngest(spark, "s_long", "docs_long", idx,
        maxBatchesPerTrigger = 1, checkpointDir = dir.resolve("ckpt").toString,
        onEpoch = (e, c) => { seen.put(e, verdicts(c).toMap); () })
      try q.processAllAvailable() finally q.stop()
      assert(q.exception.isEmpty, s"door failed: ${q.exception}")
      assert(seen.toMap == Map(0L -> Map(100L -> "dup_of_existing", 101L -> "unique")))
    } finally GraftStoreRegistry.unregister("s_long")
  }

  test("ANN epoch: a `new` verdict on a null vec_id admits nothing and writes no delta part") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_null_id")
    val idx = dir.resolve("an_idx").toString
    val embSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    def vecs(rows: Seq[Row]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toList), embSchema)
    def oneHot(i: Int): Seq[Float] = (0 until 16).map(j => if (j == i) 1.0f else 0.0f)
    VectorOps.stageAnnIndex(vecs(Seq(Row(0L, oneHot(0)))), idx, nPlanes = 8, dim = 16)
    val out = VectorOps.annIngestEpoch(spark, idx, 0L,
      vecs(Seq(Row(null, oneHot(5)))), nPlanes = 8, dim = 16)
      .collect().map(_.getAs[String]("status")).toSeq
    assert(out == Seq("new"))
    assert(!new java.io.File(s"${idx}_delta/e0").exists,
      "a null-id row joins no probe row: nothing to admit, no delta")
  }
}
