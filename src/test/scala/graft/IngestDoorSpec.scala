package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.engine.{DeltaIndex, IngestMetrics, StreamStore, TextOps, VectorOps}
import graft.sources.GraftStoreRegistry

/** The ingest doors' epoch bodies: the near-dup door end to end
  * through a real stream — its per-epoch Spark job budget, when its
  * compaction lands, its verdicts and ingest counters on edge-case
  * inputs against a one-batch replay and against the distributed
  * classify, a door whose index path renders past Spark's
  * plan-metadata abbreviation limit — and the ANN epoch's delta write
  * guard. */
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

  /** Runs `body` and returns the properties of every Spark job it
    * started. Listener delivery is asynchronous: a marker job submitted
    * after `body` is delivered after every job `body` started, so
    * waiting for it flushes them. */
  private def jobsDuring[T](body: => T): (T, Seq[java.util.Properties]) = {
    val started = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]()
    val marker = s"job-count-flush-${System.nanoTime()}"
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties).getOrElse(new java.util.Properties())
        if (Option(p.getProperty("spark.job.description")).contains(marker))
          flushed.countDown()
        else started.add(p)
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      spark.sparkContext.setJobDescription(marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(flushed.await(60, TimeUnit.SECONDS), "listener never flushed")
      (out, started.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Jobs per (streaming query id, batch id) among `jobs`. */
  private def perBatch(jobs: Seq[java.util.Properties]): Map[(String, Long), Int] =
    jobs.flatMap(p => for (q <- Option(p.getProperty("sql.streaming.queryId"));
                           b <- Option(p.getProperty("streaming.sql.batchId")))
      yield (q, b.toLong)).groupBy(identity).map { case (k, v) => k -> v.size }

  test("door job budget: a 4-epoch stream with one compaction runs at most 4 Spark jobs per plain epoch and 5 in the compaction epoch") {
    val dir = java.nio.file.Files.createTempDirectory("graft_door_jobs")
    val idx = dir.resolve("jb_idx").toString
    stage(idx, Seq("e0", "e1"))
    // each epoch admits one doc (a delta per epoch) and rejects one,
    // so compactEvery = 2 folds e0 and e1 at the end of epoch 2
    val batches = (0 until 4).map { i =>
      val dup = if (i == 0) text("e0") else text(s"f${i - 1}")
      Seq(Row(100L + i * 10, dup), Row(101L + i * 10, text(s"f$i")))
    }
    val st = new StreamStore(1 << 20, Long.MaxValue / 2)
    batches.foreach(b => st.append("docs_jobs", docSchema, b))
    GraftStoreRegistry.register("s_jobs", st)
    val perEpoch = TrieMap.empty[Long, Seq[(Long, String)]]
    try {
      val (queryId, jobs) = jobsDuring {
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
      val byEpoch = perBatch(jobs).collect { case ((q, b), n) if q == queryId => b -> n }
      assert(byEpoch.keySet == Set(0L, 1L, 2L, 3L), s"jobs by epoch: $byEpoch")
      info(s"jobs by epoch: ${byEpoch.toSeq.sorted.mkString(", ")}")
      // the banding collect, the probe's broadcast build and semi-join
      // collect, and the delta write; the callback's collect of the
      // driver-local verdicts runs none; the compaction adds its merge
      // write
      Seq(0L, 1L, 3L).foreach(e => assert(byEpoch(e) <= 4,
        s"plain epoch $e ran ${byEpoch(e)} jobs (budget 4): $byEpoch"))
      assert(byEpoch(2L) <= 5,
        s"compaction epoch ran ${byEpoch(2L)} jobs (budget 5): $byEpoch")
    } finally GraftStoreRegistry.unregister("s_jobs")
  }

  test("the compacting epoch's callback still sees compactEvery outstanding deltas, and the fold lands before the next epoch reads the index") {
    val dir = java.nio.file.Files.createTempDirectory("graft_door_fold")
    val idx = dir.resolve("fo_idx").toString
    stage(idx, Seq("e0", "e1"))
    // epochs 0 and 1 admit (deltas e0, e1); epoch 2 admits nothing, so
    // its callback sees exactly e0 and e1 before the fold; epoch 3
    // copies epoch 0's admission
    val batches = Seq(Seq(Row(100L, text("f0"))), Seq(Row(110L, text("f1"))),
      Seq(Row(120L, text("e0"))), Seq(Row(130L, text("f0")), Row(131L, text("f3"))))
    val st = new StreamStore(1 << 20, Long.MaxValue / 2)
    batches.foreach(b => st.append("docs_fold", docSchema, b))
    GraftStoreRegistry.register("s_fold", st)
    // per epoch: verdicts, outstanding deltas, served base, probe plan
    val seen = TrieMap.empty[Long, (Map[Long, String], Int, String, String)]
    try {
      val q = TextOps.startNeardupIngest(spark, "s_fold", "docs_fold", idx,
        maxBatchesPerTrigger = 1, checkpointDir = dir.resolve("ckpt").toString,
        onEpoch = (e, c) => {
          seen.put(e, (verdicts(c).toMap, DeltaIndex.outstanding(spark, idx),
            DeltaIndex.currentBase(spark, idx), TextOps.lastEpochPlan.get))
          ()
        }, compactEvery = 2)
      try q.processAllAvailable() finally q.stop()
      assert(q.exception.isEmpty, s"door failed: ${q.exception}")
      assert(seen.keySet == Set(0L, 1L, 2L, 3L))
      val (v2, outstanding2, base2, _) = seen(2L)
      assert(v2 == Map(120L -> "dup_of_existing"))
      assert(outstanding2 == 2 && base2 == idx,
        s"epoch 2's callback runs before the fold: $outstanding2 deltas, base $base2")
      val (v3, outstanding3, base3, plan3) = seen(3L)
      assert(v3 == Map(130L -> "dup_of_existing", 131L -> "unique"),
        s"the folded admission still classifies: $v3")
      assert(base3 == s"${idx}_v1" && outstanding3 == 1,
        s"epoch 3 runs on the folded base: $outstanding3 deltas, base $base3")
      assert(plan3.contains("fo_idx_v1"),
        s"epoch 3's probe must read the folded base:\n${plan3.take(3000)}")
      assert(IngestMetrics.compactionCounts.toMap.get(idx).contains(1L),
        s"exactly one mid-stream compaction: ${IngestMetrics.compactionCounts}")
    } finally GraftStoreRegistry.unregister("s_fold")
  }

  test("an epoch of only sub-3-token docs reads no index, admits them and clears a stale delta") {
    val dir = java.nio.file.Files.createTempDirectory("graft_door_short")
    val idx = dir.resolve("sh_idx").toString
    stage(idx, Seq("e0"))
    val delta = new java.io.File(s"${idx}_delta/e5")
    // a first attempt of epoch 5 admitted a banded doc...
    TextOps.neardupIngestEpoch(spark, idx, 5L, df(Seq(Row(200L, text("g0"))))).collect()
    assert(delta.isDirectory)
    // ...its replay holds only docs with fewer than 3 tokens
    val tag = s"short-epoch-${System.nanoTime()}"
    val (out, jobs) = jobsDuring {
      spark.sparkContext.setLocalProperty("graft.spec.tag", tag)
      try TextOps.neardupIngestEpoch(spark, idx, 5L, df(Seq(Row(201L, "two tokens"),
          Row(202L, "x"), Row(null, "a b")))).collect()
          .map(r => Option(r.get(0)) -> r.getString(1)).toSeq
      finally spark.sparkContext.setLocalProperty("graft.spec.tag", null)
    }
    assert(out.sortBy(_._1.map(_.toString)) == Seq(None -> "unique",
      Some(201L) -> "unique", Some(202L) -> "unique"), s"verdicts: $out")
    val epochJobs = jobs.count(p => tag == p.getProperty("graft.spec.tag"))
    assert(epochJobs == 1, s"only the banding pass may run, no index probe: $epochJobs jobs")
    assert(!delta.exists, "the replay admits no bands, so the stale delta clears")
  }

  test("driver-side epoch verdicts equal the distributed classifyNeardupBatch on seeded batches with shared bands, repeated and null ids and short docs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_door_diff")
    val idx = dir.resolve("df_idx").toString
    stage(idx, Seq("a", "b", "c"))
    // texts of 8 tokens from 2 indexed and 2 per-epoch fresh families,
    // each token swapped for a rare one with some odds: copies share
    // some bands but not all
    val rnd = new scala.util.Random(11)
    def doc(e: Int): String =
      if (rnd.nextInt(8) == 0) Seq.fill(rnd.nextInt(3))("w").mkString(" ")
      else {
        val fam = Seq("a", "b", s"d$e", s"e$e")(rnd.nextInt(4))
        (0 until 8).map(i =>
          if (rnd.nextInt(6) == 0) s"r${rnd.nextInt(3)}tok$i" else s"${fam}tok$i")
          .mkString(" ")
      }
    def sorted(v: Seq[(Option[Any], String)]) = v.map { case (i, st) =>
      (i.map(_.toString).getOrElse(""), st) }.sorted
    (0 until 3).foreach { e =>
      val rows = (0 until 40).map { _ =>
        Row(if (rnd.nextInt(10) == 0) null else (1000L * e + rnd.nextInt(30)), doc(e))
      }
      val batch = df(rows)
      // the distributed classify first: it reads the same index the
      // epoch reads (base + every earlier epoch's delta)
      val reference = TextOps.classifyNeardupBatch(spark, idx, batch).collect()
        .map(r => Option(r.get(0)) -> r.getString(1)).toSeq
      val epoch = TextOps.neardupIngestEpoch(spark, idx, e.toLong, batch).collect()
        .map(r => Option(r.get(0)) -> r.getString(1)).toSeq
      assert(sorted(epoch) == sorted(reference), s"epoch $e")
      assert(reference.map(_._2).distinct.size == 3,
        s"epoch $e must exercise every status: ${reference.groupBy(_._2).view.mapValues(_.size).toMap}")
    }
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
