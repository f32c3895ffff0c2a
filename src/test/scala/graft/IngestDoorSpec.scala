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
  * plan-metadata abbreviation limit — and the ANN door: its job
  * budget, when its compaction lands, and its epoch's delta writes —
  * the one staging call restaging a compacted index, and the
  * driver-written delta: one `_delta` listing per plain epoch, a stale
  * staging dir, one file per partition dir, a Spark write's footer. */
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

  private val embSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** 16-dim one-hot vectors: two families are orthogonal, so a copy
    * scores cosine 1 and nothing else matches it. */
  private def oneHot(i: Int): Seq[Float] = (0 until 16).map(j => if (j == i) 1.0f else 0.0f)

  private def stageAnn(path: String, fams: Seq[Int]): Unit =
    VectorOps.stageAnnIndex(spark.createDataFrame(spark.sparkContext.parallelize(
        fams.zipWithIndex.map { case (f, i) => Row(i.toLong, oneHot(f)) }.toList), embSchema),
      path, nPlanes = 8, dim = 16)

  /** (vec_id → status) of an ANN classification. */
  private def annVerdicts(c: DataFrame): Map[Long, String] =
    c.collect().map(r => r.getLong(0) -> r.getString(4)).toMap

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

  test("door job budget: a 4-epoch stream with one compaction runs at most 2 Spark jobs per plain epoch and 3 in the compaction epoch") {
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
      // band collect, probe scan, plus the merge write
      Seq(0L, 1L, 3L).foreach(e => assert(byEpoch(e) <= 2,
        s"plain epoch $e ran ${byEpoch(e)} jobs (budget 2): $byEpoch"))
      assert(byEpoch(2L) <= 3,
        s"compaction epoch ran ${byEpoch(2L)} jobs (budget 3): $byEpoch")
    } finally GraftStoreRegistry.unregister("s_jobs")
  }

  test("a plain door epoch lists the index's _delta once; the fold lists afresh") {
    val dir = java.nio.file.Files.createTempDirectory("graft_door_listings")
    val idx = dir.resolve("ls_idx").toString
    stage(idx, Seq("e0", "e1"))
    // every epoch admits a doc; compactEvery = 2 folds e0 and e1 at the
    // end of epoch 2, between epoch 2's callback and epoch 3's
    val batches = (0 until 4).map(i => Seq(Row(100L + i, text(s"f$i"))))
    val st = new StreamStore(1 << 20, Long.MaxValue / 2)
    batches.foreach(b => st.append("docs_ls", docSchema, b))
    GraftStoreRegistry.register("s_ls", st)
    val at = TrieMap.empty[Long, Long]
    try {
      val q = TextOps.startNeardupIngest(spark, "s_ls", "docs_ls", idx,
        maxBatchesPerTrigger = 1, checkpointDir = dir.resolve("ckpt").toString,
        onEpoch = (e, _) => { at.put(e, DeltaIndex.listings(idx)); () },
        compactEvery = 2)
      try q.processAllAvailable() finally q.stop()
      assert(q.exception.isEmpty, s"door failed: ${q.exception}")
      assert(at.keySet == Set(0L, 1L, 2L, 3L))
      // from one callback to the next: the previous epoch's fold
      // decision, then this epoch's read, probe contract and delta write
      val between = (1L to 3L).map(e => e -> (at(e) - at(e - 1))).toMap
      assert(between(1L) == 1L && between(2L) == 1L,
        s"a plain epoch takes one _delta listing: $between")
      assert(between(3L) > 1L, s"the fold lists the index itself: $between")
      assert(IngestMetrics.compactionCounts.toMap.get(idx).contains(1L))
      assert(IngestMetrics.outstandingDeltaGauges.toMap.get(idx).contains(2L),
        s"e2 and e3 stay outstanding: ${IngestMetrics.outstandingDeltaGauges}")
    } finally GraftStoreRegistry.unregister("s_ls")
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
    // per epoch: verdicts, outstanding deltas, served base, dirs probed
    val seen = TrieMap.empty[Long, (Map[Long, String], Int, String, Seq[String])]
    try {
      val q = TextOps.startNeardupIngest(spark, "s_fold", "docs_fold", idx,
        maxBatchesPerTrigger = 1, checkpointDir = dir.resolve("ckpt").toString,
        onEpoch = (e, c) => {
          seen.put(e, (verdicts(c).toMap, DeltaIndex.outstanding(spark, idx),
            DeltaIndex.currentBase(spark, idx), DeltaIndex.lastProbe(idx).get.dirs))
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
      assert(plan3.exists(_.endsWith("fo_idx_v1")),
        s"epoch 3's probe must read the folded base: $plan3")
      assert(IngestMetrics.compactionCounts.toMap.get(idx).contains(1L),
        s"exactly one mid-stream compaction: ${IngestMetrics.compactionCounts}")
    } finally GraftStoreRegistry.unregister("s_fold")
  }

  /** The ANN door's budget, measured on this fixture: 13 jobs in each
    * plain epoch and 14 in the compacting one while the epoch
    * checkpointed its batch and its classification and counted the
    * verdicts with a rollup job; 10 and 11 once the classification was
    * collected once on the driver; 2 and 3 once the epoch probes the
    * index's prepared scans. */
  test("ANN door job budget: a 4-epoch stream with one compaction runs at most 2 Spark jobs per plain epoch and 3 in the compaction epoch") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_door_jobs")
    val idx = dir.resolve("aj_idx").toString
    stageAnn(idx, Seq(0, 1))
    // each epoch admits one vector (a delta per epoch) and matches one,
    // so compactEvery = 2 folds e0 and e1 at the end of epoch 2
    val batches = (0 until 4).map { i =>
      Seq(Row(100L + i * 10, oneHot(if (i == 0) 0 else i + 1)),
        Row(101L + i * 10, oneHot(i + 2)))
    }
    val st = new StreamStore(1 << 20, Long.MaxValue / 2)
    batches.foreach(b => st.append("vecs_jobs", embSchema, b))
    GraftStoreRegistry.register("s_ann_jobs", st)
    val perEpoch = TrieMap.empty[Long, Map[Long, String]]
    try {
      val (queryId, jobs) = jobsDuring {
        val q = VectorOps.startAnnIngest(spark, "s_ann_jobs", "vecs_jobs", idx,
          maxBatchesPerTrigger = 1, checkpointDir = dir.resolve("ckpt").toString,
          onEpoch = (e, c) => { perEpoch.put(e, annVerdicts(c)); () },
          nPlanes = 8, dim = 16, compactEvery = 2)
        try q.processAllAvailable() finally q.stop()
        q.id.toString
      }
      assert(perEpoch.keySet == Set(0L, 1L, 2L, 3L))
      perEpoch.foreach { case (e, v) =>
        assert(v == Map(100L + e * 10 -> "matched", 101L + e * 10 -> "new"),
          s"epoch $e verdicts: $v")
      }
      assert(IngestMetrics.compactionCounts.toMap.get(idx).contains(1L),
        s"exactly one mid-stream compaction: ${IngestMetrics.compactionCounts}")
      val byEpoch = perBatch(jobs).collect { case ((q, b), n) if q == queryId => b -> n }
      assert(byEpoch.keySet == Set(0L, 1L, 2L, 3L), s"jobs by epoch: $byEpoch")
      info(s"jobs by epoch: ${byEpoch.toSeq.sorted.mkString(", ")}")
      // the quantize collect and the probe job; the callback's collect
      // of the driver-local verdicts runs none; the compaction adds its
      // merge write
      Seq(0L, 1L, 3L).foreach(e => assert(byEpoch(e) <= 2,
        s"plain epoch $e ran ${byEpoch(e)} jobs (budget 2): $byEpoch"))
      assert(byEpoch(2L) <= 3,
        s"compaction epoch ran ${byEpoch(2L)} jobs (budget 3): $byEpoch")
    } finally GraftStoreRegistry.unregister("s_ann_jobs")
  }

  test("the ANN door's compacting epoch's callback sees compactEvery outstanding deltas, the next epoch reads the folded base, and collecting the callback frame runs no job") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_door_fold")
    val idx = dir.resolve("fa_idx").toString
    stageAnn(idx, Seq(0, 1))
    // epochs 0 and 1 admit (deltas e0, e1); epoch 2 admits nothing, so
    // its callback sees exactly e0 and e1 before the fold; epoch 3
    // copies epoch 0's admission
    val batches = Seq(Seq(Row(100L, oneHot(2))), Seq(Row(110L, oneHot(3))),
      Seq(Row(120L, oneHot(0))), Seq(Row(130L, oneHot(2)), Row(131L, oneHot(4))))
    val st = new StreamStore(1 << 20, Long.MaxValue / 2)
    batches.foreach(b => st.append("vecs_fold", embSchema, b))
    GraftStoreRegistry.register("s_ann_fold", st)
    // per epoch: verdicts, outstanding deltas, served base, dirs probed
    val seen = TrieMap.empty[Long, (Map[Long, String], Int, String, Seq[String])]
    val tag = s"ann-callback-${System.nanoTime()}"
    val sc = spark.sparkContext
    try {
      val (q, jobs) = jobsDuring {
        val q = VectorOps.startAnnIngest(spark, "s_ann_fold", "vecs_fold", idx,
          maxBatchesPerTrigger = 1, checkpointDir = dir.resolve("ckpt").toString,
          onEpoch = (e, c) => {
            sc.setLocalProperty("graft.spec.tag", tag)
            val v = try annVerdicts(c) finally sc.setLocalProperty("graft.spec.tag", null)
            seen.put(e, (v, DeltaIndex.outstanding(spark, idx),
              DeltaIndex.currentBase(spark, idx), DeltaIndex.lastProbe(idx).get.dirs))
            ()
          }, nPlanes = 8, dim = 16, compactEvery = 2)
        try q.processAllAvailable() finally q.stop()
        q
      }
      assert(q.exception.isEmpty, s"door failed: ${q.exception}")
      assert(seen.keySet == Set(0L, 1L, 2L, 3L))
      val (v2, outstanding2, base2, _) = seen(2L)
      assert(v2 == Map(120L -> "matched"))
      assert(outstanding2 == 2 && base2 == idx,
        s"epoch 2's callback runs before the fold: $outstanding2 deltas, base $base2")
      val (v3, outstanding3, base3, plan3) = seen(3L)
      assert(v3 == Map(130L -> "matched", 131L -> "new"),
        s"the folded admission still classifies: $v3")
      assert(base3 == s"${idx}_v1" && outstanding3 == 1,
        s"epoch 3 runs on the folded base: $outstanding3 deltas, base $base3")
      assert(plan3.exists(_.endsWith("fa_idx_v1")),
        s"epoch 3's probe must read the folded base: $plan3")
      assert(IngestMetrics.compactionCounts.toMap.get(idx).contains(1L),
        s"exactly one mid-stream compaction: ${IngestMetrics.compactionCounts}")
      val callbackJobs = jobs.count(p => tag == p.getProperty("graft.spec.tag"))
      assert(callbackJobs == 0,
        s"the callback frame is driver-local, yet collecting it ran $callbackJobs jobs")
    } finally GraftStoreRegistry.unregister("s_ann_fold")
  }

  test("a stopped door drops its index's prepared scans and probe record, and a restart prepares them again, for the near-dup and the ANN door") {
    val dir = java.nio.file.Files.createTempDirectory("graft_door_release")
    val nd = dir.resolve("rl_nd_idx").toString
    val ann = dir.resolve("rl_ann_idx").toString
    stage(nd, Seq("e0"))
    stageAnn(ann, Seq(0))
    val st = new StreamStore(1 << 20, Long.MaxValue / 2)
    GraftStoreRegistry.register("s_release", st)
    /** Whether the index's scans and probe record are gone within 30 s:
      * the door releases them from a streaming listener, whose events
      * are delivered asynchronously. */
    def released(idx: String): Boolean = {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def gone = DeltaIndex.preparedScans(idx).isEmpty && DeltaIndex.lastProbe(idx).isEmpty
      while (!gone && System.nanoTime() < deadline) Thread.sleep(20)
      gone
    }
    def cycle(idx: String, topic: String, schema: StructType, rows: Seq[Row],
              start: String => org.apache.spark.sql.streaming.StreamingQuery): Unit =
      rows.foreach { r =>
        st.append(topic, schema, Seq(r))
        // the same checkpoint: the second run resumes after the first
        val q = start(dir.resolve(s"${topic}_ckpt").toString)
        try {
          q.processAllAvailable()
          assert(DeltaIndex.preparedScans(idx).nonEmpty && DeltaIndex.lastProbe(idx).nonEmpty,
            s"a running door on $idx holds its scans and probe record")
        } finally q.stop()
        assert(q.exception.isEmpty, s"door failed: ${q.exception}")
        assert(released(idx), s"a stopped door on $idx still holds " +
          s"${DeltaIndex.preparedScans(idx).map(_.dir)} and ${DeltaIndex.lastProbe(idx)}")
      }
    try {
      cycle(nd, "docs_rl", docSchema, Seq(Row(100L, text("f0")), Row(110L, text("f1"))),
        ck => TextOps.startNeardupIngest(spark, "s_release", "docs_rl", nd,
          maxBatchesPerTrigger = 1, checkpointDir = ck, onEpoch = (_, _) => ()))
      cycle(ann, "vecs_rl", embSchema, Seq(Row(100L, oneHot(3)), Row(110L, oneHot(4))),
        ck => VectorOps.startAnnIngest(spark, "s_release", "vecs_rl", ann,
          maxBatchesPerTrigger = 1, checkpointDir = ck, onEpoch = (_, _) => (),
          nPlanes = 8, dim = 16))
    } finally GraftStoreRegistry.unregister("s_release")
  }

  test("ANN door epochs equal classifyAnnBatch row for row over three seeded epochs, flat and bucket-partitioned, with null, repeated and shared ids, null, null-element and zero vectors, exact ties and an evicted epoch") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_diff")
    val rnd = new scala.util.Random(17)
    def fresh(): Seq[Any] = Seq.fill(16)((rnd.nextInt(7) - 3).toFloat)
    val fams = IndexedSeq.fill(6)(fresh())
    val zero: Seq[Any] = Seq.fill(16)(0.0f)
    // ids 6 and 7 copy families 0 and 1 and the null id copies family 2,
    // so their probes tie exactly (the smaller id wins, a null id first)
    val base = fams.indices.map(i => Row(i.toLong, fams(i))) ++ Seq(Row(6L, fams(0)),
      Row(7L, fams(1)), Row(null, fams(2)), Row(8L, fams(3).updated(4, null)),
      Row(9L, null), Row(10L, zero))
    def vecs(rows: Seq[Row]) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows.toList), embSchema)
    val flat = dir.resolve("ad_flat_idx").toString
    val part = dir.resolve("ad_part_idx").toString
    VectorOps.stageAnnIndex(vecs(base), flat, nPlanes = 8, dim = 16)
    VectorOps.stageAnnIndex(vecs(base), part, nPlanes = 8, dim = 16, bucketPartitioned = true)
    // only an exact direction matches, so a near copy is admitted: a
    // near copy under a base id puts that id in the base and a delta
    val threshold = 1000000L
    def near(v: Seq[Any]): Seq[Any] = v.updated(rnd.nextInt(16), (rnd.nextInt(7) - 3).toFloat)
    val batches = (0 until 3).map { e =>
      val id = 100L * (e + 1)
      val f = fresh()
      Seq(Row(id, fams(rnd.nextInt(6))),
        Row(id + 1, fams(rnd.nextInt(6)).map(_.asInstanceOf[Float] * 2)),
        Row(id + 2, f), Row(null, fams(rnd.nextInt(6))), Row(null, f),
        Row(id + 3, fams(0)), Row(id + 3, fresh()), // one id, two rows
        Row(id + 4, null), Row(id + 5, fams(1).updated(2, null)), Row(id + 6, zero),
        Row(e.toLong, near(fams(e))), Row(e.toLong + 3, near(fams(e + 3))))
    }
    def sorted(df: DataFrame): Seq[String] =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted
    def run(idx: String, partitioned: Boolean): Seq[Seq[String]] = {
      val out = batches.zipWithIndex.map { case (b, e) =>
        // the reference first: it reads what the epoch reads, the base
        // and every earlier epoch's delta
        val reference = VectorOps.classifyAnnBatch(spark, idx, vecs(b), nPlanes = 8, dim = 16,
          thresholdMicro = threshold, bucketPartitioned = partitioned)
        val epoch = VectorOps.annIngestEpoch(spark, idx, e.toLong, vecs(b), nPlanes = 8,
          dim = 16, thresholdMicro = threshold)
        assert(epoch.schema == reference.schema, s"epoch $e on $idx")
        val rows = sorted(epoch)
        assert(rows == sorted(reference), s"epoch $e on $idx")
        val probe = DeltaIndex.lastProbe(idx).get
        if (partitioned)
          assert(probe.kept < probe.total && probe.buckets.size == probe.kept &&
            probe.buckets.forall(probe.probed),
            s"epoch $e keeps only splits of probed buckets: $probe")
        else assert(probe.kept == probe.total && probe.buckets.isEmpty, s"epoch $e: $probe")
        rows
      }
      // the evicted replay of epoch 2 classifies nothing and clears its delta
      assert(DeltaIndex.outstanding(spark, idx) == 3)
      assert(VectorOps.annIngestEpoch(spark, idx, 2L, vecs(Nil), nPlanes = 8, dim = 16)
        .collect().isEmpty)
      assert(DeltaIndex.outstanding(spark, idx) == 2)
      out
    }
    val flatRows = run(flat, partitioned = false)
    assert(run(part, partitioned = true) == flatRows, "verdicts must not depend on the layout")
    val all = flatRows.flatten
    Seq("matched", "new").foreach(st => assert(all.exists(_.endsWith(s"|$st")), st))
    val shared = DeltaIndex.readAll(spark, flat).filter("vec_id IN (0, 1, 3, 4)")
      .groupBy("vec_id").count().filter("count > 1").count()
    assert(shared > 0, "a base id also sits in a live delta")
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
    // the ANN door on a long path: its probe's contract is each prepared
    // scan's root-path match
    val annIdx = deep.resolve("long_ann_idx").toString
    stageAnn(annIdx, Seq(0))
    st.append("vecs_long", embSchema, Seq(Row(200L, oneHot(0)), Row(201L, oneHot(1))))
    GraftStoreRegistry.register("s_long_ann", st)
    val annSeen = TrieMap.empty[Long, Map[Long, String]]
    try {
      val q = VectorOps.startAnnIngest(spark, "s_long_ann", "vecs_long", annIdx,
        maxBatchesPerTrigger = 1, checkpointDir = dir.resolve("ann_ckpt").toString,
        onEpoch = (e, c) => { annSeen.put(e, annVerdicts(c)); () }, nPlanes = 8, dim = 16)
      try q.processAllAvailable() finally q.stop()
      assert(q.exception.isEmpty, s"ANN door failed: ${q.exception}")
      assert(annSeen.toMap == Map(0L -> Map(200L -> "matched", 201L -> "new")))
    } finally GraftStoreRegistry.unregister("s_long_ann")
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

  test("ANN epoch: an id arriving twice in one epoch writes its two probe rows to the delta, not four") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_repeat_id")
    val idx = dir.resolve("ar_idx").toString
    stageAnn(idx, Seq(0))
    val batch = spark.createDataFrame(spark.sparkContext.parallelize(
      List(Row(7L, oneHot(3)), Row(7L, oneHot(3)))), embSchema)
    val out = VectorOps.annIngestEpoch(spark, idx, 0L, batch, nPlanes = 8, dim = 16)
      .collect().map(r => r.getLong(0) -> r.getString(4)).toSeq
    assert(out == Seq(7L -> "new", 7L -> "new"))
    val delta = spark.read.parquet(DeltaIndex.dir(idx, 0L)).collect()
    assert(delta.length == 2 && delta.forall(_.getAs[Long]("vec_id") == 7L),
      s"the delta holds the epoch's 2 probe rows of vec_id 7: ${delta.toSeq}")
    assert(DeltaIndex.readAll(spark, idx).count() == 3, "the staged row and the 2 probe rows")
  }

  test("restaging a compacted index with another dial drops its versions and serves only the new rows at the new dial") {
    val dir = java.nio.file.Files.createTempDirectory("graft_restage")
    val idx = dir.resolve("rs_idx").toString
    def rows(first: Long, fams: Seq[String]) =
      df(fams.zipWithIndex.map { case (f, i) => Row(first + i, text(f)) })
    TextOps.stageNeardupIndex(rows(0L, Seq("e0", "e1")), idx, bandBuckets = 4)
    // two admitting epochs, each folded: the served base is _v2
    Seq("f0", "f1").zipWithIndex.foreach { case (f, e) =>
      TextOps.neardupIngestEpoch(spark, idx, e.toLong, rows(100L + e, Seq(f)),
        bandBuckets = 4).collect()
      DeltaIndex.compact(spark, idx)
    }
    assert(DeltaIndex.currentBase(spark, idx) == s"${idx}_v2")
    assert(new java.io.File(s"${idx}_v2").isDirectory)
    TextOps.stageNeardupIndex(rows(500L, Seq("g0", "g1")), idx, bandBuckets = 8)
    assert(!new java.io.File(s"${idx}_version").exists, "the version pointer is gone")
    val versions = dir.toFile.list().filter(_.matches("rs_idx_v[0-9]+"))
    assert(versions.isEmpty, s"no _v<N> dir survives the restage: ${versions.toSeq}")
    assert(DeltaIndex.currentBase(spark, idx) == idx)
    val served = DeltaIndex.readAll(spark, idx).select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(served == Set(500L, 501L), s"only the restaged rows are served: $served")
    val probe = rows(900L, Seq("g0", "f0"))
    val err = intercept[IllegalArgumentException](
      TextOps.classifyNeardupBatch(spark, idx, probe, bandBuckets = 4).collect())
    assert(err.getMessage.contains("was staged with bandBuckets=8"), err.getMessage)
    assert(verdicts(TextOps.classifyNeardupBatch(spark, idx, probe, bandBuckets = 8)).toMap ==
      Map(900L -> "dup_of_existing", 901L -> "unique"))
  }

  /** The parquet files directly under `d`. */
  private def parquetFiles(d: java.io.File): Seq[java.io.File] =
    Option(d.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet"))

  /** The partition dirs under `d` and their parquet file counts. */
  private def filesPerPartDir(d: java.io.File, key: String): Map[String, Int] = {
    val kids = d.listFiles().toSeq.filter(_.isDirectory)
    assert(kids.nonEmpty && kids.forall(_.getName.startsWith(s"$key=")),
      s"$d holds only $key= dirs: ${d.list().toSeq}")
    kids.map(k => k.getName -> parquetFiles(k).size).toMap
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).toSeq.sorted

  test("a stale .e<n>.staging dir and a replayed epoch that admits fewer rows leave no ghost rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_delta_staging")
    val idx = dir.resolve("sg_idx").toString
    stage(idx, Seq("e0"))
    val delta = new java.io.File(s"${idx}_delta/e3")
    // a first attempt of epoch 3 admits two docs...
    TextOps.neardupIngestEpoch(spark, idx, 3L,
      df(Seq(Row(300L, text("g0")), Row(301L, text("g1"))))).collect()
    assert(parquetFiles(delta).size == 1, s"one delta file: ${delta.list().toSeq}")
    // ...a second attempt crashed mid-write, leaving its staging dir
    // with both admissions in it
    val staging = new java.io.File(s"${idx}_delta/.e3.staging")
    java.nio.file.Files.createDirectories(staging.toPath)
    delta.listFiles().foreach(f => java.nio.file.Files.copy(f.toPath,
      staging.toPath.resolve(f.getName)))
    // the replay admits only doc 300: its batch lost doc 301
    val out = verdicts(TextOps.neardupIngestEpoch(spark, idx, 3L,
      df(Seq(Row(300L, text("g0"))))))
    assert(out == Seq(300L -> "unique"))
    assert(!staging.exists, "the stale staging dir is cleared")
    assert(parquetFiles(delta).size == 1, s"one delta file: ${delta.list().toSeq}")
    val served = DeltaIndex.readAll(spark, idx).select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(served == Set(0L, 300L), s"no ghost admission of doc 301: $served")
  }

  test("bandBuckets and bucketPartitioned deltas write one file per bkt=/bucket= dir, and readAll after compact equals the rows before it") {
    val dir = java.nio.file.Files.createTempDirectory("graft_delta_parts")
    val nd = dir.resolve("np_idx").toString
    TextOps.stageNeardupIndex(df(Seq(Row(0L, text("e0")), Row(1L, text("e1")))), nd,
      bandBuckets = 4)
    TextOps.neardupIngestEpoch(spark, nd, 0L, df((0 until 6).map(i =>
      Row(100L + i, text(s"p$i")))), bandBuckets = 4).collect()
    val ndFiles = filesPerPartDir(new java.io.File(s"${nd}_delta/e0"), "bkt")
    assert(ndFiles.size > 1 && ndFiles.values.forall(_ == 1), s"files per bkt dir: $ndFiles")
    val ann = dir.resolve("ap_idx").toString
    VectorOps.stageAnnIndex(spark.createDataFrame(spark.sparkContext.parallelize(
        List(Row(0L, oneHot(0)))), embSchema), ann, nPlanes = 8, dim = 16,
      bucketPartitioned = true)
    val annOut = annVerdicts(VectorOps.annIngestEpoch(spark, ann, 0L,
      spark.createDataFrame(spark.sparkContext.parallelize((1 until 6).map(i =>
        Row(100L + i, oneHot(i))).toList), embSchema),
      nPlanes = 8, dim = 16))
    assert(annOut.values.toSet == Set("new"), s"verdicts: $annOut")
    val annFiles = filesPerPartDir(new java.io.File(s"${ann}_delta/e0"), "bucket")
    assert(annFiles.nonEmpty && annFiles.values.forall(_ == 1), s"files per bucket dir: $annFiles")
    Seq(nd, ann).foreach { idx =>
      val before = sortedRows(DeltaIndex.readAll(spark, idx))
      DeltaIndex.compact(spark, idx)
      assert(DeltaIndex.outstanding(spark, idx) == 0)
      assert(sortedRows(DeltaIndex.readAll(spark, idx)) == before, s"rows of $idx across compact")
    }
  }

  test("the driver-written delta file carries the schema, codec and footer metadata of a Spark write of the same rows") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val dir = java.nio.file.Files.createTempDirectory("graft_delta_footer")
    val idx = dir.resolve("ft_idx").toString
    stage(idx, Seq("e0"))
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("band", IntegerType, nullable = false),
      StructField("sig", StringType, nullable = false)))
    val rows = Seq(Row(7L, 0, "a1"), Row(7L, 1, "b2"), Row(8L, 0, "c3"))
    DeltaIndex.write(spark, idx, 9L, schema, rows)
    val sparkDir = dir.resolve("by_spark").toString
    spark.createDataFrame(rows.asJava, schema).coalesce(1).write.parquet(sparkDir)
    def footer(d: String) = {
      val Seq(f) = parquetFiles(new java.io.File(d))
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toString), spark.sparkContext.hadoopConfiguration))
      try {
        val m = r.getFooter
        (m.getFileMetaData.getSchema, m.getFileMetaData.getKeyValueMetaData.asScala.toMap,
          m.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec)).toSet,
          f.getName.dropWhile(_ != '.'))
      } finally r.close()
    }
    assert(footer(DeltaIndex.dir(idx, 9L)) == footer(sparkDir))
    assert(sortedRows(spark.read.parquet(DeltaIndex.dir(idx, 9L))) ==
      sortedRows(spark.createDataFrame(rows.asJava, schema)))
  }

  /** The dir keys of the index's prepared scans. */
  private def preparedDirs(idx: String): Set[String] =
    DeltaIndex.preparedScans(idx).map(_.dir).toSet

  test("prepared scans: a replayed epoch never probes its own stale delta") {
    val dir = java.nio.file.Files.createTempDirectory("graft_prep_replay")
    val idx = dir.resolve("pr_idx").toString
    stage(idx, Seq("e0"))
    val e0 = DeltaIndex.dirKey(DeltaIndex.dir(idx, 0L))
    val batch = df(Seq(Row(100L, text("f0"))))
    assert(verdicts(TextOps.neardupIngestEpoch(spark, idx, 0L, batch)) == Seq(100L -> "unique"))
    // epoch 1 probes base + e0, so e0's scan is prepared
    TextOps.neardupIngestEpoch(spark, idx, 1L, df(Seq(Row(110L, text("f1"))))).collect()
    assert(preparedDirs(idx).contains(e0), s"e0 is prepared: ${preparedDirs(idx)}")
    // a replay of epoch 0 probes base + e1, never its own first attempt
    assert(verdicts(TextOps.neardupIngestEpoch(spark, idx, 0L, batch)) == Seq(100L -> "unique"))
    val probe = DeltaIndex.lastProbe(idx).get
    assert(!probe.dirs.contains(e0) &&
      probe.dirs == Seq(DeltaIndex.dirKey(idx), DeltaIndex.dirKey(DeltaIndex.dir(idx, 1L))),
      s"the replay's probe: $probe")
  }

  test("prepared scans: after a fresh-checkpoint restart, a reused e0 is probed as newly written") {
    val dir = java.nio.file.Files.createTempDirectory("graft_prep_reuse")
    val idx = dir.resolve("pu_idx").toString
    stage(idx, Seq("e0"))
    TextOps.neardupIngestEpoch(spark, idx, 0L, df(Seq(Row(100L, text("f0"))))).collect()
    TextOps.neardupIngestEpoch(spark, idx, 1L, df(Seq(Row(110L, text("f1"))))).collect()
    val e0 = DeltaIndex.dirKey(DeltaIndex.dir(idx, 0L))
    assert(preparedDirs(idx).contains(e0))
    // the restart's compact-first folds e0 and e1, then epoch 0 of the
    // new checkpoint writes a different admission into e0
    DeltaIndex.compact(spark, idx)
    assert(!preparedDirs(idx).contains(e0), "the fold drops the folded deltas' scans")
    assert(verdicts(TextOps.neardupIngestEpoch(spark, idx, 0L,
      df(Seq(Row(200L, text("g0")))))) == Seq(200L -> "unique"))
    val out = verdicts(TextOps.neardupIngestEpoch(spark, idx, 1L,
      df(Seq(Row(210L, text("g0")), Row(211L, text("f0")), Row(212L, text("h1"))))))
    assert(out.toMap == Map(210L -> "dup_of_existing", 211L -> "dup_of_existing",
      212L -> "unique"), s"the reused e0 is read as rewritten: $out")
    assert(DeltaIndex.lastProbe(idx).get.dirs.contains(e0))
  }

  test("prepared scans: a restage drops every prepared scan of the index") {
    val dir = java.nio.file.Files.createTempDirectory("graft_prep_restage")
    val idx = dir.resolve("ps_idx").toString
    stage(idx, Seq("e0"))
    TextOps.neardupIngestEpoch(spark, idx, 0L, df(Seq(Row(100L, text("f0"))))).collect()
    TextOps.neardupIngestEpoch(spark, idx, 1L, df(Seq(Row(110L, text("f1"))))).collect()
    assert(preparedDirs(idx).size == 2, s"base and e0: ${preparedDirs(idx)}")
    stage(idx, Seq("g0"))
    assert(preparedDirs(idx).isEmpty, s"restaged: ${preparedDirs(idx)}")
    assert(verdicts(TextOps.neardupIngestEpoch(spark, idx, 2L,
      df(Seq(Row(120L, text("g0")), Row(121L, text("e0")))))).toMap ==
      Map(120L -> "dup_of_existing", 121L -> "unique"))
  }

  test("prepared scans: a door holds at most 1 + compactEvery across compactions, each a file scan of its dir with no exchange") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val dir = java.nio.file.Files.createTempDirectory("graft_prep_bound")
    val idx = dir.resolve("pb_idx").toString
    stage(idx, Seq("e0"))
    // every epoch admits one doc; compactEvery = 2 folds at the end of
    // epochs 2, 4 and 6
    val st = new StreamStore(1 << 20, Long.MaxValue / 2)
    (0 until 8).foreach(i => st.append("docs_pb", docSchema, Seq(Row(100L + i, text(s"f$i")))))
    GraftStoreRegistry.register("s_pb", st)
    val held = TrieMap.empty[Long, Int]
    var scans = Seq.empty[DeltaIndex.PreparedScan]
    try {
      val q = TextOps.startNeardupIngest(spark, "s_pb", "docs_pb", idx,
        maxBatchesPerTrigger = 1, checkpointDir = dir.resolve("ckpt").toString,
        onEpoch = (e, _) => { held.put(e, DeltaIndex.preparedScans(idx).size); () },
        compactEvery = 2)
      // the last epoch's fold has prepared the next epoch's scans once
      // the stream is drained; a stopped door drops them
      try { q.processAllAvailable(); scans = DeltaIndex.preparedScans(idx) }
      finally q.stop()
      assert(q.exception.isEmpty, s"door failed: ${q.exception}")
    } finally GraftStoreRegistry.unregister("s_pb")
    assert(held.keySet == (0L to 7L).toSet)
    assert(IngestMetrics.compactionCounts.toMap.get(idx).contains(3L))
    assert(held.values.forall(_ <= 3) && scans.size <= 3,
      s"prepared scans per epoch: ${held.toSeq.sorted}, at the end ${scans.size}")
    assert(scans.map(_.dir).toSet == (DeltaIndex.currentBase(spark, idx) +:
      Seq(6L, 7L).map(DeltaIndex.dir(idx, _))).map(DeltaIndex.dirKey).toSet,
      s"the fold prepared the base and the live deltas: ${scans.map(_.dir)}")
    scans.foreach { p =>
      assert(p.plan.find {
        case f: FileSourceScanExec =>
          f.relation.location.rootPaths.exists(r => DeltaIndex.dirKey(r.toString) == p.dir)
        case _ => false
      }.isDefined, s"a file scan of ${p.dir}:\n${p.plan}")
      assert(p.plan.find(_.isInstanceOf[Exchange]).isEmpty, s"no exchange:\n${p.plan}")
    }
  }

  test("prepared scans on bandBuckets = 64: door epoch verdicts equal classifyNeardupBatch, and the probe keeps only splits of probed buckets") {
    val dir = java.nio.file.Files.createTempDirectory("graft_prep_part")
    val idx = dir.resolve("pp_idx").toString
    TextOps.stageNeardupIndex(df((0 until 8).map(i => Row(i.toLong, text(s"c$i")))),
      idx, bandBuckets = 64)
    val rnd = new scala.util.Random(11)
    (0 until 3).foreach { e =>
      val batch = df((0 until 4).map(i => Row(1000L * e + i,
        text(Seq("c0", "c3", s"n$e", s"m${rnd.nextInt(2)}")(rnd.nextInt(4))))))
      val reference = verdicts(TextOps.classifyNeardupBatch(spark, idx, batch,
        bandBuckets = 64)).sorted
      val epoch = verdicts(TextOps.neardupIngestEpoch(spark, idx, e.toLong, batch,
        bandBuckets = 64)).sorted
      assert(epoch == reference, s"epoch $e")
      val probe = DeltaIndex.lastProbe(idx).get
      assert(probe.buckets.size == probe.kept && probe.buckets.forall(probe.probed),
        s"epoch $e: every kept split holds a probed bucket: $probe")
      assert(probe.kept < probe.total, s"epoch $e skips a split: $probe")
    }
  }

  test("a compaction whose merge write fails deletes its partial version dir and leaves the index as it was") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_fail")
    val idx = dir.resolve("cf_idx").toString
    stage(idx, Seq("e0"))
    TextOps.neardupIngestEpoch(spark, idx, 0L, df(Seq(Row(100L, text("f0"))))).collect()
    DeltaIndex.compact(spark, idx)
    Seq(1L, 2L).foreach(e => TextOps.neardupIngestEpoch(spark, idx, e,
      df(Seq(Row(100L + e, text(s"f$e"))))).collect())
    val before = sortedRows(DeltaIndex.readAll(spark, idx))
    val ptr = java.nio.file.Paths.get(s"${idx}_version")
    assert(new String(java.nio.file.Files.readAllBytes(ptr), "UTF-8").trim == "1")
    // a folded delta's part file turns unreadable
    val part = parquetFiles(new java.io.File(DeltaIndex.dir(idx, 1L))).head.toPath
    val bytes = java.nio.file.Files.readAllBytes(part)
    java.nio.file.Files.write(part, Array.fill[Byte](bytes.length)(7))
    intercept[Exception](DeltaIndex.compact(spark, idx))
    assert(!new java.io.File(s"${idx}_v2").exists, "the partial image is deleted")
    assert(new String(java.nio.file.Files.readAllBytes(ptr), "UTF-8").trim == "1",
      "the pointer still names v1")
    assert(!new java.io.File(s"${idx}_compact_commit").exists, "no marker was published")
    java.nio.file.Files.write(part, bytes)
    assert(DeltaIndex.outstanding(spark, idx) == 2)
    assert(sortedRows(DeltaIndex.readAll(spark, idx)) == before)
  }
}
