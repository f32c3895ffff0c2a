package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.{DeltaIndex, GraftMetricsListener, IngestMetrics, MetricsHttpServer, StreamStore, TextOps, VectorOps}
import graft.sources.GraftStoreRegistry

/** Round-14: the 100 TB index story executable END-TO-END — the
  * bucket-partitioned layout threaded through the STREAMING ANN door
  * (partition-pruned probe per epoch, partitioned deltas), the same
  * layout for the text near-dup index, snapshot-isolated compaction
  * (versioned base dirs + pointer flip — a plan built before a fold
  * executes correctly after it), LSM observability in /metrics, the
  * occupancy warning for the measured super-linear probe regime, and
  * the TTL-expiry recovery helper. */
class Round22OpsSpec extends SparkSuite {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  private val embSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  private def text(fam: String): String =
    (0 until 8).map(i => s"${fam}tok$i").mkString(" ")

  private def docs(rows: Seq[Row]) = spark.createDataFrame(
    spark.sparkContext.parallelize(rows.toList), docSchema)

  private def oneHot(i: Int): Seq[Float] =
    (0 until 16).map(j => if (j == i) 1.0f else 0.0f)

  private def vecs(rows: Seq[Row]) = spark.createDataFrame(
    spark.sparkContext.parallelize(rows.toList), embSchema)

  private def hasKeyFilter(plan: String, pathHint: String,
                           keyCol: String): Boolean =
    plan.linesIterator.exists(l => l.contains(pathHint) &&
      l.contains("PartitionFilters: [") && l.contains(keyCol) &&
      (l.contains(" IN ") || l.contains("INSET")))

  test("streaming ANN door on the bucket-partitioned layout: every epoch's probe is partition-pruned, deltas partitioned, verdicts identical to the flat twin across deltas + a mid-stream compact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part_door")
    val partIdx = dir.resolve("pd_part_idx").toString
    val flatIdx = dir.resolve("pd_flat_idx").toString
    val existing = vecs((0 until 4).map(i => Row(i.toLong, oneHot(i))))
    // 16 planes: a 65 536-bucket space this tiny batch's multiprobe
    // neighborhood covers only sparsely — the push-fires regime
    VectorOps.stageAnnIndex(existing, partIdx, nPlanes = 16, dim = 16,
      bucketPartitioned = true)
    VectorOps.stageAnnIndex(existing, flatIdx, nPlanes = 16, dim = 16)
    // three 2-vector epochs; each copies an EARLIER admission (b2
    // copies b1's fam-5 admission, b3 copies b2's fam-6 — cross-epoch
    // matches that exercise the partitioned DELTAS, and after the
    // compactEvery=2 fold at epoch 2, the partitioned merged base)
    val batches = Seq(
      Seq(Row(101L, oneHot(0)), Row(102L, oneHot(5))),
      Seq(Row(111L, oneHot(5)), Row(112L, oneHot(6))),
      Seq(Row(121L, oneHot(6)), Row(122L, oneHot(7))))
    def run(idx: String, store: String, ckpt: String)
        : (Map[Long, (String, Long)], Map[Long, DeltaIndex.EpochProbe]) = {
      val st = new StreamStore(1 << 20, Long.MaxValue / 2)
      batches.foreach(b => st.append("vecs", embSchema, b))
      GraftStoreRegistry.register(store, st)
      val verdicts = TrieMap.empty[Long, (String, Long)]
      val probes = TrieMap.empty[Long, DeltaIndex.EpochProbe]
      val q = VectorOps.startAnnIngest(spark, store, "vecs", idx,
        maxBatchesPerTrigger = 1,
        checkpointDir = dir.resolve(ckpt).toString,
        onEpoch = (e, c) => {
          probes.put(e, DeltaIndex.lastProbe(idx).get)
          c.collect().foreach(r =>
            verdicts.put(r.getLong(0), (r.getString(4), r.getLong(2))))
          ()
        }, nPlanes = 16, dim = 16, compactEvery = 2)
      try q.processAllAvailable() finally q.stop()
      GraftStoreRegistry.unregister(store)
      (verdicts.toMap, probes.toMap)
    }
    val (partVerdicts, partProbes) = run(partIdx, "s_pd_p", "pd_ck_p")
    val (flatVerdicts, _) = run(flatIdx, "s_pd_f", "pd_ck_f")
    // verdicts are LAYOUT-INDEPENDENT across deltas AND the mid-stream
    // compact (the partition push is an optimization under the exact
    // semi-join, never a semantics change)
    assert(partVerdicts == flatVerdicts,
      s"layouts disagree:\n$partVerdicts\nvs\n$flatVerdicts")
    assert(partVerdicts == Map(
      101L -> ("matched", 0L), 102L -> ("new", -1L),
      111L -> ("matched", 102L), 112L -> ("new", -1L),
      121L -> ("matched", 112L), 122L -> ("new", -1L)),
      s"classification drifted: $partVerdicts")
    // the 100 TB claim from the STREAMING door, per epoch, as a probe
    // property: every epoch's probe keeps only the splits of its
    // bounded multiprobe bucket set
    assert(partProbes.keySet == Set(0L, 1L, 2L), s"epochs: ${partProbes.keySet}")
    partProbes.foreach { case (e, p) =>
      assert(p.buckets.size == p.kept && p.buckets.forall(p.probed) && p.kept < p.total,
        s"epoch $e probe must be partition-pruned: $p")
    }
    // deltas mirror the base layout: the live post-compact delta (e2)
    // is bucket-partitioned, so the per-epoch union prunes EVERY scan
    assert(new java.io.File(s"${partIdx}_delta/e2").listFiles()
      .exists(_.getName.startsWith("bucket=")),
      "deltas must mirror the bucket-partitioned layout")
    // the compactEvery=2 fold at epoch 2 produced a partitioned v1
    val served = DeltaIndex.currentBase(spark, partIdx)
    assert(served == s"${partIdx}_v1", s"mid-stream fold must publish v1, got $served")
    assert(new java.io.File(served).listFiles()
      .exists(_.getName.startsWith("bucket=")),
      "the folded base must preserve the partitioned layout")
    // and the grown partitioned index serves batch classifies
    val late = VectorOps.classifyAnnBatch(spark, partIdx,
        vecs(Seq(Row(900L, oneHot(7)))), nPlanes = 16, dim = 16,
        bucketPartitioned = true)
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(late == Map(900L -> "matched"),
      "stream admissions must survive into the partitioned index")
  }

  test("snapshot-isolated compaction: a read PLANNED before the fold executes correctly after it — the base version and folded delta files it listed survive one generation") {
    val dir = java.nio.file.Files.createTempDirectory("graft_snap")
    val idx = dir.resolve("sn_idx").toString
    TextOps.stageNeardupIndex(docs(Seq(Row(0L, text("a0")), Row(1L, text("a1")))), idx)
    Seq(0L, 1L).foreach { e =>
      TextOps.neardupIngestEpoch(spark, idx, e,
        docs(Seq(Row(100L + e, text(s"b$e"))))).collect()
    }
    val baseline = DeltaIndex.readAll(spark, idx).count()
    // plan BEFORE the fold: the file listing is fixed at plan time
    val planned = DeltaIndex.readAll(spark, idx)
    DeltaIndex.compact(spark, idx)
    // the fold retired nothing the plan references: the flat base dir
    // and the folded deltas' parquet files are tombstoned, not deleted
    assert(planned.count() == baseline,
      "a pre-compaction plan must execute against the snapshot it listed")
    assert(new java.io.File(idx).isDirectory,
      "the superseded base version survives one generation")
    Seq("e0", "e1").foreach(e => assert(
      new java.io.File(s"${idx}_delta/$e").isDirectory,
      s"folded delta $e's files survive one generation"))
    // fresh reads serve the new version, exactly once
    assert(DeltaIndex.readAll(spark, idx).count() == baseline)
    assert(DeltaIndex.currentBase(spark, idx) == s"${idx}_v1")
    // a SECOND fold retires the previous generation: plan-before-
    // second-fold still executes (it listed v1 + e2, both kept)
    TextOps.neardupIngestEpoch(spark, idx, 2L,
      docs(Seq(Row(102L, text("b2"))))).collect()
    val baseline2 = DeltaIndex.readAll(spark, idx).count()
    assert(baseline2 > baseline, "epoch 2's admission must grow the index")
    val planned2 = DeltaIndex.readAll(spark, idx)
    DeltaIndex.compact(spark, idx)
    assert(planned2.count() == baseline2,
      "one-generation retention covers the immediately preceding plan")
    assert(!new java.io.File(idx).exists,
      "the two-generations-old flat base is retired at the second fold")
    Seq("e0", "e1").foreach(e => assert(
      !new java.io.File(s"${idx}_delta/$e").exists,
      s"two-generations-old folded delta $e is retired"))
    assert(DeltaIndex.readAll(spark, idx).count() == baseline2)
  }

  test("text near-dup index: band-bucket-partitioned layout — partition-pruned probes from batch AND epoch paths, partitioned deltas, layout-independent verdicts across a compact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_nd_part")
    val partIdx = dir.resolve("ndp_part_idx").toString
    val flatIdx = dir.resolve("ndp_flat_idx").toString
    val corpus = docs((0 until 6).map(i => Row(i.toLong, text(s"c$i"))))
    val B = 64
    TextOps.stageNeardupIndex(corpus, partIdx, bandBuckets = B)
    TextOps.stageNeardupIndex(corpus, flatIdx)
    assert(new java.io.File(partIdx).listFiles()
      .exists(_.getName.startsWith("bkt=")),
      "the partitioned layout must write one dir per band bucket")
    val batch = docs(Seq(Row(100L, text("c0")), Row(101L, text("d9")),
      Row(102L, text("d9"))))
    def outcomes(idx: String, bb: Int): Map[Long, String] =
      TextOps.classifyNeardupBatch(spark, idx, batch, bandBuckets = bb)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = Map(100L -> "dup_of_existing", 101L -> "unique",
      102L -> "dup_in_batch")
    assert(outcomes(flatIdx, 0) == expected)
    assert(outcomes(partIdx, B) == expected,
      "verdicts must not depend on the index layout")
    // the probe's bounded bucket set pushes as a static partition
    // filter on the batch path...
    val batchPlan = TextOps.classifyNeardupBatch(spark, partIdx, batch,
      bandBuckets = B).queryExecution.executedPlan.toString
    assert(hasKeyFilter(batchPlan, "ndp_part_idx", "bkt"),
      s"batch classify must be partition-pruned:\n${batchPlan.take(3000)}")
    // ...and from a streaming EPOCH (its kept splits)
    val epochOut = TextOps.neardupIngestEpoch(spark, partIdx, 0L, batch,
        bandBuckets = B)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(epochOut == expected)
    val probe = DeltaIndex.lastProbe(partIdx).get
    assert(probe.buckets.nonEmpty && probe.buckets.forall(probe.probed) &&
        probe.kept < probe.total,
      s"epoch probe must be partition-pruned: $probe")
    // the admitted delta mirrors the layout
    assert(new java.io.File(s"${partIdx}_delta/e0").listFiles()
      .exists(_.getName.startsWith("bkt=")),
      "deltas must mirror the band-bucket layout")
    // compaction preserves it and verdicts are unchanged
    val before = outcomes(partIdx, B)
    DeltaIndex.compact(spark, partIdx)
    val served = DeltaIndex.currentBase(spark, partIdx)
    assert(new java.io.File(served).listFiles()
      .exists(_.getName.startsWith("bkt=")),
      "the folded base must preserve the band-bucket layout")
    assert(outcomes(partIdx, B) == before,
      "verdicts unchanged across a layout-preserving compaction")
  }

  test("LSM observability: outstanding-deltas gauge and compactions counter reach the /metrics exposition") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lsm_met")
    val idx = dir.resolve("lm_idx").toString
    TextOps.stageNeardupIndex(docs(Seq(Row(0L, text("m0")))), idx)
    Seq(0L, 1L).foreach { e =>
      TextOps.neardupIngestEpoch(spark, idx, e,
        docs(Seq(Row(100L + e, text(s"n$e"))))).collect()
    }
    assert(IngestMetrics.outstandingDeltaGauges.toMap.get(idx).contains(2L),
      s"gauge after two delta writes: ${IngestMetrics.outstandingDeltaGauges}")
    DeltaIndex.compact(spark, idx)
    assert(IngestMetrics.outstandingDeltaGauges.toMap.get(idx).contains(0L))
    assert(IngestMetrics.compactionCounts.toMap.get(idx).contains(1L),
      s"compactions: ${IngestMetrics.compactionCounts}")
    val http = new MetricsHttpServer(
      new StreamStore(1 << 20, Long.MaxValue / 2), new GraftMetricsListener)
    try {
      val body = http.render()
      assert(body.contains(
        s"""graft_index_outstanding_deltas{index="$idx"} 0"""),
        body.linesIterator.filter(_.contains("graft_index")).mkString("\n"))
      assert(body.contains(
        s"""graft_ingest_compactions_total{index="$idx"} 1"""),
        body.linesIterator.filter(_.contains("compactions")).mkString("\n"))
    } finally http.close()
  }

  test("occupancy warning: an epoch whose mean candidates/probe crosses the dial announces the measured super-linear regime loudly and counts in /metrics") {
    val dir = java.nio.file.Files.createTempDirectory("graft_occ")
    val denseIdx = dir.resolve("oc_dense_idx").toString
    val sparseIdx = dir.resolve("oc_sparse_idx").toString
    // dense: 40 IDENTICAL vectors — every probe of that vector sees
    // all 40 as candidates (one crowded bucket, the mis-dial shape)
    VectorOps.stageAnnIndex(
      vecs((0 until 40).map(i => Row(i.toLong, oneHot(3)))), denseIdx,
      nPlanes = 8, dim = 16)
    VectorOps.stageAnnIndex(
      vecs((0 until 4).map(i => Row(i.toLong, oneHot(i)))), sparseIdx,
      nPlanes = 8, dim = 16)
    val probe = vecs(Seq(Row(100L, oneHot(3)), Row(101L, oneHot(3))))
    val err = new java.io.ByteArrayOutputStream()
    Console.withErr(new java.io.PrintStream(err, true, "UTF-8")) {
      VectorOps.annIngestEpoch(spark, denseIdx, 0L, probe,
        nPlanes = 8, dim = 16, occupancyWarnMean = 10.0).collect()
    }
    val msg = err.toString("UTF-8")
    assert(msg.contains("OCCUPANCY WARNING") && msg.contains("nPlanes=8") &&
      msg.contains("probeBits=1") && msg.contains("1.421"),
      s"warning must name the dial and the measured exponent regime: $msg")
    assert(IngestMetrics.occupancyWarnCounts.toMap.get(denseIdx).exists(_ >= 1L),
      s"warns: ${IngestMetrics.occupancyWarnCounts}")
    // a healthy epoch stays quiet (same dial, sparse index)
    val err2 = new java.io.ByteArrayOutputStream()
    Console.withErr(new java.io.PrintStream(err2, true, "UTF-8")) {
      VectorOps.annIngestEpoch(spark, sparseIdx, 0L,
        vecs(Seq(Row(100L, oneHot(0)))),
        nPlanes = 8, dim = 16, occupancyWarnMean = 10.0).collect()
    }
    assert(!err2.toString("UTF-8").contains("OCCUPANCY WARNING"),
      "a sparse probe must not warn")
    assert(IngestMetrics.occupancyWarnCounts.toMap.get(sparseIdx).isEmpty)
    // the exposition serves the counter
    val http = new MetricsHttpServer(
      new StreamStore(1 << 20, Long.MaxValue / 2), new GraftMetricsListener)
    try assert(http.render().contains(
      s"""graft_ingest_probe_occupancy_warnings_total{index="$denseIdx"}"""))
    finally http.close()
  }

  test("reader vs compactor under real concurrency: a batch-side reader looping plan+execute while the writer folds generations never sees a WRONG count; snapshot reads within one generation succeed") {
    val dir = java.nio.file.Files.createTempDirectory("graft_conc")
    val idx = dir.resolve("cc_idx").toString
    TextOps.stageNeardupIndex(docs(Seq(Row(0L, text("s0")))), idx)
    val baseRows = DeltaIndex.readAll(spark, idx).count()
    // each epoch admits one 8-token doc -> a fixed band-row delta;
    // valid snapshot counts are the prefix sums the writer publishes
    val perDoc = {
      TextOps.neardupIngestEpoch(spark, idx, 999L,
        docs(Seq(Row(999L, text("probe"))))).collect()
      val n = DeltaIndex.readAll(spark, idx).count() - baseRows
      // discard the measurement admission via the empty-replay path
      // (an empty epoch clears its stale delta) — compact would fold
      // it INTO the base instead
      TextOps.neardupIngestEpoch(spark, idx, 999L, docs(Seq.empty)).collect()
      assert(DeltaIndex.readAll(spark, idx).count() == baseRows)
      n
    }
    val epochs = 10
    // the race-proof invariant: an admission is NEVER visible twice
    // (a folded delta double-counted against the new base would show
    // a doc_id with > perDoc band rows). Exact-count assertions would
    // flake on the benign transient of listing a delta dir mid-commit
    // (a SUBSET of its part files) — under-visibility is eventual,
    // duplication would be wrongness.
    val wrong = new java.util.concurrent.atomic.AtomicReference[String](null)
    val okReads = new java.util.concurrent.atomic.AtomicInteger(0)
    val retried = new java.util.concurrent.atomic.AtomicInteger(0)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      while (!stop.get() && wrong.get == null) {
        try {
          val maxPerDoc = DeltaIndex.readAll(spark, idx)
            .groupBy("doc_id").count()
            .agg(max(col("count"))).head.getLong(0)
          if (maxPerDoc > perDoc)
            wrong.compareAndSet(null,
              s"a doc's bands were visible $maxPerDoc times (> $perDoc) — " +
                "a fold double-counted an admission")
          else okReads.incrementAndGet()
        } catch {
          // beyond-one-generation plans fail LOUDLY and retryably by
          // contract — never silently wrong; count and continue
          case _: Throwable => retried.incrementAndGet()
        }
        ()
      }
    }, "graft-conc-reader")
    reader.start()
    try {
      // writer: 10 epochs, folding EVERY OTHER epoch so the reader
      // races many base swaps and tombstone publications
      (0 until epochs).foreach { e =>
        TextOps.neardupIngestEpoch(spark, idx, e.toLong,
          docs(Seq(Row(100L + e, text(s"t$e"))))).collect()
        if (e % 2 == 1) DeltaIndex.compact(spark, idx, belowEpoch = e + 1L)
      }
    } finally {
      stop.set(true)
      reader.join(30000)
    }
    assert(wrong.get == null, String.valueOf(wrong.get))
    assert(okReads.get > 0, "the reader must have completed reads mid-stream")
    // the folded admissions all survived the racing folds
    val finalCount = DeltaIndex.readAll(spark, idx).count()
    assert(finalCount == baseRows + epochs * perDoc,
      s"admissions lost or duplicated: $finalCount vs ${baseRows + epochs * perDoc}")
  }

  test("layout-dial validation: probing with a different bandBuckets/nPlanes than the index was staged with fails loudly instead of silently missing matches") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dial")
    val tIdx = dir.resolve("dl_t_idx").toString
    TextOps.stageNeardupIndex(docs(Seq(Row(0L, text("x0")))), tIdx,
      bandBuckets = 64)
    val batch = docs(Seq(Row(100L, text("x0"))))
    // matching dial works; a mismatched modulus would silently prune
    // away true matches, so it must throw, naming both values
    assert(TextOps.classifyNeardupBatch(spark, tIdx, batch, bandBuckets = 64)
      .collect().map(_.getString(1)).toSeq == Seq("dup_of_existing"))
    val e1 = intercept[IllegalArgumentException] {
      TextOps.classifyNeardupBatch(spark, tIdx, batch, bandBuckets = 32)
    }
    assert(e1.getMessage.contains("bandBuckets=64") &&
      e1.getMessage.contains("bandBuckets=32"), e1.getMessage)
    intercept[IllegalArgumentException] {
      TextOps.neardupIngestEpoch(spark, tIdx, 0L, batch, bandBuckets = 0)
    }
    val vIdx = dir.resolve("dl_v_idx").toString
    VectorOps.stageAnnIndex(vecs(Seq(Row(0L, oneHot(0)))), vIdx,
      nPlanes = 16, dim = 16)
    val vBatch = vecs(Seq(Row(100L, oneHot(0))))
    assert(VectorOps.classifyAnnBatch(spark, vIdx, vBatch, nPlanes = 16,
      dim = 16).collect().map(_.getString(4)).toSeq == Seq("matched"))
    val e2 = intercept[IllegalArgumentException] {
      VectorOps.classifyAnnBatch(spark, vIdx, vBatch, nPlanes = 8, dim = 16)
    }
    assert(e2.getMessage.contains("nPlanes=16") &&
      e2.getMessage.contains("nPlanes=8"), e2.getMessage)
    intercept[IllegalArgumentException] {
      VectorOps.annIngestEpoch(spark, vIdx, 0L, vBatch, nPlanes = 16,
        dim = 64)
    }
  }

  test("empty replay epoch on the PARTITIONED door: an epoch with no probe reads no index and still clears the stale delta") {
    val dir = java.nio.file.Files.createTempDirectory("graft_empty_part")
    val idx = dir.resolve("ep_idx").toString
    VectorOps.stageAnnIndex(vecs(Seq(Row(0L, oneHot(0)))), idx,
      nPlanes = 16, dim = 16, bucketPartitioned = true)
    // first attempt admits a vector (delta e0 exists)...
    VectorOps.annIngestEpoch(spark, idx, 0L,
      vecs(Seq(Row(100L, oneHot(5)))), nPlanes = 16, dim = 16).collect()
    assert(DeltaIndex.outstanding(spark, idx) == 1)
    // ...then the batch is evicted and the epoch REPLAYS EMPTY — the
    // stale-delta clear: an epoch with no probe reads no index, and
    // still clears its delta.
    val out = VectorOps.annIngestEpoch(spark, idx, 0L, vecs(Seq.empty),
      nPlanes = 16, dim = 16).collect()
    assert(out.isEmpty)
    assert(DeltaIndex.outstanding(spark, idx) == 0,
      "the empty replay must clear the ghost admission")
  }

  test("resumeIngestAfterExpiry: the TTL recovery recipe as one call — each precondition fails actionably, the happy path resumes with admissions intact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_resume")
    val idx = dir.resolve("rs_idx").toString
    TextOps.stageNeardupIndex(docs(Seq(Row(0L, text("r0")))), idx)
    var clock = 0L
    val st = new StreamStore(1 << 20, ttlMillis = 100L, now = () => clock)
    st.append("docs_rs", docSchema, Seq(Row(1L, text("r1"))))
    GraftStoreRegistry.register("s_rs", st)
    val verdicts = TrieMap.empty[Long, String]
    def onEpoch(e: Long, c: org.apache.spark.sql.DataFrame): Unit = {
      c.collect().foreach(r => verdicts.put(r.getLong(0), r.getString(1)))
      ()
    }
    try {
      val ck1 = dir.resolve("rs_ck1").toString
      val q1 = TextOps.startNeardupIngest(spark, "s_rs", "docs_rs", idx,
        maxBatchesPerTrigger = 1, checkpointDir = ck1, onEpoch = onEpoch)
      try q1.processAllAvailable() finally q1.stop()
      assert(verdicts.toMap == Map(1L -> "unique"))
      clock = 1000L
      assert(st.expire() == Seq("docs_rs"), "fixture must actually expire")
      // precondition 1: the topic must be re-ingested first
      val e1 = intercept[IllegalStateException] {
        TextOps.resumeNeardupIngestAfterExpiry(spark, "s_rs", "docs_rs", idx,
          maxBatchesPerTrigger = 1,
          freshCheckpointDir = dir.resolve("rs_ck2").toString,
          onEpoch = onEpoch)
      }
      assert(e1.getMessage.contains("docs_rs") &&
        e1.getMessage.contains("Re-append"),
        s"missing-topic error must be actionable: ${e1.getMessage}")
      // precondition 2: the checkpoint must be FRESH
      st.append("docs_rs", docSchema,
        Seq(Row(2L, text("r1")), Row(3L, text("r2"))))
      val e2 = intercept[IllegalStateException] {
        TextOps.resumeNeardupIngestAfterExpiry(spark, "s_rs", "docs_rs", idx,
          maxBatchesPerTrigger = 1, freshCheckpointDir = ck1,
          onEpoch = onEpoch)
      }
      assert(e2.getMessage.contains("FRESH checkpoint"),
        s"stale-checkpoint error must be actionable: ${e2.getMessage}")
      // happy path: fresh checkpoint; the start's compact-first folds
      // the previous run's delta, so r1's admission still classifies
      // its copy as existing
      val q2 = TextOps.resumeNeardupIngestAfterExpiry(spark, "s_rs",
        "docs_rs", idx, maxBatchesPerTrigger = 1,
        freshCheckpointDir = dir.resolve("rs_ck3").toString,
        onEpoch = onEpoch)
      try q2.processAllAvailable() finally q2.stop()
      assert(verdicts.toMap ==
        Map(1L -> "unique", 2L -> "dup_of_existing", 3L -> "unique"),
        s"admissions must survive the expiry recovery: ${verdicts.toMap}")
    } finally GraftStoreRegistry.unregister("s_rs")
  }
}
