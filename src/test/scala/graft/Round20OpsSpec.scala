package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.{StreamStore, TextOps}
import graft.sources.GraftStoreRegistry

/** Round-20 composition specs: the streaming-ingest pieces that each
  * shipped separately — the store's real MicroBatchStream, admission
  * control (`maxBatchesPerTrigger`), byte-budget eviction, and the
  * staged banded-LSH probe — run TOGETHER as one StreamingQuery, the
  * reference's actual runtime shape (kafka/consumer.go:307-410 flush →
  * stream/manager.go:277-343 append → downstream consumer). Plus the
  * reference's multi-stream concurrency contract: one shared manager,
  * PER-STREAM byte budgets (stream/manager.go:16-35). */
class Round20OpsSpec extends SparkSuite {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** Family-disjoint text: every token carries the family tag, so two
    * different families share NO 3-gram shingle and can never collide
    * in a MinHash band — dup statuses in the fixture are by
    * construction, not by hash luck. */
  private def text(fam: String): String =
    (0 until 8).map(i => s"${fam}tok$i").mkString(" ")

  test("streaming near-dup ingest end-to-end: MicroBatchStream + admission control + staged-index probe per epoch, eviction between epochs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_e2e_ingest")
    val indexPath = dir.resolve("nd_live_idx").toString
    val replayIndexPath = dir.resolve("nd_replay_idx").toString
    // existing corpus: 4 docs, banded once into the staged index
    val existing = spark.createDataFrame(
      spark.sparkContext.parallelize(
        (0 until 4).map(i => Row(i.toLong, text(s"e$i"))).toList), docSchema)
    TextOps.stageNeardupIndex(existing, indexPath)
    TextOps.stageNeardupIndex(existing, replayIndexPath) // immutable twin for the replay

    // 5 arriving batches of 4 docs each (64 B at 2 cols × 8); per
    // batch: [copy of an existing doc → dup_of_existing; new base →
    // unique; exact copy of that base → dup_in_batch; fresh → unique].
    // b4 additionally probes the ADMITTED DELTA: doc 131 copies b1's
    // admitted base f1, b5's doc 140 copies b2's admitted fresh g2.
    def batch(ids: Seq[Long], texts: Seq[String]): Seq[Row] =
      ids.zip(texts).map { case (i, t) => Row(i, t) }
    val b1 = batch(Seq(100L, 101L, 102L, 103L),
      Seq(text("e0"), text("f1"), text("f1"), text("g1")))
    val b2 = batch(Seq(110L, 111L, 112L, 113L),
      Seq(text("e1"), text("f2"), text("f2"), text("g2")))
    val b3 = batch(Seq(120L, 121L, 122L, 123L), // evicted before consumption
      Seq(text("e2"), text("f3"), text("f3"), text("g3")))
    val b4 = batch(Seq(130L, 131L, 132L, 133L),
      Seq(text("e3"), text("f1"), text("f4"), text("f4")))
    val b5 = batch(Seq(140L, 141L, 142L, 143L),
      Seq(text("g2"), text("h5"), text("f5"), text("f5")))

    // budget holds exactly two 64 B batches — the third concurrent
    // append always evicts the oldest buffered batch
    val st = new StreamStore(maxBytesPerStream = 140,
      ttlMillis = Long.MaxValue / 2)
    st.append("docs", docSchema, b1)
    st.append("docs", docSchema, b2)
    GraftStoreRegistry.register("s_e2e", st)
    val perEpoch = TrieMap.empty[Long, Map[Long, String]]
    def start() = TextOps.startNeardupIngest(spark, "s_e2e", "docs", indexPath,
      maxBatchesPerTrigger = 1,
      checkpointDir = dir.resolve("ckpt").toString,
      onEpoch = (epochId, classified) => {
        val rows = classified.collect() // ≤ 4 rows: admission-bounded
        // (the staged-index-read + broadcast-semi plan contract is now
        // asserted PRODUCT-SIDE inside every epoch, on the un-executed
        // frame before it checkpoints — neardupIngestEpoch requires it,
        // so a regression fails the stream itself, not just this spec)
        perEpoch.put(epochId,
          rows.map(r => r.getLong(0) -> r.getString(1)).toMap)
        ()
      })
    val q1 = start()
    try {
      q1.processAllAvailable() // consumes b1, b2 (one batch per trigger)
      assert(perEpoch.values.map(_.size).sum == 8,
        "first drain classifies exactly the two pre-appended batches")
    } finally q1.stop()
    // slow consumer, CHECKPOINTED restart: three appends land while the
    // query is down — the third evicts b3 itself (the first UNCONSUMED
    // offset) under the byte budget
    st.append("docs", docSchema, b3)
    st.append("docs", docSchema, b4)
    st.append("docs", docSchema, b5)
    assert(st.droppedRows("docs") > 0, "fixture must actually evict")
    val q2 = start()
    try q2.processAllAvailable() // b3's offset drains EMPTY; b4, b5 classify
    finally q2.stop()

    val streamed: Map[Long, String] =
      perEpoch.values.flatten.toMap
    // ≥ 3 non-empty epochs actually ran (b1, b2, b4, b5)
    assert(perEpoch.size == 4, s"expected 4 non-empty epochs: $perEpoch")
    // eviction between epochs: b3's docs were never classified — the
    // offset was lost by the drop-oldest contract, not failed
    assert(streamed.keySet == (b1 ++ b2 ++ b4 ++ b5).map(_.getLong(0)).toSet)
    assert(Seq(120L, 121L, 122L, 123L).forall(!streamed.contains(_)))
    // per-epoch classification: copies of indexed docs, in-batch pairs,
    // fresh docs — and the cross-epoch copies caught by the ADMITTED
    // DELTA (131 copies b1's f1, 140 copies b2's g2: both were admitted
    // in earlier epochs, so they are dups OF EXISTING here)
    val expected = Map(
      100L -> "dup_of_existing", 101L -> "unique",
      102L -> "dup_in_batch", 103L -> "unique",
      110L -> "dup_of_existing", 111L -> "unique",
      112L -> "dup_in_batch", 113L -> "unique",
      130L -> "dup_of_existing", 131L -> "dup_of_existing",
      132L -> "unique", 133L -> "dup_in_batch",
      140L -> "dup_of_existing", 141L -> "unique",
      142L -> "unique", 143L -> "dup_in_batch")
    assert(streamed == expected,
      s"streamed classification diverged: $streamed")

    // batch-replay equivalence (q_stream_neardup_lsh's contract): the
    // same processed docs classified as ONE batch against the original
    // index admit the SAME doc set — epoch granularity changes only
    // the existing-vs-in-batch label of cross-epoch pairs, never what
    // gets admitted (min-id-first arrival order is preserved by the
    // offset axis)
    val processedRows = b1 ++ b2 ++ b4 ++ b5
    val replay = TextOps.classifyNeardupBatch(spark, replayIndexPath,
        spark.createDataFrame(
          spark.sparkContext.parallelize(processedRows.toList), docSchema))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def admitted(m: Map[Long, String]): Set[Long] =
      m.collect { case (id, "unique") => id }.toSet
    assert(admitted(streamed) == admitted(replay),
      s"streamed admits ${admitted(streamed)}, replay admits ${admitted(replay)}")
    // and labels agree everywhere except the two cross-epoch pairs
    val crossEpoch = Set(131L, 140L)
    assert(streamed.filterNot(kv => crossEpoch(kv._1)) ==
      replay.filterNot(kv => crossEpoch(kv._1)))
    assert(crossEpoch.forall(id => replay(id) == "dup_in_batch"),
      "the replay sees cross-epoch copies as in-batch dups — the one honest label difference")
    GraftStoreRegistry.unregister("s_e2e")
  }

  test("streaming ANN ingest end-to-end: the vector mirror — staged sign-LSH probe per epoch, admitted vectors grow the index, eviction between epochs") {
    import graft.engine.VectorOps
    val dir = java.nio.file.Files.createTempDirectory("graft_e2e_ann")
    val indexPath = dir.resolve("ann_live_idx").toString
    val replayIndexPath = dir.resolve("ann_replay_idx").toString
    val embSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    // 16-dim one-hot families: orthogonal, so copies score exact
    // integer cosine 1.0 and cross-family candidates score 0
    def oneHot(i: Int): Seq[Float] =
      (0 until 16).map(j => if (j == i) 1.0f else 0.0f)
    def rows(ids: Seq[Long], fams: Seq[Int]): Seq[Row] =
      ids.zip(fams).map { case (id, f) => Row(id, oneHot(f)) }
    val existing = spark.createDataFrame(
      spark.sparkContext.parallelize(
        (0 until 4).map(i => Row(i.toLong, oneHot(i))).toList), embSchema)
    VectorOps.stageAnnIndex(existing, indexPath, nPlanes = 8, dim = 16)
    VectorOps.stageAnnIndex(existing, replayIndexPath, nPlanes = 8, dim = 16)

    val b1 = rows(Seq(101L, 102L, 103L, 104L), Seq(0, 5, 6, 1))
    val b2 = rows(Seq(111L, 112L, 113L, 114L), Seq(5, 7, 2, 8))
    val b3 = rows(Seq(121L, 122L, 123L, 124L), Seq(3, 9, 10, 11)) // evicted
    val b4 = rows(Seq(131L, 132L, 133L, 134L), Seq(7, 3, 12, 13))
    val st = new StreamStore(maxBytesPerStream = 140,
      ttlMillis = Long.MaxValue / 2)
    st.append("vecs", embSchema, b1)
    st.append("vecs", embSchema, b2)
    GraftStoreRegistry.register("s_e2e_ann", st)
    val perEpoch = TrieMap.empty[Long, Map[Long, (String, Long)]]
    def start() = VectorOps.startAnnIngest(spark, "s_e2e_ann", "vecs",
      indexPath, maxBatchesPerTrigger = 1,
      checkpointDir = dir.resolve("ckpt").toString,
      onEpoch = (epochId, classified) => {
        val out = classified.collect() // ≤ 4 rows: admission-bounded
        // each prepared scan's contract (a file scan of its dir, no
        // exchange) is checked once, when the door prepares it
        perEpoch.put(epochId, out.map(r =>
          r.getLong(0) -> (r.getString(4), r.getLong(2))).toMap)
        ()
      }, nPlanes = 8, dim = 16)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    assert(perEpoch.size == 2, s"first drain = two bounded epochs: $perEpoch")
    st.append("vecs", embSchema, b3)
    st.append("vecs", embSchema, b4)
    st.append("vecs", embSchema, rows(Seq(141L), Seq(14)))
    assert(st.droppedRows("vecs") > 0, "fixture must actually evict")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    // a sub-threshold bucket-collision candidate can set best_id on a
    // 'new' vector (the verdict is the threshold, not the candidate
    // list) — normalize new→-1 so the comparison pins the CONTRACT
    def norm(m: Map[Long, (String, Long)]): Map[Long, (String, Long)] =
      m.map { case (k, (s, b)) => k -> (s, if (s == "new") -1L else b) }
    val streamed = norm(perEpoch.values.flatten.toMap)
    // b3 lost between epochs by the drop-oldest contract
    assert(Seq(121L, 122L, 123L, 124L).forall(!streamed.contains(_)))
    val expected = Map(
      101L -> ("matched", 0L), 102L -> ("new", -1L),
      103L -> ("new", -1L), 104L -> ("matched", 1L),
      // 111/131 copy vectors ADMITTED in earlier epochs — the delta
      // index catches them as matches of the admitted originals
      111L -> ("matched", 102L), 112L -> ("new", -1L),
      113L -> ("matched", 2L), 114L -> ("new", -1L),
      131L -> ("matched", 112L), 132L -> ("matched", 3L),
      133L -> ("new", -1L), 134L -> ("new", -1L),
      141L -> ("new", -1L))
    assert(streamed == expected, s"streamed ANN classification: $streamed")
    // batch replay against the immutable index: identical everywhere
    // EXCEPT the cross-epoch copies, which only the grown index can
    // match — the exact value the delta-append adds
    val processed = b1 ++ b2 ++ b4 ++ rows(Seq(141L), Seq(14))
    val replay = norm(VectorOps.classifyAnnBatch(spark, replayIndexPath,
        spark.createDataFrame(
          spark.sparkContext.parallelize(processed.toList), embSchema),
        nPlanes = 8, dim = 16)
      .collect().map(r => r.getLong(0) -> (r.getString(4), r.getLong(2))).toMap)
    val crossEpoch = Set(111L, 131L)
    assert(replay.filterNot(kv => crossEpoch(kv._1)) ==
      streamed.filterNot(kv => crossEpoch(kv._1)))
    assert(crossEpoch.forall(id => replay(id)._1 == "new"),
      "the static replay cannot match cross-epoch copies — only the grown index can")
    GraftStoreRegistry.unregister("s_e2e_ann")
  }

  test("ingest epochs are replay-idempotent: a re-run epoch never self-matches and leaves one copy of its admissions") {
    import graft.engine.VectorOps
    val dir = java.nio.file.Files.createTempDirectory("graft_replay")
    val idx = dir.resolve("rep_idx").toString
    val existing = spark.createDataFrame(
      spark.sparkContext.parallelize(
        (0 until 2).map(i => Row(i.toLong, text(s"e$i"))).toList), docSchema)
    TextOps.stageNeardupIndex(existing, idx)
    def classify(epochId: Long, rows: Seq[Row]): Map[Long, String] =
      TextOps.neardupIngestEpoch(spark, idx, epochId,
          spark.createDataFrame(
            spark.sparkContext.parallelize(rows.toList), docSchema))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val data = Seq(Row(200L, text("z1")), Row(201L, text("e0")))
    val first = classify(7L, data)
    assert(first == Map(200L -> "unique", 201L -> "dup_of_existing"))
    def deltaDocs(): Seq[Long] = spark.read.parquet(s"${idx}_delta/e7")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSeq.sorted
    assert(deltaDocs() == Seq(200L), "only the admitted doc's bands land")
    // foreachBatch is at-least-once: replay epoch 7 after its delta
    // was already written (the crash-between-write-and-commit shape).
    // 200 must NOT self-match against its own first-attempt bands, and
    // the delta must hold ONE copy, not two
    val second = classify(7L, data)
    assert(second == first,
      s"replayed epoch must reproduce its verdicts: $second vs $first")
    assert(deltaDocs() == Seq(200L), "replay overwrites its delta, never appends")
    // a LATER epoch reads epoch 7's delta: 200's copy is now existing
    val later = classify(8L, Seq(Row(300L, text("z1"))))
    assert(later == Map(300L -> "dup_of_existing"))
    // evicted-replay GHOST clear: epoch 9 admits w1, then its batch is
    // evicted under the byte budget and the epoch replays EMPTY — the
    // stale delta must clear (those docs were never reported admitted)
    assert(classify(9L, Seq(Row(400L, text("w1")))) == Map(400L -> "unique"))
    assert(new java.io.File(s"${idx}_delta/e9").exists)
    classify(9L, Seq.empty)
    assert(!new java.io.File(s"${idx}_delta/e9").exists,
      "an empty replay clears the ghost admission")
    assert(classify(10L, Seq(Row(401L, text("w1")))) == Map(401L -> "unique"),
      "w1 was lost by eviction, so its copy must re-admit")
    // the PUBLIC batch classify sees stream admissions (base + deltas)
    def pubClassify(rows: Seq[Row]): Map[Long, String] =
      TextOps.classifyNeardupBatch(spark, idx,
          spark.createDataFrame(
            spark.sparkContext.parallelize(rows.toList), docSchema))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pubClassify(Seq(Row(700L, text("z1")))) ==
      Map(700L -> "dup_of_existing"),
      "a batch-side classify must not re-admit a stream-admitted doc")
    // compaction folds deltas into the base and retires them from the
    // live namespace (tombstoned on disk for one generation — snapshot
    // isolation — then deleted) — the mandatory step before reusing
    // the index under a fresh checkpoint (epoch ids restart at 0)
    graft.engine.DeltaIndex.compact(spark, idx)
    assert(graft.engine.DeltaIndex.outstanding(spark, idx) == 0,
      "no live deltas after a full compaction")
    assert(pubClassify(Seq(Row(701L, text("z1")))) ==
      Map(701L -> "dup_of_existing"), "admissions survive compaction")
    assert(classify(0L, Seq(Row(702L, text("z1")))) ==
      Map(702L -> "dup_of_existing"),
      "a restarted epoch 0 can no longer destroy prior admissions")
    assert(!graft.engine.DeltaIndex.resumesCheckpoint(spark,
      dir.resolve("never_used_ckpt").toString))
    // the ANN mirror carries the same contract
    val embSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    def oneHot(i: Int): Seq[Float] =
      (0 until 16).map(j => if (j == i) 1.0f else 0.0f)
    val vIdx = dir.resolve("rep_vidx").toString
    VectorOps.stageAnnIndex(spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row(0L, oneHot(0))).toList), embSchema), vIdx, nPlanes = 8, dim = 16)
    def classifyV(epochId: Long, rows: Seq[Row]): Map[Long, String] =
      VectorOps.annIngestEpoch(spark, vIdx, epochId,
          spark.createDataFrame(
            spark.sparkContext.parallelize(rows.toList), embSchema),
          nPlanes = 8, dim = 16)
        .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    val vData = Seq(Row(500L, oneHot(3)), Row(501L, oneHot(0)))
    val vFirst = classifyV(3L, vData)
    assert(vFirst == Map(500L -> "new", 501L -> "matched"))
    assert(classifyV(3L, vData) == vFirst,
      "replayed ANN epoch must not self-match its admitted vector")
    assert(classifyV(4L, Seq(Row(600L, oneHot(3)))) == Map(600L -> "matched"),
      "a later epoch matches against the admitted delta")
  }

  test("multi-topic concurrency: one store, two live streaming writers, PER-STREAM byte budgets isolate eviction and scan metrics") {
    import graft.sources.GraftScanMetrics
    // budget sized so topic A's 5 × 40-row batches (640 B each at
    // 16 B/row) overflow it while topic B's 2 × 10-row batches never
    // approach it — the reference's per-stream maxBytes
    // (stream/manager.go:16-35), one goroutine per topic
    import spark.implicits._
    val st = new StreamStore(maxBytesPerStream = 2000,
      ttlMillis = Long.MaxValue / 2)
    GraftStoreRegistry.register("s_multi", st)
    val tmp = System.getProperty("java.io.tmpdir")
    val inA = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](spark)
    val inB = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](spark)
    def sink(src: org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)], topic: String) =
      src.toDF().toDF("k", "pad")
        .writeStream.format("graft-store")
        .option("store", "s_multi").option("topic", topic)
        .option("checkpointLocation",
          s"$tmp/graft_multi_${topic}_${System.nanoTime()}")
        .start()
    val qA = sink(inA, "a")
    val qB = sink(inB, "b")
    try {
      // interleaved epochs while BOTH queries are live
      (0 until 5).foreach { e =>
        inA.addData((0 until 40).map(i => (e * 40L + i, s"a$i")): _*)
        if (e < 2) inB.addData((0 until 10).map(i => (e * 10L + i, s"b$i")): _*)
        qA.processAllAvailable()
        qB.processAllAvailable()
      }
    } finally { qA.stop(); qB.stop() }
    // A evicted (5 × 640 B > 2000 B); B lost NOTHING — budgets are
    // per-stream, so a hot topic can never starve its neighbors
    assert(st.droppedRows("a") > 0, "topic A must overflow its budget")
    assert(st.droppedRows("b") == 0L, "topic B must be untouched by A's eviction")
    assert(st.appendedBatches("a") == 5 && st.appendedBatches("b") == 2)
    def read(topic: String) = spark.read.format("graft-store")
      .option("store", "s_multi").option("topic", topic).load()
    assert(read("b").count() == 20, "every B row survives")
    assert(read("b").agg(min("k")).head.getLong(0) == 0L)
    // per-(store, topic) scan metrics stay separate under concurrency
    // (collect, not count: a pushed-down COUNT plans the single agg
    // partition and records no batch-partition metrics)
    read("a").filter(col("k") >= 120).collect()
    read("b").filter(col("k") >= 10).collect()
    val mA = GraftScanMetrics.lastPlanned("s_multi", "a")
    val mB = GraftScanMetrics.lastPlanned("s_multi", "b")
    assert(mA.exists { case (kept, total) => total == 3 && kept < total },
      s"A: three surviving batches, zone-pruned to the matching ones: $mA")
    assert(mB.contains((1, 2)), s"B: two batches, one matches k >= 10: $mB")
    GraftStoreRegistry.unregister("s_multi")
  }
}
