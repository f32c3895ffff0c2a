package perfbench

import java.io.ByteArrayInputStream
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.BigIntVector
import org.apache.arrow.vector.ipc.ArrowStreamReader
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.engine.{ArrowTcpServer, IngestMetrics, StreamStore, Tables, TextOps}
import graft.sources.GraftStoreRegistry

/** The open-loop serve workload — the reference's own path. A producer
  * thread appends seeded document batches to a `graft-store` topic on a
  * fixed schedule; the near-dup ingest door
  * (`TextOps.startNeardupIngest`) classifies them against an index
  * staged from the even `doc_id`s, and its `onEpoch` appends the
  * admitted docs to a served topic; a reader thread GETs that topic over
  * `ArrowTcpServer` on a fixed schedule and decodes it with the Arrow
  * Java reader. One operation is one appended batch, timed from when it
  * was due to the first decoded GET holding all its admitted docs.
  *
  * Inputs, from the seed: the odd `doc_id`s that the door admits when
  * classified alone against the index (each streamed once, ascending),
  * plus exact and near copies of index docs and of earlier streamed
  * docs, in the fixture's own duplicate share: the share of odd docs
  * the door rejects against the even index. A near copy is its
  * original plus one token no other doc contains, so every band it
  * shares with another doc is its original's. Every streamed doc gets a fresh id in arrival order, so
  * a copy's id is larger than its original's. Under these rules the
  * door's admitted set must equal a one-batch `classifyNeardupBatch`
  * replay of all streamed docs against an identically staged index. */
object ServeWorkload {

  // 48 docs/s in few, large batches: the source plans one partition per
  // appended batch, so an epoch that picks up more batches than there
  // are cores runs its tasks in extra waves, takes longer and picks up
  // still more. With a batch per 750 ms an epoch stays in one wave of
  // four tasks until it takes 3 s; at a batch per 250 ms a passing
  // slowdown could tip the door into a steady slower mode.
  val BatchDocs = 36
  val IntervalMs = 750
  val ReaderIntervalMs = 100
  val LeadInMs = 4000
  val CompactEvery = 2
  val WarmDoors = 3
  val WarmEpochs = 7
  val MaxBatchesPerTrigger = 64L
  val StoreName = "perfbench"
  val RawTopic = "docs_raw"
  val ServedTopic = "docs_served"
  val FirstId = 10000000L
  /** No `SparkEntry.queries` key is built here. */
  val IdleLayers: Seq[String] = Seq("entry.", "self.key", "self.build", "self.action")

  val rawSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("batch", LongType),
    StructField("src_id", LongType)))
  val servedSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("batch", LongType)))

  /** Fixed-schedule state shared by the producer, the door callback and
    * the reader; times are [[Tracer]]-clock milliseconds. */
  final class Run(val clock: () => Double, val textOf: Map[Long, String]) {
    val due = new ConcurrentHashMap[Long, Double]()
    val docsOf = new ConcurrentHashMap[Long, Seq[Long]]()
    val verdictAt = new ConcurrentHashMap[Long, Double]()
    val admittedOf = new ConcurrentHashMap[Long, Set[Long]]()
    val servedAt = new ConcurrentHashMap[Long, Double]()
    val status = new ConcurrentHashMap[Long, String]()
    val doubleClassified = ConcurrentHashMap.newKeySet[Long]()
    val appendMs = new ConcurrentHashMap[Long, Double]()
    val lateMs = new ConcurrentHashMap[Long, Double]()
    val lag = new ConcurrentLinkedQueue[(Long, Long)]()
    val onEpochMs = new ConcurrentHashMap[Long, Double]()
    val outstanding = new AtomicLong()
    val bytesMax = new AtomicLong()
    val produced = new AtomicLong()
    val gets = new ConcurrentLinkedQueue[Get]()
    val getFailures = new AtomicLong()
    val onEpochSpans = new ConcurrentHashMap[Long, (Long, Double, Double)]()
    @volatile var tracer: Option[Tracer] = None
  }

  final case class Get(start: Double, firstByte: Double, transferred: Double,
                       decoded: Double, bytes: Int)

  /** The streamed documents: (fresh id, text, source doc id). */
  final case class Doc(id: Long, text: String, src: Long)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val work = java.nio.file.Files.createTempDirectory("serve").toString
    val docs = Tables.documents(spark, ctx.sfDir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val even = docs.keys.filter(_ % 2 == 0).toSeq.sorted
    val odd = docs.keys.filter(_ % 2 == 1).toSeq.sorted
    def frame(rows: Seq[(Long, String)]): DataFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, t) => Row(i, t) }, 1),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))

    // set-up: the door's index and an identically staged twin for the
    // replay, from the even docs; the odd docs the door would admit
    val t0 = System.nanoTime()
    val doorIndex = s"$work/door_index"
    val twinIndex = s"$work/twin_index"
    val evenDf = frame(even.map(i => i -> docs(i)))
    TextOps.stageNeardupIndex(evenDf, doorIndex)
    TextOps.stageNeardupIndex(evenDf, twinIndex)
    val clean = TextOps.classifyNeardupBatch(spark, twinIndex, frame(odd.map(i => i -> docs(i))))
      .filter(col("status") === "unique").select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val copyShare = (odd.size - clean.size).toDouble / odd.size
    Util.log(f"serve: ${even.size} index docs, ${clean.size} of ${odd.size} odd docs streamable, " +
      f"copy share $copyShare%.3f; staged and classified in ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // one continuous stream: a lead-in past the door's first epochs, the
    // measured window, and in a traced run a second, traced window
    val leadIn = LeadInMs / IntervalMs
    val perWindow = ctx.seconds * 1000 / IntervalMs
    val total = leadIn + perWindow * (if (ctx.trace) 2 else 1)
    val plan = generate(new Random(ctx.seed), docs, even, clean, copyShare, total)
    val measured = (leadIn until leadIn + perWindow).map(_.toLong)
    val tracedWindow = (leadIn + perWindow until total).map(_.toLong)
    // one byte budget per topic, estimated as rows x columns x 8: the
    // served topic (3 columns, admitted docs only) never fills it, the
    // raw topic (4 columns) fills it in the last quarter of the run, so
    // drop-oldest evicts only batches the door consumed long before
    val store = new StreamStore(plan.map(_.size).sum.toLong * servedSchema.size * 8 + 4096,
      Long.MaxValue / 4)
    GraftStoreRegistry.register(StoreName, store)
    // the source rejects an unknown topic at load(): create both first
    store.append(RawTopic, rawSchema, Seq.empty)
    store.append(ServedTopic, servedSchema, Seq.empty)
    val server = new ArrowTcpServer(store)
    val allocator = new RootAllocator()
    try {
      warmDoors(spark, store, work, evenDf,
        generate(new Random(ctx.seed + 1), docs, even, clean, copyShare, WarmEpochs))
      val tracer = new Tracer(spark)
      val run = new Run(() => tracer.now(), plan.flatten.map(d => d.id -> d.text).toMap)
      var compactions0 = 0L
      if (ctx.trace) tracer.attach()
      val door = TextOps.startNeardupIngest(spark, StoreName, RawTopic, doorIndex,
        MaxBatchesPerTrigger, s"$work/door_ckpt",
        (epoch, classified) => onEpoch(run, store, epoch, classified, doorIndex),
        compactEvery = CompactEvery)
      // set-up ends when the first batch has gone through the door and
      // been served; the rest of the lead-in is paced by the schedule,
      // not by the program, and is left out
      val prepS = ctx.setupSeconds()
      var gcAtTrace = 0.0
      try stream(run, store, server.boundPort, allocator, plan, door, { b =>
        if (b == leadIn) Jvm.resetPeak()
        if (ctx.trace && b == tracedWindow.head) {
          gcAtTrace = Jvm.gcMs(); compactions0 = compactions(doorIndex)
          run.tracer = Some(tracer); tracer.activate()
        }
      })
      finally {
        if (ctx.trace) tracer.stop()
        door.stop()
      }
      val gcTraced = Jvm.gcMs() - gcAtTrace

      // ---- checks ------------------------------------------------------
      val all = plan.indices.map(_.toLong)
      val failedBatches = mutable.Set.empty[Long]
      def failBatch(b: Long, why: String): Unit = {
        if (failedBatches.add(b)) Util.log(s"FAILED batch $b: $why")
      }
      val idsOf = plan.map(_.map(_.id))
      all.foreach { b =>
        val missing = idsOf(b.toInt).filterNot(run.status.containsKey)
        if (missing.nonEmpty) failBatch(b, s"${missing.size} docs never classified (evicted before the door read them?)")
        if (idsOf(b.toInt).exists(run.doubleClassified.contains)) failBatch(b, "a doc was classified twice")
        if (!run.servedAt.containsKey(b)) failBatch(b, "admitted docs never served")
      }
      val replay = TextOps.classifyNeardupBatch(spark, twinIndex,
          frame(plan.flatten.map(d => d.id -> d.text)))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      all.foreach { b =>
        val diff = idsOf(b.toInt).filter(i => replay.get(i).contains("unique") !=
          Option(run.status.get(i)).contains("unique"))
        if (diff.nonEmpty) failBatch(b, s"admitted set differs from the one-batch replay on docs ${diff.take(5).mkString(",")}")
      }
      val served = get(server.boundPort, allocator, run.clock).map(_._2).getOrElse(Set.empty[Long])
      val admitted = run.status.asScala.collect { case (i, "unique") => i }.toSet
      if (served != admitted) {
        Util.log(s"FAILED: served set (${served.size}) != admitted set (${admitted.size})")
        run.getFailures.incrementAndGet()
      }
      // an unsustainable rate shows as a backlog that keeps growing
      val lags = run.lag.asScala.toSeq.filter(_._1 >= leadIn).sortBy(_._1).map(_._2.toDouble)
      val backlogGrowing = lags.size >= 4 && {
        val (a, b) = lags.splitAt(lags.size / 2)
        Util.mean(b) > 2 * Util.mean(a) + 2
      }
      if (backlogGrowing) Util.log(s"INVALID: the door's backlog kept growing (lags ${lags.mkString(",")})")

      // ---- metrics -----------------------------------------------------
      def servedLatency(bs: Seq[Long]) = bs.filter(run.servedAt.containsKey)
        .map(b => run.servedAt.get(b) - run.due.get(b))
      val untraced = servedLatency(measured)
      val attempted = all.size.toLong + run.gets.size + 1
      val failed = failedBatches.size.toLong + run.getFailures.get + (if (backlogGrowing) 1 else 0)
      Util.log(f"serve: ${all.size} batches, ${run.gets.size} GETs, served p50 ${Util.quantileOr0(untraced, 0.5)}%.1f ms")
      Util.log("serve: served mean per 8 batches (ms): " + all.grouped(8)
        .map(bs => f"${Util.mean(servedLatency(bs))}%.0f").mkString(" "))
      val metrics =
        if (!ctx.trace) Seq(
          ("setup_s", prepS + servedLatency(Seq(0L)).headOption.getOrElse(Double.NaN) / 1000, "s"),
          ("op_p50_ms", Util.median(untraced), "ms"),
          ("op_mean_ms", Util.mean(untraced), "ms"),
          ("retained_heap_mb", { spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
            Jvm.settledHeapMb() }, "MB"))
        else {
          val traced = servedLatency(tracedWindow)
          layerMetrics(ctx, run, tracer, store, tracedWindow, compactions(doorIndex) - compactions0,
            Map("trace.overhead_ms" -> (Util.mean(traced) - Util.mean(untraced)),
              "trace.overhead_frac" -> (Util.mean(traced) / Util.mean(untraced) - 1),
              "jvm.gc_ms" -> gcTraced, "jvm.heap_peak_mb" -> Jvm.peakHeapMb()))
        }
      Outcome(attempted, failed, failed == 0, metrics, IdleLayers)
    } finally {
      server.close()
      allocator.close()
      GraftStoreRegistry.unregister(StoreName)
    }
  }

  /** Set-up: runs `WarmDoors` doors at once, each on its own topic and
    * index, through one epoch per batch of `batches`, appended up front.
    * The door's code paths reach the JIT's compiled tiers only after
    * dozens of epochs; a door warmed at the measured rate was still
    * getting faster in the measured window. */
  private def warmDoors(spark: SparkSession, store: StreamStore,
                        work: String, evenDf: DataFrame, batches: Seq[Seq[Doc]]): Unit = {
    val t0 = System.nanoTime()
    val doors = (0 until WarmDoors).map { k =>
      val topic = s"warm$k"
      val index = s"$work/warm${k}_index"
      TextOps.stageNeardupIndex(evenDf, index)
      store.append(topic, rawSchema, Seq.empty)
      batches.zipWithIndex.foreach { case (b, i) =>
        store.append(topic, rawSchema, b.map(d => Row(d.id, d.text, i.toLong, d.src)))
      }
      TextOps.startNeardupIngest(spark, StoreName, topic, index, 1L, s"$work/warm${k}_ckpt",
        (_, classified) => { classified.collect(); () }, compactEvery = CompactEvery)
    }
    try doors.foreach(_.processAllAvailable())
    finally doors.foreach(_.stop())
    Util.log(f"serve: $WarmDoors warm-up doors x ${batches.size} epochs in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  private def compactions(index: String): Long =
    IngestMetrics.compactionCounts.filter(_._1.contains(new java.io.File(index).getName)).map(_._2).sum

  /** Seeded batches of the whole run. */
  def generate(rnd: Random, docs: Map[Long, String], even: Seq[Long],
               clean: Seq[Long], copyShare: Double, batches: Int): IndexedSeq[Seq[Doc]] = {
    var next = FirstId
    val originals = clean.iterator
    val streamed = mutable.ArrayBuffer.empty[Doc] // originals streamed so far
    def copyOf(text: String, src: Long): Doc = {
      val near = rnd.nextBoolean()
      val t = if (near) s"$text perfbench${next}x" else text
      val d = Doc(next, t, src); next += 1; d
    }
    (0 until batches).map { _ =>
      val out = mutable.ArrayBuffer.empty[Doc]
      (0 until BatchDocs).foreach { _ =>
        if (rnd.nextDouble() < copyShare || !originals.hasNext) {
          if (streamed.isEmpty || rnd.nextBoolean()) {
            val e = even(rnd.nextInt(even.size))
            out += copyOf(docs(e), e)
          } else {
            val o = streamed(rnd.nextInt(streamed.size))
            out += copyOf(o.text, o.src)
          }
        } else {
          val o = originals.next()
          val d = Doc(next, docs(o), o); next += 1
          out += d
          streamed += d
        }
      }
      out.toSeq
    }
  }

  /** Produces every batch of `plan` on schedule while the reader polls,
    * then waits (bounded) until each is verdicted and served.
    * `beforeAppend` runs on the producer thread when a batch is due. */
  private def stream(run: Run, store: StreamStore, port: Int, allocator: RootAllocator,
                     plan: IndexedSeq[Seq[Doc]],
                     door: org.apache.spark.sql.streaming.StreamingQuery,
                     beforeAppend: Long => Unit): Unit = {
    val t0 = run.clock() + 200
    plan.indices.foreach(b => run.due.put(b.toLong, t0 + b * IntervalMs))
    val done = new AtomicBoolean(false)
    val producer = new Thread(() => {
      plan.indices.map(_.toLong).foreach { b =>
        sleepUntil(run, run.due.get(b))
        beforeAppend(b)
        val start = run.clock()
        val rows = plan(b.toInt).map(d => Row(d.id, d.text, b, d.src))
        run.docsOf.put(b, plan(b.toInt).map(_.id))
        store.append(RawTopic, rawSchema, rows)
        val end = run.clock()
        run.produced.incrementAndGet()
        run.appendMs.put(b, end - start)
        run.lateMs.put(b, start - run.due.get(b))
        run.bytesMax.accumulateAndGet(store.currentBytes(RawTopic), math.max(_, _))
        run.tracer.foreach(_.add(s"append-$b", "append", start, end, 0L))
      }
    }, "perfbench-producer")
    val reader = new Thread(() => {
      var n = 0
      while (!done.get) {
        sleepUntil(run, t0 + n * ReaderIntervalMs)
        n += 1
        get(port, allocator, run.clock) match {
          case Some((g, ids, perBatch)) =>
            run.gets.add(g)
            run.tracer.foreach { t =>
              val id = t.add(s"get-$n", "get", g.start, g.decoded, 0L)
              t.add(s"get-$n", "get.first_byte", g.start, g.firstByte, id)
              t.add(s"get-$n", "get.transfer", g.firstByte, g.transferred, id)
              t.add(s"get-$n", "get.decode", g.transferred, g.decoded, id)
            }
            run.admittedOf.asScala.foreach { case (b, adm) =>
              if (!run.servedAt.containsKey(b) && perBatch.getOrElse(b, 0) == adm.size &&
                  adm.forall(ids.contains))
                run.servedAt.put(b, g.decoded)
            }
          case None => run.getFailures.incrementAndGet()
        }
      }
    }, "perfbench-reader")
    producer.start(); reader.start()
    try {
      producer.join()
      val deadline = run.clock() + 60000
      while (run.clock() < deadline && door.isActive &&
             !plan.indices.forall(b => run.servedAt.containsKey(b.toLong))) Thread.sleep(20)
    } finally {
      done.set(true)
      reader.join()
    }
  }

  private def sleepUntil(run: Run, t: Double): Unit = {
    val d = t - run.clock()
    if (d > 0) Thread.sleep(d.toLong, ((d - d.toLong) * 1e6).toInt)
  }

  /** The door's callback: record verdicts, append admitted docs to the
    * served topic. */
  private def onEpoch(run: Run, store: StreamStore, epoch: Long, classified: DataFrame,
                      index: String): Unit = {
    val t0 = run.clock()
    val spanId = run.tracer.map(_.newId()).getOrElse(0L)
    val sc = classified.sparkSession.sparkContext
    if (spanId != 0) sc.setLocalProperty(Tracer.SpanKey, spanId.toString)
    try {
      val verdicts = classified.collect().map(r => r.getLong(0) -> r.getString(1))
      verdicts.foreach { case (id, s) =>
        if (run.status.putIfAbsent(id, s) != null) run.doubleClassified.add(id)
      }
      val ids = verdicts.map(_._1).toSet
      val batches = run.docsOf.asScala.collect { case (b, ds) if ds.exists(ids.contains) => b }.toSeq.sorted
      val admitted = verdicts.collect { case (id, "unique") => id }.toSet
      val rows = batches.flatMap { b =>
        val adm = run.docsOf.get(b).filter(admitted.contains)
        run.admittedOf.put(b, adm.toSet)
        adm.map(i => Row(i, run.textOf(i), b))
      }
      batches.foreach(b => run.verdictAt.putIfAbsent(b, t0))
      if (rows.nonEmpty) store.append(ServedTopic, servedSchema, rows)
      if (batches.nonEmpty) run.lag.add(epoch -> (run.produced.get - 1 - batches.max))
      IngestMetrics.outstandingDeltaGauges.filter(_._1.contains(new java.io.File(index).getName))
        .foreach(g => run.outstanding.accumulateAndGet(g._2, math.max(_, _)))
    } finally {
      if (spanId != 0) sc.setLocalProperty(Tracer.SpanKey, null)
      val t1 = run.clock()
      run.onEpochMs.put(epoch, t1 - t0)
      if (spanId != 0) run.onEpochSpans.put(epoch, (spanId, t0, t1))
    }
  }

  /** One client GET of the served topic: request, first byte, whole
    * body, Arrow decode. Returns the timing, the doc ids and the rows per
    * batch, or None on any error. */
  def get(port: Int, allocator: RootAllocator, clock: () => Double)
      : Option[(Get, Set[Long], Map[Long, Int])] = {
    val start = clock()
    try {
      val sock = new Socket()
      try {
        sock.connect(new InetSocketAddress("127.0.0.1", port), 5000)
        sock.setSoTimeout(30000)
        sock.getOutputStream.write(s"GET $ServedTopic\n".getBytes(UTF_8))
        sock.getOutputStream.flush()
        val in = sock.getInputStream
        val first = in.read()
        if (first < 0) return None
        val firstByte = clock()
        val rest = in.readAllBytes()
        val transferred = clock()
        val bytes = Array(first.toByte) ++ rest
        if (bytes.startsWith("ERR".getBytes(UTF_8))) return None
        val reader = new ArrowStreamReader(new ByteArrayInputStream(bytes), allocator)
        val ids = mutable.Set.empty[Long]
        val perBatch = mutable.Map.empty[Long, Int]
        try {
          while (reader.loadNextBatch()) {
            val root = reader.getVectorSchemaRoot
            val idv = root.getVector("doc_id").asInstanceOf[BigIntVector]
            val bv = root.getVector("batch").asInstanceOf[BigIntVector]
            (0 until root.getRowCount).foreach { i =>
              ids += idv.get(i)
              perBatch(bv.get(i)) = perBatch.getOrElse(bv.get(i), 0) + 1
            }
          }
        } finally reader.close()
        Some((Get(start, firstByte, transferred, clock(), bytes.length), ids.toSet, perBatch.toMap))
      } finally sock.close()
    } catch {
      case e: Exception =>
        Util.log(s"GET failed: ${e.getClass.getName}: ${e.getMessage}")
        None
    }
  }

  /** Per-layer metrics of the traced window. */
  private def layerMetrics(ctx: Ctx, run: Run, tracer: Tracer, store: StreamStore,
                           batches: Seq[Long], compactions: Long,
                           extra: Map[String, Double]): Seq[(String, Double, String)] = {
    val progress = tracer.progress.asScala.toSeq.map(_.progress)
      .filter(p => p.numInputRows > 0)
    val tracedEpochs = progress.map(_.batchId).toSet
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    // epoch spans, with the trigger's phases laid out in execution order
    val epochSpans = progress.map { p =>
      val trace = s"epoch-${p.batchId}"
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val id = tracer.add(trace, "epoch", start, start + dur(p, "triggerExecution"), 0L)
      var at = start
      val phaseIds = Seq("latestOffset" -> "epoch.latest_offset", "walCommit" -> "epoch.wal_commit",
        "getBatch" -> "epoch.get_batch", "queryPlanning" -> "epoch.planning",
        "addBatch" -> "epoch.add_batch", "commitOffsets" -> "epoch.commit_offsets").map { case (k, n) =>
        val d = dur(p, k)
        val sid = tracer.add(trace, n, at, at + d, id)
        at += d
        k -> sid
      }.toMap
      Option(run.onEpochSpans.get(p.batchId)).foreach { case (sid, a, b) =>
        tracer.add(trace, "on_epoch", a, b, phaseIds("addBatch"), sid)
      }
      p.batchId -> (phaseIds("addBatch"), trace)
    }.toMap
    tracer.attachSparkSpans(b => epochSpans.get(b))
    tracer.write(ctx.tracePath)
    val jobsByEpoch = tracer.jobViews.filter(j => epochSpans.contains(j.batchId)).groupBy(_.batchId)
    val addBatch = progress.map(dur(_, "addBatch"))
    val lags = run.lag.asScala.toSeq.filter(l => tracedEpochs.contains(l._1)).map(_._2.toDouble)
    val verdicts = batches.filter(run.verdictAt.containsKey).map(b => run.verdictAt.get(b) - run.due.get(b))
    val gets = run.gets.asScala.toSeq.filter(g => g.start >= batches.map(run.due.get).min)
    val statuses = batches.flatMap(b => Option(run.docsOf.get(b)).getOrElse(Nil)).flatMap(i => Option(run.status.get(i)))
    val appendMs = batches.flatMap(run.appendMs.asScala.get)
    Layers.report(ctx.perLayer, Layers.metrics(tracer, ctx.cores, extra ++ Map(
      "store.append_p50_ms" -> Util.quantileOr0(appendMs, 0.5),
      "store.append_p95_ms" -> Util.quantileOr0(appendMs, 0.95),
      "store.dropped_rows" -> store.droppedRows(RawTopic).toDouble,
      "store.bytes_max" -> run.bytesMax.get.toDouble,
      "source.latest_offset_ms" -> progress.map(dur(_, "latestOffset")).sum,
      "source.get_batch_ms" -> progress.map(dur(_, "getBatch")).sum,
      "source.lag_batches_max" -> (if (lags.isEmpty) 0.0 else lags.max),
      "stream.planning_ms" -> progress.map(dur(_, "queryPlanning")).sum,
      "stream.wal_commit_ms" -> progress.map(dur(_, "walCommit")).sum,
      "stream.commit_offsets_ms" -> progress.map(dur(_, "commitOffsets")).sum,
      "stream.epochs" -> progress.size.toDouble,
      "stream.rows_per_epoch" -> Util.mean(progress.map(_.numInputRows.toDouble)),
      "door.add_batch_p50_ms" -> Util.quantileOr0(addBatch, 0.5),
      "door.add_batch_p95_ms" -> Util.quantileOr0(addBatch, 0.95),
      "door.jobs_per_epoch" -> Util.mean(jobsByEpoch.values.map(_.size.toDouble).toSeq),
      "door.tasks_per_epoch" -> Util.mean(jobsByEpoch.values.map(_.map(_.sums.tasks).sum.toDouble).toSeq),
      "door.on_epoch_ms" -> tracedEpochs.toSeq.flatMap(run.onEpochMs.asScala.get).sum,
      "door.admit_ratio" -> (if (statuses.isEmpty) 0.0 else statuses.count(_ == "unique").toDouble / statuses.size),
      "door.compactions" -> compactions.toDouble,
      "door.outstanding_deltas_max" -> run.outstanding.get.toDouble,
      "door.verdict_p50_ms" -> Util.quantileOr0(verdicts, 0.5),
      "door.verdict_p95_ms" -> Util.quantileOr0(verdicts, 0.95),
      "serve.get_p50_ms" -> Util.quantileOr0(gets.map(g => g.decoded - g.start), 0.5),
      "serve.first_byte_ms" -> Util.quantileOr0(gets.map(g => g.firstByte - g.start), 0.5),
      "serve.transfer_ms" -> Util.quantileOr0(gets.map(g => g.transferred - g.firstByte), 0.5),
      "serve.get_bytes" -> Util.quantileOr0(gets.map(_.bytes.toDouble), 0.5),
      "client.decode_ms" -> Util.quantileOr0(gets.map(g => g.decoded - g.transferred), 0.5),
      "generator.late_p95_ms" -> Util.quantileOr0(batches.flatMap(run.lateMs.asScala.get), 0.95))),
      IdleLayers)
  }
}
