package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{BenchProtocol, SparkEntry}

/** The closed-loop `batch_floor` workload: one `SparkEntry.queries` key
  * at a time, each timed as its DataFrame build plus
  * [[ResultHash.consume]], and each output checked against the seed
  * code's recorded rows and hash. The key set is frozen
  * (`floor_sample` in `perfbench/classes.json`); the seed sets the
  * order. A per-seed sample of the same size spread the figures across
  * seeds by more than the bounds allow. */
object BatchWorkload {

  type Query = (SparkSession, String) => DataFrame

  /** No stream, door or server runs in a batch workload. */
  val IdleLayers: Seq[String] = Seq("store.", "source.", "stream.", "door.",
    "serve.", "client.", "generator.", "self.append", "self.epoch",
    "self.on_epoch", "self.get")

  final case class KeyRun(key: String, totalMs: Double, heapMb: Double,
                          gcMs: Double, error: Option[String])

  /** `sample` with `refSeconds` per key (warm, on the host the classes
    * were frozen on): the timed pass count is fixed from them, so every
    * run of a seed does the same work, whatever its speed. */
  def run(ctx: Ctx, sample: Seq[String], refSeconds: Map[String, Double]): Outcome = {
    val spark = ctx.spark
    val keys = new Random(ctx.seed).shuffle(sample)
    val queries = SparkEntry.queries
    keys.foreach(k => require(queries.contains(k), s"frozen key $k is not in SparkEntry.queries"))
    val passCount = math.max(1, math.round(ctx.seconds / keys.map(refSeconds).sum).toInt)
    Util.log(s"${ctx.workload}: ${keys.size} keys x $passCount passes: ${keys.mkString(",")}")

    var attempted = 0L
    var failed = 0L
    def once(key: String, tracer: Option[Tracer], pass: Int): KeyRun = {
      attempted += 1
      val r = timeKey(spark, ctx.sfDir, key, queries(key), ctx.expected, tracer, pass)
      r.error.foreach { e => failed += 1; Util.log(s"FAILED $key: $e") }
      r
    }

    // set-up: one untimed, checked pass at the target scale factor pays
    // the per-scale-factor staging memos, the table layouts the sampled
    // keys read (built on first use, so a failed build fails its key),
    // codegen and JIT
    val session = ctx.setupSeconds()
    if (ctx.checkPrep) {
      BenchProtocol.prepTables(spark, ctx.sfDir)
      Setup.verifyPreparedLayouts(spark, ctx.sfDir)
    }
    keys.foreach(k => once(k, None, 0))
    val setupS = ctx.setupSeconds()
    Util.log(f"${ctx.workload}: set-up $setupS%.1f s (session and engine warm-up $session%.1f, warm pass ${setupS - session}%.1f)")

    Jvm.resetPeak()
    val passes = (1 to passCount).map(p => keys.map(k => once(k, None, p)))
    // per key, its fastest pass: a pass that meets a busy moment of the
    // host or the JIT still compiling is slower, never faster (the same
    // min-over-passes rule as the repository's isolated bench)
    val perKey = keys.map(k => k -> passes.map(_.find(_.key == k).get.totalMs).min).toMap
    val passMs = passes.map(_.map(_.totalMs).sum)
    Util.log(f"${ctx.workload}: ${passes.size} timed passes, pass sums (s): " +
      passMs.map(v => f"${v / 1000}%.2f").mkString(" "))
    keys.foreach(k => Util.log(f"  $k%-28s " + passes.map(p => f"${p.find(_.key == k).get.totalMs}%8.1f").mkString(" ") + " ms"))

    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("op_p50_ms", Util.median(perKey.values.toSeq), "ms"),
      ("op_mean_ms", Util.mean(perKey.values.toSeq), "ms"))

    val metrics =
      if (!ctx.trace) endToEnd :+ (("retained_heap_mb", Util.median(passes.flatten.map(_.heapMb)), "MB"))
      else {
        val peak = Jvm.peakHeapMb()
        val tracer = new Tracer(spark)
        tracer.attach()
        tracer.activate()
        val traced = keys.map(k => once(k, Some(tracer), passCount + 1))
        tracer.stop()
        tracer.attachSparkSpans(_ => None)
        tracer.write(ctx.tracePath)
        // against the last untraced pass: the JIT keeps warming across
        // passes, so an earlier pass would overstate the untraced time
        val tracedMean = Util.mean(traced.map(_.totalMs))
        val untracedMean = Util.mean(passes.last.map(_.totalMs))
        Layers.report(ctx.perLayer, Layers.metrics(tracer, ctx.cores, Map(
          "trace.overhead_ms" -> (tracedMean - untracedMean),
          "trace.overhead_frac" -> (tracedMean / untracedMean - 1),
          "jvm.gc_ms" -> traced.map(_.gcMs).sum,
          "jvm.heap_peak_mb" -> peak)), IdleLayers)
      }
    Outcome(attempted, failed, failed == 0, metrics, IdleLayers)
  }

  /** One key: build, consume, check. Outside the clock, the previous
    * key's checkpoint blocks are dropped (as `BenchProtocol.timeOnce`
    * does) and the heap is collected, so each key pays for its own
    * cache and garbage, none of its predecessors'; the heap left after
    * that collection is what the JVM retains between keys. */
  def timeKey(spark: SparkSession, sfDir: String, key: String, fn: Query,
              expected: Expected, tracer: Option[Tracer], pass: Int): KeyRun = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val heapMb = Jvm.retainedHeapMb()
    val trace = s"$key#$pass"
    def traced[T](name: String, parent: Long)(body: => T): T = tracer match {
      case Some(t) => t.span(trace, name, parent)(body)
      case None => body
    }
    val gc0 = Jvm.gcMs()
    val t0 = System.nanoTime()
    try {
      val keySpan = tracer.map(_.newId()).getOrElse(0L)
      val start = tracer.map(_.now()).getOrElse(0.0)
      val df = traced("build", keySpan)(fn(spark, sfDir))
      val digest = traced("action", keySpan)(ResultHash.consume(df))
      val totalMs = (System.nanoTime() - t0) / 1e6
      tracer.foreach { t =>
        t.add(trace, "key", start, t.now(), 0L, keySpan)
        t.recordPhases(df.queryExecution)
      }
      KeyRun(key, totalMs, heapMb, Jvm.gcMs() - gc0, expected.check(key, digest))
    } catch {
      case e: Throwable =>
        KeyRun(key, (System.nanoTime() - t0) / 1e6, heapMb, Jvm.gcMs() - gc0,
          Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"))
    }
  }
}
