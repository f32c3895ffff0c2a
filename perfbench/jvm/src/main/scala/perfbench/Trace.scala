package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A job as its start event described it: the span that ran it and, for
  * a streaming epoch's job, the epoch's batch id (-1 otherwise). */
final case class JobRec(parent: Long, batchId: Long, start: Double, stageIds: Seq[Int])

/** A finished job with its stages' summed task metrics. */
final case class JobView(jobId: Int, parent: Long, batchId: Long,
                         start: Double, end: Double, stages: Int, sums: TaskSums)

/** One traced interval: times are wall-clock epoch milliseconds, so the
  * benchmark's own spans line up with Spark's listener timestamps.
  * `trace` is shared by every span of one key, one epoch or one GET. */
final case class Span(id: Long, trace: String, name: String,
                      start: Double, end: Double, parent: Long) {
  def ms: Double = end - start
}

/** Summed task metrics of one stage, from `SparkListenerTaskEnd`. */
final class TaskSums {
  var tasks, idleTasks = 0L
  var runMs, cpuMs, gcMs, fetchWaitMs = 0.0
  var shuffleWrite, shuffleRead, spill, inputBytes, inputRows = 0L

  def add(o: TaskSums): Unit = {
    tasks += o.tasks; idleTasks += o.idleTasks
    runMs += o.runMs; cpuMs += o.cpuMs; gcMs += o.gcMs; fetchWaitMs += o.fetchWaitMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; inputBytes += o.inputBytes; inputRows += o.inputRows
  }
}

/** The traced run's recorder. Spans from the benchmark's own calls and
  * spans built from Spark's public listeners (jobs, stages, Catalyst
  * phases, streaming progress) stay in memory until the run ends; then
  * [[write]] writes them out and [[selfTimes]] derives each layer's
  * self time.
  *
  * A job is parented by the `perfbench.span` local property of the
  * thread that ran it (set around every traced call), or, for a job of
  * a streaming epoch, by the epoch's span. Catalyst phase spans are
  * parented by the innermost benchmark span that contains them. */
final class Tracer(spark: SparkSession) {
  @volatile private var active = false
  private val epochBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  private val ids = new AtomicLong(1)
  val spans = new ConcurrentLinkedQueue[Span]()

  def now(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6
  def newId(): Long = ids.getAndIncrement()

  def add(trace: String, name: String, start: Double, end: Double,
          parent: Long, id: Long = newId()): Long = {
    spans.add(Span(id, trace, name, start, end, parent))
    id
  }

  /** Runs `body` inside a span; jobs it starts on this thread are its
    * children. */
  def span[T](trace: String, name: String, parent: Long)(body: => T): T = {
    val id = newId()
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(Tracer.SpanKey)
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    val t0 = now()
    try body
    finally {
      add(trace, name, t0, now(), parent, id)
      sc.setLocalProperty(Tracer.SpanKey, outer)
    }
  }

  // ---- Spark listener state -------------------------------------------
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val jobEnds = new ConcurrentHashMap[Int, Double]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageTimes = new ConcurrentHashMap[Int, (Double, Double)]()
  private val stageSums = new ConcurrentHashMap[Int, TaskSums]()
  private val phases = new ConcurrentLinkedQueue[(String, Double, Double)]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
      val p = Option(e.properties)
      val parent = p.flatMap(x => Option(x.getProperty(Tracer.SpanKey)))
        .map(_.toLong).getOrElse(0L)
      val batch = p.flatMap(x => Option(x.getProperty(Tracer.BatchKey)))
        .map(_.toLong).getOrElse(-1L)
      jobs.put(e.jobId, JobRec(parent, batch, e.time.toDouble, e.stageIds))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (jobs.containsKey(e.jobId)) { jobEnds.put(e.jobId, e.time.toDouble); () }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      if (stageJob.containsKey(i.stageId))
        for (s <- i.submissionTime; c <- i.completionTime)
          stageTimes.put(i.stageId, (s.toDouble, c.toDouble))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null && stageJob.containsKey(e.stageId)) {
        val t = new TaskSums
        t.tasks = 1
        val read = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
        if (read == 0) t.idleTasks = 1
        t.runMs = m.executorRunTime.toDouble
        t.cpuMs = m.executorCpuTime / 1e6
        t.gcMs = m.jvmGCTime.toDouble
        t.fetchWaitMs = m.shuffleReadMetrics.fetchWaitTime.toDouble
        t.shuffleWrite = m.shuffleWriteMetrics.bytesWritten
        t.shuffleRead = m.shuffleReadMetrics.totalBytesRead
        t.spill = m.memoryBytesSpilled + m.diskBytesSpilled
        t.inputBytes = m.inputMetrics.bytesRead
        t.inputRows = m.inputMetrics.recordsRead
        stageSums.computeIfAbsent(e.stageId, _ => new TaskSums).synchronized {
          stageSums.get(e.stageId).add(t)
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      recordPhases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      recordPhases(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (active) { progress.add(e); () }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Catalyst phases of one query execution, as spans to be parented. */
  def recordPhases(qe: QueryExecution): Unit =
    if (active) qe.tracker.phases.foreach { case (name, p) =>
      phases.add((name, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
    }

  /** Registers the listeners, which ignore every event until
    * [[activate]]. A streaming query runs in a clone of the session and
    * sees only the query-execution listeners registered before it
    * started, so a traced stream attaches before its start. */
  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def activate(): Unit = active = true

  /** Detaches the listeners once every started job has reported its end
    * (task ends precede their job's end on the listener bus). */
  def stop(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (jobs.keySet.asScala.exists(j => !jobEnds.containsKey(j)) &&
           System.nanoTime() < deadline) Thread.sleep(20)
    active = false
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(listener)
  }

  // ---- derived records -------------------------------------------------
  def jobViews: Seq[JobView] = jobs.asScala.toSeq.sortBy(_._1).map { case (j, r) =>
    val sums = new TaskSums
    r.stageIds.foreach(s => Option(stageSums.get(s)).foreach(sums.add))
    val ran = r.stageIds.count(stageTimes.containsKey)
    JobView(j, r.parent, r.batchId, r.start,
      Option(jobEnds.get(j)).map(_.doubleValue).getOrElse(r.start), ran, sums)
  }

  /** Adds job, stage and Catalyst-phase spans under the benchmark's
    * spans; `epochSpan` maps a streaming batch id to its epoch span. */
  def attachSparkSpans(epochSpan: Long => Option[(Long, String)]): Unit = {
    val own = spans.asScala.toSeq
    val byId = own.map(s => s.id -> s).toMap
    jobViews.foreach { j =>
      val (parent, trace) =
        if (j.parent != 0 && byId.contains(j.parent)) (j.parent, byId(j.parent).trace)
        else epochSpan(j.batchId).getOrElse((0L, s"job-${j.jobId}"))
      val jid = add(trace, "job", j.start, j.end, parent)
      jobs.get(j.jobId).stageIds.foreach { s =>
        Option(stageTimes.get(s)).foreach { case (a, b) =>
          add(trace, "stage", a, b, jid)
        }
      }
    }
    // innermost containing benchmark span (shortest duration wins)
    phases.asScala.foreach { case (name, a, b) =>
      val host = own.filter(s => s.start <= a + 1 && b <= s.end + 1)
        .sortBy(_.ms).headOption
      add(host.map(_.trace).getOrElse("catalyst"), s"catalyst.$name", a, b,
        host.map(_.id).getOrElse(0L))
    }
  }

  /** Self time of every span: its duration minus the part of it that
    * its children's union covers. */
  def selfTimes(): Seq[(Span, Double)] = {
    val all = spans.asScala.toSeq
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val cover = Tracer.unionMs(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
      s -> math.max(0.0, s.ms - cover)
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.start).map { s =>
      Util.obj(Seq("id" -> s.id.toString, "trace" -> Util.str(s.trace),
        "name" -> Util.str(s.name), "start_ms" -> Util.num(s.start),
        "end_ms" -> Util.num(s.end), "parent" -> s.parent.toString))
    }
    Util.writeFile(path, lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  /** Local property Structured Streaming sets on every job of an epoch. */
  val BatchKey = "streaming.sql.batchId"

  /** Total length covered by a set of intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
