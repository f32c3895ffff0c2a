package perfbench

/** The per-layer metrics of a traced run; sums cover the traced
  * window. Their names and units are BENCHMARK.json's `per_layer`. */
object Layers {

  /** Span names whose self time is reported, as `self.<name>_ms`. */
  val SelfSpans: Seq[String] = Seq(
    "key", "build", "action", "catalyst", "job", "stage",
    "append", "epoch", "epoch.latest_offset", "epoch.get_batch",
    "epoch.planning", "epoch.add_batch", "epoch.wal_commit",
    "epoch.commit_offsets", "on_epoch", "get", "get.first_byte",
    "get.transfer", "get.decode")

  /** Derives the Spark-side layers from the tracer; `extra` carries the
    * values only the workload itself can measure. */
  def metrics(t: Tracer, cores: Int, extra: Map[String, Double]): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val spans = t.spans.asScala.toSeq
    val jobs = t.jobViews
    val sums = new TaskSums
    jobs.foreach(j => sums.add(j.sums))
    val buildIds = spans.filter(_.name == "build").map(_.id).toSet
    def phase(n: String) = spans.filter(_.name == s"catalyst.$n").map(_.ms).sum
    // scheduling residual per traced operation: the time its jobs were
    // running minus the task time the cores could have absorbed
    val jobSpans = spans.filter(_.name == "job")
    val residual = jobSpans.groupBy(_.trace).map { case (_, js) =>
      Tracer.unionMs(js.map(s => (s.start, s.end)))
    }.sum - sums.runMs / cores
    val selfTimes = t.selfTimes()
    val self = selfTimes.groupMapReduce(_._1.name)(_._2)(_ + _)
    val rootSelf = selfTimes.collect { case (s, v) if s.parent == 0 => v }.sum
    val derived = Map(
      "entry.build_ms" -> spans.filter(_.name == "build").map(_.ms).sum,
      "entry.build_jobs" -> jobs.count(j => buildIds.contains(j.parent)).toDouble,
      "catalyst.analysis_ms" -> phase("analysis"),
      "catalyst.optimization_ms" -> phase("optimization"),
      "catalyst.planning_ms" -> phase("planning"),
      "sched.jobs" -> jobs.size.toDouble,
      "sched.stages" -> jobs.map(_.stages).sum.toDouble,
      "sched.tasks" -> sums.tasks.toDouble,
      "sched.residual_ms" -> residual,
      "sched.idle_task_ratio" -> (if (sums.tasks == 0) 0.0 else sums.idleTasks.toDouble / sums.tasks),
      "task.run_ms" -> sums.runMs, "task.cpu_ms" -> sums.cpuMs, "task.gc_ms" -> sums.gcMs,
      "shuffle.write_bytes" -> sums.shuffleWrite.toDouble,
      "shuffle.read_bytes" -> sums.shuffleRead.toDouble,
      "shuffle.fetch_wait_ms" -> sums.fetchWaitMs,
      "shuffle.spill_bytes" -> sums.spill.toDouble,
      "scan.input_bytes" -> sums.inputBytes.toDouble,
      "scan.input_rows" -> sums.inputRows.toDouble,
      "trace.unattributed_ms" -> rootSelf,
      "trace.spans" -> spans.size.toDouble) ++
      SelfSpans.flatMap { s =>
        val v = if (s == "catalyst") self.filter(_._1.startsWith("catalyst.")).values.reduceOption(_ + _)
                else self.get(s)
        v.map(s"self.${s}_ms" -> _)
      }
    derived ++ extra
  }

  /** Every declared metric, in declaration order. The result format
    * asks for every name on every workload, so a metric of a layer the
    * workload leaves idle (`idle` holds name prefixes) prints 0; a
    * metric of an exercised layer must have been measured. */
  def report(declared: Seq[(String, String)], values: Map[String, Double],
             idle: Seq[String]): Seq[(String, Double, String)] =
    declared.map { case (n, u) =>
      if (idle.exists(n.startsWith)) {
        require(values.getOrElse(n, 0.0) == 0.0,
          s"$n measured ${values(n)} on a layer declared idle")
        (n, 0.0, u)
      } else (n, values.getOrElse(n,
        throw new IllegalStateException(s"per-layer metric $n was not measured")), u)
    }
}
