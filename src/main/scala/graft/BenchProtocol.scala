package graft

import org.apache.spark.sql.SparkSession

/** The ONE definition of everything the timing artifacts depend on
  * being identical across tools: the bench SparkSession config, the
  * pinned host-speed calibration probe, the one-time table prep, and
  * the single-query timing protocol. `Bench` (bench_full.json),
  * `tools.IsolatedBench` (BENCH_isolated.json), `tools.ScaleCliff`
  * (BENCH_sfX*.json) and `tools.PlaneDial` (BENCH_planes.json) all
  * call through here — a probe or config tweak that landed in only
  * one file would silently skew every cross-artifact comparison.
  * Comparability caveat: calibration_sec is valid WITHIN one artifact
  * across rounds at a fixed SPARK_GRAFT_CPUS (the probe's wall time
  * is core-count dependent — Bench defaults cpus=4 standalone while
  * the driver and the tools run 32); never divide one artifact's
  * numbers by a different-cpus artifact's calibration. */
object BenchProtocol {

  /** The ONE per-key entry regex for every bench artifact
    * (`bench_full.json` / `BENCH_isolated.json` / `BENCH_sfX*.json`):
    * Bench's pulse-guard prior, IsolatedBench's and ScaleCliff's
    * slowest-N selection all parse with this — a stricter copy in one
    * tool would silently exclude a mixed-case key from re-timing. */
  val KeyEntry = "\"(q_[A-Za-z0-9_]+)\":(-?[0-9.]+)".r

  /** The bench session: local[cpus], shuffle partitions = cpus, AQE
    * on, UTC, fixture parquet flags.
    *
    * spark.sql.ui.explainMode=simple (r16): AQE posts a plan-update
    * event with a fresh explain string after EVERY stage
    * materialization; in the default "formatted" mode that walk costs
    * ~50–70 ms per stage job on this driver (measured: q_funnel
    * 1.40 → 0.83 s, q_levene 1.13 → 0.75 s wall with no other
    * change), a pure diagnostic-string tax — the UI it feeds is
    * disabled here, and at cluster scale the same per-stage cost
    * lands on the driver of every short query. Plan-shape contracts
    * are untouched: the door keys assert on `executedPlan.toString`
    * and PlanDump explicitly passes FormattedMode, neither of which
    * reads this conf. Not scale-dependent — no production value
    * differs. */
  def session(cpus: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.ui.explainMode", "simple")
    .getOrCreate()

  /** The PINNED calibration workload (never change without re-pinning
    * Bench.CalibrationRef): hash 3·10⁷ longs into 3·10⁶ groups,
    * shuffle-aggregate, re-aggregate — data-independent, and the final
    * sum CONSUMES the group counts so no optimizer rule can elide the
    * aggregate. One timed run. */
  def calibrateOnce(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    spark.range(30000000L)
      .select(pmod(hash(col("id")), lit(3000000)).as("h"))
      .groupBy("h").agg(count(lit(1)).as("c"))
      .agg(sum("c")).collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Untimed warm-up + min of 3 — the calibration_sec every artifact
    * stamps. */
  def calibrate(spark: SparkSession): Double = {
    calibrateOnce(spark)
    (1 to 3).map(_ => calibrateOnce(spark)).min
  }

  /** One-time table prep at the target sf (partitioned/ORC/bucketed
    * copies some timed keys scan) — written once per dataset, so the
    * timed queries measure the read, not the sink. A failed prep is
    * reported on stderr, naming the table and the cause, and the rest
    * still runs: the keys that scan the missing copy fail on their
    * own. */
  def prepTables(spark: SparkSession, sfDir: String): Unit = {
    def prep(table: String)(body: => Any): Unit =
      try { body; () }
      catch {
        case t: Throwable =>
          Console.err.println(s"[bench] table prep '$table' failed for $sfDir: $t")
      }
    prep("partitioned events")(graft.engine.Sinks.ensurePartitionedEvents(spark, sfDir))
    prep("orc lineitem")(graft.engine.Sinks.ensureOrcLineitem(spark, sfDir))
    prep("bucketed join tables")(graft.engine.ScaleOps.ensureBucketedJoinTables(spark, sfDir))
    prep("compaction layouts")(graft.engine.ScaleOps.ensureCompactionExec(spark, sfDir))
  }

  /** Time one query run under the shared protocol: the PREVIOUS run's
    * localCheckpoint blocks are dropped before the clock starts (each
    * query pays for its own cache, none for its predecessors'), errors
    * report as -1. */
  def timeOnce(spark: SparkSession,
               fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
               sfDir: String): Double = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val t0 = System.nanoTime()
    try { fn(spark, sfDir).count() } catch { case _: Throwable => return -1.0 }
    (System.nanoTime() - t0) / 1e9
  }
}
