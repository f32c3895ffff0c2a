package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Central accessor for the driver-generated parquet fixtures
  * (TESTDATA.md). One parquet file per table under `sfDir`.
  *
  * Scale note: `spark.read.parquet` gives Catalyst a file-source
  * relation with column pruning + predicate pushdown; every query
  * downstream must keep its filters/projections expressible on
  * columns so they reach the scan (verified via `.explain` —
  * `PushedFilters`/`ReadSchema`). At 100 TB the same call reads a
  * partitioned directory tree; nothing here assumes single files.
  */
object Tables {
  /** Parquet footer schema per fixture path, inferred once per JVM —
    * CATALOG METADATA, not data (no rows are cached; every query
    * still computes from the parquet files). Measured at sf0.1:
    * schema inference costs 85–250 ms per `spark.read.parquet` call
    * vs 7–12 ms with an explicit schema, and it was the dominant
    * share of every sub-second query's DataFrame-build time. A real
    * deployment reads these tables through a catalog that stores
    * exactly this schema; the memo is that catalog. Keyed by the
    * full path (schemas differ across sf dirs); fixture files are
    * immutable within a run, and all session builders pin the same
    * parquet flags (nanosAsLong, no NTZ inference), so the inferred
    * schema is session-independent. */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val p = s"$sfDir/$name.parquet"
    val sch = schemaCache.computeIfAbsent(p, _ => spark.read.parquet(p).schema)
    spark.read.schema(sch).parquet(p)
  }

  /** The same footer-schema memo for the FLAT staged parquet copies
    * queries re-read every run (ensureBaskets / staged bigrams / …):
    * those paths are written once per JVM (computeIfAbsent memos)
    * before the first read, so their schema is as immutable as the
    * fixtures'. The doors' versioned indexes do NOT come through here:
    * their base and delta dir names change every compaction and epoch,
    * so `DeltaIndex` keeps one schema PER INDEX instead — resolved from
    * the base on first use and dropped by `resetForStaging`. Reusing it
    * is safe because the layout is fixed at staging: every delta is
    * written from the same banded/quantized row shape (partition
    * columns included), and compaction rewrites that shape unchanged. */
  def parquetMemo(spark: SparkSession, path: String): DataFrame = {
    val sch = schemaCache.computeIfAbsent(path,
      _ => spark.read.parquet(path).schema)
    spark.read.schema(sch).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** The events fixture stores `ts` as parquet TIMESTAMP(NANOS), which
    * Spark 4 refuses to read as a timestamp. Sessions set
    * `spark.sql.legacy.parquet.nanosAsLong=true`, so `ts` arrives as a
    * nanosecond long; convert to a µs timestamp with exact integer
    * division (`DIV`, not `/` — double division loses precision above
    * 2^53 ns). Truncation to µs matches DuckDB's CAST(ns AS TIMESTAMP). */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _        => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  // ---- exact money arithmetic -------------------------------------
  // Revenue-style sums Σ price·(1−disc)[·(1+tax)] have addends on a
  // 1e-4 (or 1e-6) grid (2-decimal prices × 2-decimal rates), so the
  // float sum lands SYSTEMATICALLY on the ROUND(·,2) half-boundary
  // and accumulation-order dust flips the rounding between engines /
  // partitionings (observed at sf0.1). These helpers sum EXACT
  // integer units instead — integer addition is order-independent —
  // and round to cents with integer arithmetic (`DIV`, never a
  // double division of a >2^53 long). Long capacity: ~9.2e18 ≈
  // 9e13 dollars of 1e-4 units per group (1e11 for 1e-6 units) —
  // ample for any per-group sum at bench scale; a 100 TB deployment
  // sums DECIMAL(38,0) units instead (same structure, no overflow).

  /** Σ price·(1−disc) in exact 1e-4-dollar units → dollars with exact
    * 2 decimals (column name to apply on an agg result). */
  def moneySumDisc(price: Column, disc: Column): Column =
    sum(round(price * 100).cast("long") *
      (lit(100L) - round(disc * 100).cast("long")))

  /** Σ price·(1−disc)·(1+tax) in exact 1e-6-dollar units. */
  def moneySumDiscTax(price: Column, disc: Column, tax: Column): Column =
    sum(round(price * 100).cast("long") *
      (lit(100L) - round(disc * 100).cast("long")) *
      (lit(100L) + round(tax * 100).cast("long")))

  /** Round a named integer unit-sum column to dollars:
    * (s + half) DIV units = cents (exact LONG division — a double
    * division of a >2^53 long would corrupt the low digits), then an
    * exact /100.0 of a small long. */
  def unitsToDollarsExpr(sumCol: String, unitsPerCent: Long): Column =
    expr(s"CAST((`$sumCol` + ${unitsPerCent / 2}) DIV $unitsPerCent AS DOUBLE) / 100.0")
}
