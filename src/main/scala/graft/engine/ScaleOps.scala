package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Scale machinery: skew salting and bucketed co-located joins.
  * These are the two knobs that keep shuffle-heavy plans alive at
  * 100 TB when AQE's automatic skew split / broadcast demotion isn't
  * enough (SURVEY.md §7: "salting for skew, bucketing for co-located
  * joins"). */
object ScaleOps {

  /** Salted equi-join for skewed keys: the large (skewed) side gets a
    * deterministic salt in [0, nSalts) derived from a high-cardinality
    * discriminator column; the small side is replicated once per salt
    * value. The join key becomes (key, salt), splitting each hot key's
    * rows across nSalts reducers. Result set is IDENTICAL to the
    * unsalted join (spec-asserted); cost is nSalts× replication of the
    * small side — use when one key dominates a partition, the
    * distributed alternative to a stuck straggler.
    *
    * `discriminator` must be deterministic per row (e.g. a unique id),
    * NOT rand(): retries of a failed task must salt identically or
    * shuffle retry breaks exactly-once semantics. */
  def saltedJoin(large: DataFrame, largeKey: String, discriminator: Column,
                 small: DataFrame, smallKey: String, nSalts: Int): DataFrame = {
    val saltedLarge = large.withColumn("__salt",
      pmod(xxhash64(discriminator), lit(nSalts.toLong)).cast("int"))
    val saltedSmall = small.withColumn("__salt",
      explode(array((0 until nSalts).map(lit): _*)))
    saltedLarge.join(saltedSmall,
        saltedLarge(largeKey) === saltedSmall(smallKey) &&
          saltedLarge("__salt") === saltedSmall("__salt"))
      .drop("__salt")
  }

  /** Salted two-stage aggregation for skewed group keys: stage 1
    * aggregates on (key, salt) — each hot key's rows split across
    * nSalts reducers — stage 2 merges the nSalts partials per key.
    * Only ALGEBRAIC aggregates decompose this way (sum/count/min/max
    * and anything built from them, e.g. avg = sum/count); the result
    * equals the direct groupBy — bit-exact for integer/decimal value
    * columns, up to floating-point reassociation for doubles (the
    * per-salt partials sum in a different order). Callers that need
    * exact equality aggregate a decimal-cast column, as q_salted_agg
    * does. Spark's partial aggregation already does this
    * map-side, but when a single key dominates entire PARTITIONS the
    * merge reducer for that key still becomes a straggler — salting
    * splits the reduce itself. */
  def saltedAggregate(df: DataFrame, key: String, valueCol: String,
                      discriminator: Column, nSalts: Int): DataFrame =
    df.withColumn("__salt",
        pmod(xxhash64(discriminator), lit(nSalts.toLong)).cast("int"))
      .groupBy(col(key), col("__salt"))
      .agg(sum(valueCol).as("__s"), count(lit(1)).as("__c"))
      .groupBy(col(key))
      .agg(sum("__s").as("total"), sum("__c").as("n"))

  /** Write a DataFrame as a bucketed table (hash-partitioned into
    * `nBuckets` files by `key`, sorted within buckets): two tables
    * bucketed the same way join with ZERO exchanges — the shuffle is
    * paid once at write time and amortized over every subsequent join.
    * The explicit path keeps data out of the default warehouse. */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    nBuckets: Int, key: String): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(nBuckets, key)
      .sortBy(key)
      .option("path", path)
      .saveAsTable(table)

  /** Co-located join over two same-bucketed tables. */
  def bucketedJoin(spark: SparkSession, leftTable: String,
                   rightTable: String, key: String): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), key)

  /** One bucketed copy of (lineitem, orders) per (JVM, sfDir) — table
    * prep, same memoization discipline as the ORC/partitioned copies:
    * the one-time bucketing shuffle is paid at layout time, not in
    * the timed query. */
  private val bucketPrep =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  def ensureBucketedJoinTables(s: SparkSession, d: String): (String, String) =
    bucketPrep.computeIfAbsent(d, _ => {
      val sfx = StagedPaths.suffix()
      val (lt, ot) = (s"graft_li_bkt_$sfx", s"graft_ord_bkt_$sfx")
      val base = StagedPaths.register(
        s"${System.getProperty("java.io.tmpdir")}/graft_bkt_$sfx")
      writeBucketed(Tables.lineitem(s, d)
        .select("l_orderkey", "l_extendedprice", "l_discount"),
        lt, s"$base/li", 8, "l_orderkey")
      writeBucketed(Tables.orders(s, d)
        .select("o_orderkey", "o_orderpriority"),
        ot, s"$base/ord", 8, "o_orderkey")
      (lt, ot)
    })

  /** Salted skew join as a driver-checked query: the fact side salts
    * on a per-row discriminator, the dim side replicates nSalts ways,
    * so a hot join key's rows land on nSalts reducers instead of one
    * straggler. The DuckDB oracle is the PLAIN join — identical
    * results prove salting is purely a physical rewrite. Aggregates
    * stick to count/min/max (decomposition-safe under the salt's
    * regrouping; doubles would reassociate). */
  def qSaltedJoin(s: SparkSession, d: String): DataFrame =
    saltedJoin(
      Tables.lineitem(s, d).select("l_orderkey", "l_linenumber", "l_quantity"),
      "l_orderkey",
      col("l_orderkey") * 1000 + col("l_linenumber"),
      Tables.orders(s, d).select("o_orderkey", "o_orderpriority"),
      "o_orderkey", nSalts = 4)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        min("l_quantity").cast("long").as("min_qty"),
        max("l_quantity").cast("long").as("max_qty"))
      .orderBy("o_orderpriority")

  /** Shuffle-free fact-fact join over co-bucketed tables: both sides
    * are hash-bucketed AND sorted by the join key, so the sort-merge
    * join (forced via the merge hint — at fixture scale AQE would
    * otherwise broadcast) reads both tables bucket-by-bucket with
    * ZERO exchanges and ZERO sorts before the join (asserted in
    * ScaleOpsSpec). At 100 TB this is THE join layout: the shuffle
    * paid once at ingest, amortized over every downstream join. */
  def qBucketJoin(s: SparkSession, d: String): DataFrame = {
    val (lt, ot) = ensureBucketedJoinTables(s, d)
    s.table(lt).hint("merge")
      .join(s.table(ot).hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        Tables.moneySumDisc(col("l_extendedprice"), col("l_discount")).as("_rev4"))
      .withColumn("revenue", Tables.unitsToDollarsExpr("_rev4", 100L))
      .select("o_orderpriority", "n_items", "revenue")
      .orderBy("o_orderpriority")
  }

  /** As-of join (for each left row, the latest right row with the same
    * key and rightTs ≤ leftTs), composed from built-ins per the
    * preference ladder's option (a): union both sides tagged, one
    * window pass per key ordered by (ts, side) carrying the last seen
    * right value forward, then keep left rows. ONE shuffle on the key
    * — no range-join explosion, no per-row subquery; at 100 TB this is
    * the shape a custom SparkPlan would produce anyway.
    *
    * `rightVal` is the single right-side column carried (extend by
    * struct-packing for more). Right rows at the exact left timestamp
    * match (inclusive ≥, DuckDB ASOF semantics). */
  def asOfJoin(left: DataFrame, right: DataFrame, key: String,
               leftTs: String, rightTs: String, rightVal: String): DataFrame = {
    val l = left.withColumn("__side", lit(1))
      .withColumn("__ts", col(leftTs))
      .withColumn("__val", lit(null).cast(right.schema(rightVal).dataType))
    val r = right.select(
      col(key), col(rightTs).as("__ts"),
      col(rightVal).as("__val")).withColumn("__side", lit(0))
    val unioned = l.select((left.columns.map(col) :+ col("__side") :+
      col("__ts") :+ col("__val")).toSeq: _*)
      .unionByName(r, allowMissingColumns = true)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(key)
      // right rows sort before left rows at equal ts → inclusive match
      .orderBy(col("__ts").asc, col("__side").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    unioned
      .withColumn("__asof", last("__val", ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .drop("__side", "__ts", "__val")
      .withColumnRenamed("__asof", s"asof_$rightVal")
  }

  /** Interleave the low 8 bits of a long across 16 bits (Morton
    * spread, magic-number form — three codegen'd bit ops, no loop). */
  private def spread8(v: Column): Column = {
    val a = v.bitwiseOR(shiftleft(v, 4)).bitwiseAND(lit(0x0F0FL))
    val b = a.bitwiseOR(shiftleft(a, 2)).bitwiseAND(lit(0x3333L))
    b.bitwiseOR(shiftleft(b, 1)).bitwiseAND(lit(0x5555L))
  }

  /** Z-order (Morton) layout audit: bucket two join/filter dimensions
    * to 8 bits each, interleave into a 16-bit z-value, and report the
    * per-z-range extent of BOTH dimensions. Every range covers a
    * ~32×32 tile of (orderkey, partkey) space — the property that
    * makes a z-sorted table prune parquet row groups on either
    * predicate column (the multi-dimensional upgrade of a plain sort,
    * which clusters only its leading column). At 100 TB you'd
    * `repartitionByRange(zval).sortWithinPartitions(zval)` before the
    * write; the z-value itself is pure codegen'd bit math. */
  def qZorderLayout(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val mx = li.agg((max("l_orderkey") + 1).as("mo"), (max("l_partkey") + 1).as("mp"))
    li.crossJoin(broadcast(mx))
      .withColumn("x", expr("(l_orderkey * 256) DIV mo"))
      .withColumn("y", expr("(l_partkey * 256) DIV mp"))
      .withColumn("zval", spread8(col("x"))
        .bitwiseOR(shiftleft(spread8(col("y")), 1)))
      .groupBy(expr("zval DIV 1024").as("zrange"))
      .agg(
        count(lit(1)).as("n_rows"),
        min("x").as("min_x"), max("x").as("max_x"),
        min("y").as("min_y"), max("y").as("max_y"))
      .orderBy("zrange")
  }

  /** Exact distinct counting via fixed-width bitmaps: pack user ids
    * into 32-bit bucket masks with bit_or, then popcount. The shuffle
    * carries one long per (group, id/32) bucket instead of one row
    * per distinct id — the dense-id regime where a bitmap index beats
    * both COUNT(DISTINCT)'s two-phase shuffle and HLL's error bar
    * (reference has only full scans; this is the roaring-bitmap idea
    * in its SQL-expressible fixed-width form). */
  def qBitmapDistinct(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"), expr("user_id DIV 32").as("bucket"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT)))").as("bm"))
      .groupBy("event_type")
      .agg(
        sum(bit_count(col("bm"))).cast("long").as("n_users"),
        count(lit(1)).as("n_buckets"))
      .orderBy("event_type")

  /** Bloom-filter pre-join: build a 1008-bit bloom (16 words × 63
    * usable bits, k=2 md5-derived hashes) over a bounded key set and
    * probe the full corpus against it — the broadcast-bloom pattern
    * that lets a 100 TB fact scan drop non-matching rows BEFORE the
    * join shuffle (Spark's own runtime row-group filtering, made
    * explicit and engine-replayable). The filter build is a ≤16-row
    * aggregate (broadcast twice for the two probe positions); the
    * probe is a codegen'd projection + two tiny-table joins, no
    * corpus shuffle. 63-bit words because a checked 1<<63 overflows
    * DuckDB's BIGINT shift — same layout on both engines. Emits the
    * candidate/exact/false-positive audit a capacity planner reads to
    * size m and k. */
  def qBloomJoin(s: SparkSession, d: String): DataFrame = {
    val slots = 1008L
    def h(src: Column, off: Int): Column =
      conv(substring(md5(src.cast("string")), off, 8), 16, 10)
        .cast("long") % slots
    val docs = Tables.documents(s, d)
    val pos = docs.filter(col("doc_id") < 50)
      .select(h(col("doc_id"), 1).as("p"))
      .union(docs.filter(col("doc_id") < 50)
        .select(h(col("doc_id"), 9).as("p")))
    val words = pos
      .groupBy((col("p") / 63).cast("long").as("w_idx"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(p % 63 AS INT)))")
        .as("w"))
    val probe = docs.select(col("doc_id"),
      h(col("doc_id"), 1).as("p1"), h(col("doc_id"), 9).as("p2"))
    val hit = probe
      .join(broadcast(words.toDF("w1_idx", "w1")),
        (col("p1") / 63).cast("long") === col("w1_idx"), "left")
      .join(broadcast(words.toDF("w2_idx", "w2")),
        (col("p2") / 63).cast("long") === col("w2_idx"), "left")
      .select(col("doc_id"),
        when(expr("(w1 >> CAST(p1 % 63 AS INT)) & 1 = 1") &&
             expr("(w2 >> CAST(p2 % 63 AS INT)) & 1 = 1"), 1L)
          .otherwise(0L).as("cand"))
    hit.agg(
      count(lit(1)).as("n_total"),
      sum("cand").as("n_candidates"),
      sum(when(col("doc_id") < 50, 1L).otherwise(0L)).as("n_true"),
      sum(when(col("cand") === 1 && col("doc_id") >= 50, 1L).otherwise(0L))
        .as("n_false_pos"))
      .select(col("n_total"), col("n_candidates"), col("n_true"),
        col("n_false_pos"),
        (floor(col("n_false_pos") / (col("n_total") - 50.0) * 10000 + 0.5) /
          10000).as("fp_rate"))
  }

  /** Count-min sketch (Cormode–Muthukrishnan) with d=4 rows × w=64
    * counters and md5-derived row hashes, audited against exact
    * counts for the top-20 heaviest keys. The sketch build is the
    * scale story: one pass over the stream projecting each event to d
    * (row, cell) increments, collapsed by ONE bounded aggregate to
    * d·w=256 cells — constant memory at any stream size, and the
    * 256-row sketch broadcasts to answer point queries. Estimates
    * are upper bounds (overcount ≥ 0, never under); the fixture's 150
    * users vs 64 counters forces real collisions so the audit shows
    * genuine overcounts. All-integer arithmetic: zero rounding,
    * bit-exact in any engine. */
  def qCountMin(s: SparkSession, d: String, w: Int = 64, dRows: Int = 4,
                topK: Int = 20): DataFrame = {
    def cell(r: Column, key: Column): Column =
      conv(substring(md5(concat(r.cast("string"), lit(":"),
        key.cast("string"))), 1, 8), 16, 10).cast("long") % w
    val ev = Tables.events(s, d).select("user_id")
    val cells = ev
      .select(col("user_id"),
        explode(sequence(lit(0), lit(dRows - 1))).as("r"))
      .select(col("r"), cell(col("r"), col("user_id")).as("cell"))
      .groupBy("r", "cell").agg(count(lit(1)).as("cnt"))
    val exact = ev.groupBy("user_id").agg(count(lit(1)).as("c_exact"))
      .orderBy(col("c_exact").desc, col("user_id")).limit(topK)
    exact
      .select(col("user_id"), col("c_exact"),
        explode(sequence(lit(0), lit(dRows - 1))).as("r"))
      .withColumn("cell", cell(col("r"), col("user_id")))
      .join(broadcast(cells), Seq("r", "cell"))
      .groupBy("user_id", "c_exact")
      .agg(min("cnt").as("c_est"))
      .select(col("user_id"), col("c_exact"), col("c_est"),
        (col("c_est") - col("c_exact")).as("overcount"))
      .orderBy(col("c_exact").desc, col("user_id"))
  }

  /** Join-key skew audit: for each candidate shuffle key of the fact
    * table, the per-key frequency profile that decides the physical
    * join strategy — max/avg ratio (straggler factor), the share of
    * rows on the single hottest key, and how many keys carry the top
    * decile of rows. THE pre-flight check before choosing
    * [[saltedJoin]] vs a plain shuffle at 100 TB. One
    * map-side-combined count per key column; each per-key table is
    * key-cardinality-sized, and its summary is a second tiny agg —
    * raw rows are scanned once per audited column (production audits
    * a sample). */
  def qSkewAudit(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    def profile(keyCol: String): DataFrame = {
      val counts = li.groupBy(col(keyCol).as("k"))
        .agg(count(lit(1)).as("c"))
      counts.agg(
        count(lit(1)).as("n_keys"),
        sum("c").as("n_rows"),
        max("c").as("max_cnt"))
        .select(lit(keyCol).as("key_col"),
          col("n_keys"), col("n_rows"), col("max_cnt"),
          round(col("max_cnt") * col("n_keys") / col("n_rows").cast("double"), 4)
            .as("skew_ratio"),
          round(col("max_cnt") / col("n_rows").cast("double"), 6)
            .as("top_key_share"))
    }
    profile("l_orderkey")
      .unionByName(profile("l_partkey"))
      .unionByName(profile("l_suppkey"))
      .orderBy("key_col")
  }

  /** AQE skew-join evidence, plan-REQUIRED — the mechanism a 100 TB
    * shuffle on a skewed key actually survives by, completing the
    * plan-evidence family (q_dpp_join pins DPP, q_store_runtime_prune
    * pins runtime filtering, q_join_shuffle_hash/q_bucket_join pin
    * join strategies; nothing pinned OptimizeSkewedJoin). The fixture
    * manufactures the skew [[qSkewAudit]] merely measures: ~75% of
    * lineitem rows collapse onto join key 0 (every l_orderkey not
    * divisible by 4), so one reducer partition carries 3/4 of the
    * fact table — the straggler that, unsplit, makes a 1000-executor
    * shuffle finish at the speed of one. With the skew thresholds
    * scaled to fixture size (the 256 MB production default, shrunk so
    * the sf0.01 hot partition qualifies), AQE's OptimizeSkewedJoin
    * must SPLIT that partition: the final adaptive plan is REQUIRED
    * to carry `skew=true` on the join and a skewed AQEShuffleRead —
    * a config regression that silently turns the rescue off fails the
    * query rather than passing on the straggler plan. Broadcast is
    * disabled for the query (skew handling only exists on shuffle
    * joins; at 100 TB neither side would broadcast anyway) and every
    * touched conf is restored. The oracle replays the join
    * strategy-free: splitting a partition can never change results. */
  def qSkewJoinAqe(s: SparkSession, d: String): DataFrame = {
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val saved = keys.map(k => k -> s.conf.getOption(k))
    try {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.adaptive.enabled", "true")
      s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      // AQE splits a skewed REDUCER partition by regrouping its MAPPER
      // chunks, so the join shuffle needs >1 map task to have anything
      // to regroup — the single-row-group fixture parquet scans as ONE
      // mapper, making the hot partition atomic. The upstream hash
      // repartition (by the original uniform key) gives the join
      // exchange 8 mappers; at 100 TB the fact side arrives from
      // thousands of mappers and this step is the natural state of
      // the world, not an extra shuffle.
      val fact = Tables.lineitem(s, d)
        .repartition(8, col("l_orderkey"))
        .select(
          when(col("l_orderkey") % 4 === 0, col("l_orderkey"))
            .otherwise(lit(0L)).as("k"),
          floor(col("l_extendedprice") * 100.0 + 0.5).cast("long").as("cents"))
      // dim is UNIQUE on k by construction: the surviving real keys
      // keep their own order row, the collapsed mass gets one
      // synthetic 'Z' row — no join multiplication to hide behind
      val dim = Tables.orders(s, d)
        .filter(col("o_orderkey") % 4 === 0)
        .select(col("o_orderkey").as("k"), col("o_orderstatus").as("grp"))
        .unionByName(s.range(1).select(lit(0L).as("k"), lit("Z").as("grp")))
      val df = fact.join(dim, "k")
        .groupBy("grp")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
          min("cents").as("min_cents"), max("cents").as("max_cents"))
        .orderBy("grp")
      val out = df.collect().toSeq
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("skew=true"),
        "final adaptive plan must split the skewed join partition " +
          "(OptimizeSkewedJoin), got:\n" + plan.take(3000))
      require(plan.contains("AQEShuffleRead") && plan.contains("skewed"),
        "skewed AQEShuffleRead missing from the final plan:\n" +
          plan.take(3000))
      s.createDataFrame(s.sparkContext.parallelize(out.toList), df.schema)
        .orderBy("grp")
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** DuckDB oracle for [[qSkewJoinAqe]]: the same collapsed-key join
    * replayed strategy-free — skew splitting that ever changed
    * RESULTS would break the hash. */
  val skewJoinAqeOracleSql: String =
    """WITH fact AS (SELECT CASE WHEN l_orderkey % 4 = 0 THEN l_orderkey
      |                          ELSE 0 END AS k,
      |                     CAST(FLOOR(l_extendedprice * 100.0 + 0.5)
      |                       AS BIGINT) AS cents
      |              FROM lineitem),
      |dm AS (SELECT o_orderkey AS k, o_orderstatus AS grp FROM orders
      |       WHERE o_orderkey % 4 = 0
      |       UNION ALL SELECT 0, 'Z')
      |SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(SUM(cents) AS BIGINT) AS sum_cents,
      |       CAST(MIN(cents) AS BIGINT) AS min_cents,
      |       CAST(MAX(cents) AS BIGINT) AS max_cents
      |FROM fact JOIN dm USING (k)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Small-partition compaction plan (the Iceberg/Delta `OPTIMIZE`
    * planning step): roll daily event partitions up into target-sized
    * output files by greedy date-ordered bin packing — a day lands in
    * bin floor(rows_before_it / target), so bins are contiguous date
    * ranges holding ~target rows. The plan itself is computed on the
    * per-day count table (calendar-bounded — thousands of rows for
    * years of data), so the unpartitioned cumulative window is safe;
    * the 100 TB data movement the plan drives is a partition-pruned
    * rewrite per bin, embarrassingly parallel. */
  def qCompactionPlan(s: SparkSession, d: String,
                      targetRows: Long = 20000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perDay = Tables.events(s, d)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_rows"))
    val before = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, -1)
    perDay
      .withColumn("cum_before", coalesce(sum("n_rows").over(before), lit(0L)))
      .withColumn("file_id", expr(s"cum_before DIV $targetRows"))
      .groupBy("file_id")
      .agg(count(lit(1)).as("n_days"),
        sum("n_rows").as("n_rows"),
        min("day").as("first_day"),
        max("day").as("last_day"))
      .orderBy("file_id")
  }

  /** One executed compaction per (JVM, sfDir): the before/after
    * layouts [[qCompactionExec]] measures. Table prep, memoized like
    * the bucketed/ORC copies — the rewrite is paid once per dataset,
    * the query times the measurement on the landed files. */
  private val compactPrep =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  /** EXECUTES the compaction [[qCompactionPlan]] only plans — the
    * Iceberg/Delta `OPTIMIZE` data movement itself. Lands events
    * twice: (1) the small-file "before" layout, one parquet file per
    * day (`repartition(day)` puts each day in one task, `partitionBy`
    * splits by value — exactly one file per day by construction);
    * (2) the compacted "after" layout, one file per greedy
    * date-ordered bin of ~total/8 rows (the fixture analogue of the
    * fixed 128 MB production target: a byte target keeps bin count
    * proportional to data while the day count is calendar-fixed, so
    * a corpus-relative row target reproduces the files-shrink shape
    * at every SF). The bin assignment is computed on the per-day
    * count table (calendar-bounded window), the rewrite is one
    * broadcast join + shuffle-by-bin — embarrassingly parallel at
    * 100 TB, no global sort. */
  def ensureCompactionExec(s: SparkSession, d: String): (String, String) =
    compactPrep.computeIfAbsent(d, _ => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      val small = StagedPaths.tmp("graft_compact_small")
      ev.repartition(col("day"))
        .write.mode("overwrite").partitionBy("day").parquet(small)
      val perDay = ev.groupBy("day").agg(count(lit(1)).as("n_rows"))
      val before = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
      val dayBin = perDay
        .crossJoin(broadcast(perDay.agg(sum("n_rows").as("t"))))
        .withColumn("cum_before",
          coalesce(sum("n_rows").over(before), lit(0L)))
        .withColumn("file_id",
          expr("cum_before DIV greatest(1L, (t + 7L) DIV 8L)"))
        .select("day", "file_id")
      val big = StagedPaths.tmp("graft_compact_big")
      s.read.parquet(small).withColumn("day", col("day").cast("string"))
        .join(broadcast(dayBin), "day")
        .repartition(col("file_id"))
        .write.mode("overwrite").partitionBy("file_id").parquet(big)
      (small, big)
    })

  /** Compaction-execution audit: zone-map skipping measured on the
    * PHYSICAL files of both landed layouts (zones recovered with
    * `input_file_name()` — per-file max day and row count, exactly
    * what parquet footer stats would prune on), swept over the
    * `day >= T` recency predicates a time-series scan runs. Pins the
    * full OPTIMIZE trade empirically: file count shrinks ~30→8,
    * rows are conserved through BOTH rewrites (totals hash-compared
    * against the source table via the oracle), day-aligned
    * thresholds skip identical ROWS in both layouts while mid-bin
    * thresholds skip fewer rows after compaction (bins are whole-day
    * groups — pruning granularity is the price of fewer files). The
    * oracle replays the bin packing logically from the source table,
    * so a rewrite that dropped/duplicated rows, split a bin into two
    * files, or mis-assigned a day fails the hash. */
  def qCompactionExec(s: SparkSession, d: String): DataFrame = {
    def r4(x: Column): Column = floor(x * 10000.0 + 0.5) / 10000.0
    val (small, big) = ensureCompactionExec(s, d)
    def zones(path: String): DataFrame = Tables.parquetMemo(s, path)
      .groupBy(input_file_name().as("f"))
      .agg(max(col("day").cast("string")).as("zmax"),
        count(lit(1)).as("zrows"))
    val thresh = Tables.parquetMemo(s, small)
      .select(col("day").cast("string").as("th")).distinct()
      .filter(expr("CAST(substr(th, 9, 2) AS INT) % 5 = 0"))
    def sweep(z: DataFrame, p: String): DataFrame = z
      .crossJoin(broadcast(thresh))
      .groupBy("th")
      .agg(count(lit(1)).as(s"${p}_files"),
        sum((col("zmax") < col("th")).cast("long"))
          .as(s"${p}_files_skipped"),
        sum(when(col("zmax") < col("th"), col("zrows")).otherwise(0L))
          .as(s"${p}_rows_skipped"),
        sum("zrows").as(s"${p}_rows"))
    sweep(zones(small), "before").join(sweep(zones(big), "after"), "th")
      .select(col("th").as("thresh_day"),
        col("before_files"), col("before_files_skipped"),
        col("before_rows_skipped"),
        r4(col("before_rows_skipped").cast("double") / col("before_rows"))
          .as("before_skip_ratio"),
        col("after_files"), col("after_files_skipped"),
        col("after_rows_skipped"),
        r4(col("after_rows_skipped").cast("double") / col("after_rows"))
          .as("after_skip_ratio"),
        col("before_rows").as("rows_total"),
        (col("before_rows") === col("after_rows")).cast("int")
          .as("rows_conserved"))
      .orderBy("thresh_day")
  }

  /** DuckDB oracle for [[qCompactionExec]]: the before layout's zones
    * are the per-day counts, the after layout's zones are the greedy
    * date-ordered bins replayed logically — if the executed rewrites
    * differ from this logical plan in ANY file's membership or row
    * count, the measured sweep diverges and the hash fails. */
  val compactionExecOracleSql: String =
    """WITH pd AS (
      |  SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
      |         CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM pd),
      |bins AS (
      |  SELECT day, n,
      |    CAST(COALESCE(SUM(n) OVER (ORDER BY day
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |         // GREATEST(1, (tot.t + 7) // 8) AS BIGINT) AS file_id
      |  FROM pd CROSS JOIN tot),
      |zb AS (SELECT day AS zmax, n AS zrows FROM pd),
      |za AS (SELECT MAX(day) AS zmax, CAST(SUM(n) AS BIGINT) AS zrows
      |       FROM bins GROUP BY file_id),
      |th AS (SELECT day AS th FROM pd
      |       WHERE CAST(substr(day, 9, 2) AS INTEGER) % 5 = 0),
      |sb AS (SELECT th, CAST(COUNT(*) AS BIGINT) AS before_files,
      |         CAST(SUM(CASE WHEN zmax < th THEN 1 ELSE 0 END) AS BIGINT)
      |           AS before_files_skipped,
      |         CAST(SUM(CASE WHEN zmax < th THEN zrows ELSE 0 END) AS BIGINT)
      |           AS before_rows_skipped,
      |         CAST(SUM(zrows) AS BIGINT) AS before_rows
      |       FROM zb CROSS JOIN th GROUP BY th),
      |sa AS (SELECT th, CAST(COUNT(*) AS BIGINT) AS after_files,
      |         CAST(SUM(CASE WHEN zmax < th THEN 1 ELSE 0 END) AS BIGINT)
      |           AS after_files_skipped,
      |         CAST(SUM(CASE WHEN zmax < th THEN zrows ELSE 0 END) AS BIGINT)
      |           AS after_rows_skipped,
      |         CAST(SUM(zrows) AS BIGINT) AS after_rows
      |       FROM za CROSS JOIN th GROUP BY th)
      |SELECT sb.th AS thresh_day,
      |       before_files, before_files_skipped, before_rows_skipped,
      |       FLOOR(CAST(before_rows_skipped AS DOUBLE) / before_rows
      |             * 10000.0 + 0.5) / 10000.0 AS before_skip_ratio,
      |       after_files, after_files_skipped, after_rows_skipped,
      |       FLOOR(CAST(after_rows_skipped AS DOUBLE) / after_rows
      |             * 10000.0 + 0.5) / 10000.0 AS after_skip_ratio,
      |       before_rows AS rows_total,
      |       CAST(CASE WHEN before_rows = after_rows THEN 1 ELSE 0 END
      |            AS INTEGER) AS rows_conserved
      |FROM sb JOIN sa USING (th)
      |ORDER BY thresh_day""".stripMargin

  /** ANALYZE-style catalog statistics: per (table, key column) the
    * row count, exact NDV, null count and value range — what a
    * cost-based optimizer's `ANALYZE TABLE` collects and what
    * [[qJoinCardEst]] consumes. One count-distinct aggregate per
    * column (each map-side partially aggregated); restricted to the
    * integer key columns so min/max are engine-exact without string
    * formatting. At 100 TB the NDV switches to HLL (q_hll_sketch) —
    * same report shape, bounded memory. */
  def qOptimizerStats(s: SparkSession, d: String): DataFrame = {
    def stats(tbl: String, df: DataFrame, column: String): DataFrame =
      df.agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col(column)).as("ndv"),
        sum(col(column).isNull.cast("long")).as("n_null"),
        min(col(column)).cast("long").as("min_v"),
        max(col(column)).cast("long").as("max_v"))
        .select(lit(tbl).as("table_name"), lit(column).as("column_name"),
          col("n_rows"), col("ndv"),
          coalesce(col("n_null"), lit(0L)).as("n_null"),
          col("min_v"), col("max_v"))
    val o = Tables.orders(s, d)
    val li = Tables.lineitem(s, d)
    stats("orders", o, "o_orderkey")
      .unionByName(stats("orders", o, "o_custkey"))
      .unionByName(stats("lineitem", li, "l_orderkey"))
      .unionByName(stats("lineitem", li, "l_partkey"))
      .unionByName(stats("lineitem", li, "l_suppkey"))
      .unionByName(stats("customer", Tables.customer(s, d), "c_custkey"))
      .orderBy("table_name", "column_name")
  }

  /** Incremental view maintenance audit: the daily-count "view" is
    * refreshed by MERGING yesterday's materialized aggregate with the
    * delta partition's aggregate (the lakehouse refresh pattern), and
    * the audit proves merge ≡ full recompute — count aggregates are
    * mergeable, so only the delta is ever re-scanned. All integer. */
  def qIvmAudit(s: SparkSession, d: String): DataFrame = {
    val cut = lit("2024-01-26 00:00:00").cast("timestamp")
    val day = date_format(col("ts"), "yyyy-MM-dd")
    val ev = Tables.events(s, d)
    val full = ev.groupBy(day.as("day")).agg(count(lit(1)).as("n_full"))
    val old = ev.filter(col("ts") < cut)
      .groupBy(day.as("day")).agg(count(lit(1)).as("n"))
    val delta = ev.filter(col("ts") >= cut)
      .groupBy(day.as("day")).agg(count(lit(1)).as("n"))
    val merged = old.unionByName(delta)
      .groupBy("day").agg(sum("n").as("n_merged"))
    full.join(merged, Seq("day"), "full_outer")
      .agg(count(lit(1)).as("n_days"),
        sum((coalesce(col("n_full"), lit(-1L)) =!=
          coalesce(col("n_merged"), lit(-2L))).cast("long")).as("n_mismatch"),
        sum("n_full").as("total_rows"))
  }

  /** Equi-height histogram boundaries (the CBO histogram companion to
    * [[qOptimizerStats]]): the nine decile cut points of
    * l_extendedprice, computed EXACTLY from the integer whole-dollar
    * value histogram — one map-side-combined count per distinct
    * dollar value, a cumulative window over the value-DOMAIN-bounded
    * histogram (a ~6k-row price grid, not the fact table — CBO cut
    * points don't need sub-dollar precision, and the coarse grid is
    * what keeps the single-partition cumsum safe at any row count),
    * then a min-per-threshold pick. The definition (smallest value whose
    * cumulative count reaches ⌈n·d/10⌉) is pure integer arithmetic,
    * so both engines cut identically — the same histogram-first trick
    * q_winsorize uses. */
  def qEquiheightHist(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = Tables.lineitem(s, d)
      .groupBy(floor(col("l_extendedprice")).cast("long").as("c"))
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.orderBy("c")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    val cum = hist
      .withColumn("cum", sum("cnt").over(wCum))
      .withColumn("n", sum("cnt").over(wAll))
    cum
      .select(col("c"), col("cum"),
        explode(expr("sequence(1, 9)")).as("decile"), col("n"))
      .filter(col("cum") >= expr("(n * decile + 9) DIV 10"))
      .groupBy("decile")
      .agg(min("c").as("bc"))
      .select(col("decile").cast("long").as("decile"),
        col("bc").as("boundary_dollars"))
      .orderBy("decile")
  }

  /** Mergeable quantile sketch — the distributed-quantile pattern
    * that completes the sketch family (Count-Min counts, HLL
    * cardinality, Bloom membership; this adds RANKS): every shard
    * summarizes its rows into a 256-bin equal-width integer histogram
    * over the global cents domain, the 8 shard sketches MERGE by
    * plain bin-wise addition (count histograms merge losslessly —
    * the property GK/t-digest approximate and the reason a 100 TB
    * ANALYZE ships 256 longs per executor instead of sorting
    * anything), and each decile is estimated as the first bin whose
    * cumulative count reaches the target rank. The audit pins the
    * sketch's defining guarantee per decile: the EXACT quantile
    * (value-domain-histogram discipline, q_equiheight_hist) must lie
    * INSIDE the estimated bin — `inside_bin` is 1 by construction
    * unless binning, sharding, or the merge is broken, and the
    * rank-error bound is the reported max bin load. Plan shape: one
    * fact pass into a (shard × 256)-row aggregate (map-side
    * combined), a 256-row merge, and the value-domain exact table —
    * nothing corpus-sized past the first aggregate.
    *
    * Deliberately INDEPENDENT of the native SQL aggregate
    * ([[qQuantileSketchSql]] / graft_quantile_sketch): this relational
    * build IS the differential for the native code — the two keys
    * construct the same histogram through disjoint implementations
    * (DataFrame groupBy arithmetic here; a TypedImperativeAggregate's
    * update/merge/serialize protocol there), so a bug in either one
    * breaks exactly one hash. Folding this query onto the aggregate
    * would collapse the two implementations into one and erase that
    * cross-check. */
  def qQuantileSketch(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nBins = 256
    // Shard assignment is OUTPUT-INVARIANT: everything reported reads
    // the bin-wise MERGED histogram (and the exact value-domain path),
    // which is the same for any row→shard map — that merge-erases-
    // sharding property is the query's point. So the Spark side uses
    // codegen-native xxhash64 instead of the md5+conv+substring string
    // pipeline (guide step 4: built-in expressions on the per-row hot
    // path); the oracle keeps its md5 shards and the hashes still
    // match because neither engine's output depends on the shard map.
    val cents = Tables.lineitem(s, d).select(
      floor(col("l_extendedprice") * 100.0 + 0.5).cast("long").as("c"),
      pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(8L))
        .as("shard"))
    // dom is ONE row but is broadcast at three places (binning, the
    // sketch cumsum, the exact path) — each broadcast re-ran the full
    // lineitem min/max/count scan; materialize it once (r15: 7
    // lineitem scans -> 3 together with the merged checkpoint below)
    val dom = cents.agg(min("c").as("lo"), max("c").as("hi"),
      count(lit(1)).as("n"))
      .localCheckpoint(true)
    val binned = cents.crossJoin(broadcast(dom))
      .select(col("shard"),
        expr("(c - lo) * 256 DIV (hi - lo + 1)").as("bin"))
    val shardHist = binned.groupBy("shard", "bin")
      .agg(count(lit(1)).as("cnt"))
    // ≤ 256 rows, referenced by the cumsum AND the rank-error bound —
    // without the checkpoint the whole shard-histogram pipeline (and
    // its lineitem scan) re-ran for maxLoad
    val merged = shardHist.groupBy("bin").agg(sum("cnt").as("cnt"))
      .localCheckpoint(true)
    val wCum = Window.orderBy("bin") // ≤ 256 rows by construction
    val cum = merged
      .withColumn("cum", sum("cnt").over(wCum))
      .crossJoin(broadcast(dom))
    val est = cum
      .select(col("bin"), col("cum"), col("lo"), col("hi"), col("n"),
        explode(expr("sequence(1, 9)")).as("p"))
      .filter(col("cum") >= expr("(n * p + 9) DIV 10"))
      .groupBy("p")
      .agg(min("bin").as("bin_id"), first("lo").as("lo"),
        first("hi").as("hi"), first("n").as("n"))
      // bin bounds must exactly INVERT the binning map (c-lo)*256 DIV W:
      // bin b holds offsets [ceil(b*W/256), ceil((b+1)*W/256) - 1], so
      // both edges use ceiling division. Floor on the high edge (the
      // round-9 shape) left the topmost cent of almost every bin outside
      // its computed bounds whenever W % 256 != 0 — an exact decile
      // landing there read inside_bin = 0 with no sketch bug, making the
      // "1 by construction" claim non-structural. Now it is structural.
      .select(col("p"),
        expr("(n * p + 9) DIV 10").as("target_rank"),
        col("bin_id"),
        expr("lo + (bin_id * (hi - lo + 1) + 255) DIV 256").as("bin_lo_cents"),
        expr("lo + ((bin_id + 1) * (hi - lo + 1) + 255) DIV 256 - 1")
          .as("bin_hi_cents"))
    // exact deciles from the value-domain histogram (bounded cumsum)
    val vals = Tables.lineitem(s, d)
      .groupBy(floor(col("l_extendedprice") * 100.0 + 0.5).cast("long")
        .as("c"))
      .agg(count(lit(1)).as("cnt"))
    val wVal = Window.orderBy("c")
    // total row count comes from the already-computed dom broadcast
    // (n ≡ Σ cnt); the old second window (unbounded-both over the
    // whole single-partition value domain) was a full extra pass
    val exact = vals
      .withColumn("cum", sum("cnt").over(wVal))
      .crossJoin(broadcast(dom.select("n")))
      .select(col("c"), col("cum"),
        explode(expr("sequence(1, 9)")).as("p"), col("n"))
      .filter(col("cum") >= expr("(n * p + 9) DIV 10"))
      .groupBy("p").agg(min("c").as("exact_cents"))
    val maxLoad = merged.agg(max("cnt").as("rank_err_bound"))
    est.join(exact, "p")
      .crossJoin(broadcast(maxLoad))
      .select(col("p").cast("long").as("p"), col("target_rank"),
        col("bin_id"), col("bin_lo_cents"), col("bin_hi_cents"),
        col("exact_cents"), col("rank_err_bound"),
        (col("exact_cents").between(col("bin_lo_cents"),
          col("bin_hi_cents"))).cast("int").as("inside_bin"))
      .orderBy("p")
  }

  /** DuckDB oracle for [[qQuantileSketch]]: md5 shards (any shard map
    * merges to the same histogram — see the shard note in the query),
    * same integer binning, bin-wise merge, exact value-domain deciles. */
  val quantileSketchOracleSql: String =
    """WITH cents AS (SELECT
      |    CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS c,
      |    ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || ':' ||
      |                        CAST(l_linenumber AS VARCHAR)), 1, 8))::BIGINT
      |      % 8 AS shard
      |  FROM lineitem),
      |dom AS (SELECT MIN(c) AS lo, MAX(c) AS hi,
      |               CAST(COUNT(*) AS BIGINT) AS n FROM cents),
      |sh AS (SELECT shard, (c - lo) * 256 // (hi - lo + 1) AS bin,
      |              CAST(COUNT(*) AS BIGINT) AS cnt
      |       FROM cents CROSS JOIN dom GROUP BY 1, 2),
      |mg AS (SELECT bin, CAST(SUM(cnt) AS BIGINT) AS cnt
      |       FROM sh GROUP BY 1),
      |cm AS (SELECT bin, cnt,
      |         CAST(SUM(cnt) OVER (ORDER BY bin) AS BIGINT) AS cum
      |       FROM mg),
      |est AS (SELECT p, MIN(bin) AS bin_id FROM cm
      |        CROSS JOIN (SELECT UNNEST(range(1, 10)) AS p)
      |        CROSS JOIN dom
      |        WHERE cum >= (n * p + 9) // 10
      |        GROUP BY p),
      |vals AS (SELECT CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT)
      |           AS c, CAST(COUNT(*) AS BIGINT) AS cnt
      |         FROM lineitem GROUP BY 1),
      |vc AS (SELECT c, CAST(SUM(cnt) OVER (ORDER BY c) AS BIGINT) AS cum
      |       FROM vals),
      |ex AS (SELECT p, MIN(c) AS exact_cents FROM vc
      |       CROSS JOIN (SELECT UNNEST(range(1, 10)) AS p)
      |       CROSS JOIN dom
      |       WHERE cum >= (n * p + 9) // 10
      |       GROUP BY p),
      |ml AS (SELECT CAST(MAX(cnt) AS BIGINT) AS rank_err_bound FROM mg)
      |SELECT CAST(p AS BIGINT) AS p,
      |       CAST((n * p + 9) // 10 AS BIGINT) AS target_rank,
      |       bin_id,
      |       CAST(lo + (bin_id * (hi - lo + 1) + 255) // 256 AS BIGINT)
      |         AS bin_lo_cents,
      |       CAST(lo + ((bin_id + 1) * (hi - lo + 1) + 255) // 256 - 1 AS BIGINT)
      |         AS bin_hi_cents,
      |       exact_cents, rank_err_bound,
      |       CAST(CASE WHEN exact_cents BETWEEN
      |              lo + (bin_id * (hi - lo + 1) + 255) // 256 AND
      |              lo + ((bin_id + 1) * (hi - lo + 1) + 255) // 256 - 1
      |            THEN 1 ELSE 0 END AS INTEGER) AS inside_bin
      |FROM est JOIN ex USING (p) CROSS JOIN dom CROSS JOIN ml
      |ORDER BY p""".stripMargin

  /** The quantile-sketch discipline as a REUSABLE SQL aggregate —
    * [[graft.expressions.QuantileSketch]] invoked through `spark.sql`
    * TEXT (the q_sql_native pattern): per-shard sketches come from a
    * GROUPed `graft_quantile_sketch(c, lo, hi)` call, the SQL-visible
    * merge is plain bin-wise addition over the posexploded arrays
    * (the losslessness that lets a 100 TB ANALYZE ship 256 longs per
    * executor), and the deciles + inside-bin audit replay
    * [[qQuantileSketch]]'s guarantee on the merged histogram — with
    * the ceiling bin bounds that exactly tile the binning map, so
    * inside_bin = 1 is structural, not coincidental. The DuckDB
    * oracle rebuilds the same histogram relationally: any binning,
    * clamping, partial-aggregation, or merge bug in the native
    * aggregate shifts a count, moves a cum, and breaks the hash. */
  def qQuantileSketchSql(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("graft_li_sketch")
    // r15 note: a checkpointed-temp-view restructure (dom/merged
    // materialized once; 8 lineitem scans -> 3) was MEASURED SLOWER
    // (1.61 -> 1.91 s on a faster host) — the three serialized eager
    // executions cost more than the cheap column-pruned re-scans they
    // saved. The all-in-one form stays.
    s.sql(
      """WITH cents AS (
        |  SELECT CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS c,
        |         pmod(xxhash64(l_orderkey, l_linenumber), 8L) AS shard
        |  FROM graft_li_sketch),
        |dom AS (SELECT MIN(c) AS lo, MAX(c) AS hi,
        |               CAST(COUNT(*) AS BIGINT) AS n FROM cents),
        |shard_sk AS (
        |  SELECT shard, graft_quantile_sketch(c, lo, hi) AS bins
        |  FROM cents CROSS JOIN dom GROUP BY shard),
        |merged AS (
        |  SELECT pos AS bin, CAST(SUM(cnt) AS BIGINT) AS cnt
        |  FROM shard_sk LATERAL VIEW posexplode(bins) t AS pos, cnt
        |  GROUP BY pos),
        |cm AS (SELECT bin, cnt,
        |              SUM(cnt) OVER (ORDER BY bin) AS cum FROM merged),
        |est AS (
        |  SELECT p, MIN(bin) AS bin_id
        |  FROM cm CROSS JOIN (SELECT explode(sequence(1, 9)) AS p) ps
        |  CROSS JOIN dom
        |  WHERE cum >= (n * p + 9) DIV 10
        |  GROUP BY p),
        |vals AS (SELECT CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT)
        |           AS c, CAST(COUNT(*) AS BIGINT) AS cnt
        |         FROM graft_li_sketch GROUP BY 1),
        |vc AS (SELECT c, SUM(cnt) OVER (ORDER BY c) AS cum FROM vals),
        |ex AS (SELECT p, MIN(c) AS exact_cents
        |       FROM vc CROSS JOIN (SELECT explode(sequence(1, 9)) AS p) ps
        |       CROSS JOIN dom
        |       WHERE cum >= (n * p + 9) DIV 10
        |       GROUP BY p)
        |SELECT CAST(p AS BIGINT) AS p,
        |       CAST((n * p + 9) DIV 10 AS BIGINT) AS target_rank,
        |       CAST(bin_id AS BIGINT) AS bin_id,
        |       (SELECT cnt FROM merged m WHERE m.bin = est.bin_id) AS bin_cnt,
        |       lo + (bin_id * (hi - lo + 1) + 255) DIV 256 AS bin_lo_cents,
        |       lo + ((bin_id + 1) * (hi - lo + 1) + 255) DIV 256 - 1
        |         AS bin_hi_cents,
        |       exact_cents,
        |       CAST(CASE WHEN exact_cents BETWEEN
        |              lo + (bin_id * (hi - lo + 1) + 255) DIV 256 AND
        |              lo + ((bin_id + 1) * (hi - lo + 1) + 255) DIV 256 - 1
        |            THEN 1 ELSE 0 END AS INT) AS inside_bin
        |FROM est JOIN ex USING (p) CROSS JOIN dom
        |ORDER BY p""".stripMargin)
  }

  /** DuckDB oracle for [[qQuantileSketchSql]]: the histogram the
    * native aggregate builds, rebuilt relationally — shard-free
    * (grouping cannot change a bin-wise sum, so the shard axis drops
    * out; the Spark side's xxhash64 shards exist only to exercise the
    * aggregate's merge path), same binning, same ceiling bin bounds. */
  val quantileSketchSqlOracleSql: String =
    """WITH cents AS (SELECT
      |    CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS c
      |  FROM lineitem),
      |dom AS (SELECT MIN(c) AS lo, MAX(c) AS hi,
      |               CAST(COUNT(*) AS BIGINT) AS n FROM cents),
      |mg AS (SELECT (c - lo) * 256 // (hi - lo + 1) AS bin,
      |              CAST(COUNT(*) AS BIGINT) AS cnt
      |       FROM cents CROSS JOIN dom GROUP BY 1),
      |cm AS (SELECT bin, cnt,
      |         CAST(SUM(cnt) OVER (ORDER BY bin) AS BIGINT) AS cum
      |       FROM mg),
      |est AS (SELECT p, MIN(bin) AS bin_id FROM cm
      |        CROSS JOIN (SELECT UNNEST(range(1, 10)) AS p)
      |        CROSS JOIN dom
      |        WHERE cum >= (n * p + 9) // 10
      |        GROUP BY p),
      |vals AS (SELECT CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT)
      |           AS c, CAST(COUNT(*) AS BIGINT) AS cnt
      |         FROM lineitem GROUP BY 1),
      |vc AS (SELECT c, CAST(SUM(cnt) OVER (ORDER BY c) AS BIGINT) AS cum
      |       FROM vals),
      |ex AS (SELECT p, MIN(c) AS exact_cents FROM vc
      |       CROSS JOIN (SELECT UNNEST(range(1, 10)) AS p)
      |       CROSS JOIN dom
      |       WHERE cum >= (n * p + 9) // 10
      |       GROUP BY p)
      |SELECT CAST(p AS BIGINT) AS p,
      |       CAST((n * p + 9) // 10 AS BIGINT) AS target_rank,
      |       CAST(bin_id AS BIGINT) AS bin_id,
      |       (SELECT cnt FROM mg m WHERE m.bin = est.bin_id) AS bin_cnt,
      |       CAST(lo + (bin_id * (hi - lo + 1) + 255) // 256 AS BIGINT)
      |         AS bin_lo_cents,
      |       CAST(lo + ((bin_id + 1) * (hi - lo + 1) + 255) // 256 - 1
      |         AS BIGINT) AS bin_hi_cents,
      |       exact_cents,
      |       CAST(CASE WHEN exact_cents BETWEEN
      |              lo + (bin_id * (hi - lo + 1) + 255) // 256 AND
      |              lo + ((bin_id + 1) * (hi - lo + 1) + 255) // 256 - 1
      |            THEN 1 ELSE 0 END AS INTEGER) AS inside_bin
      |FROM est JOIN ex USING (p) CROSS JOIN dom
      |ORDER BY p""".stripMargin

  /** Join-cardinality estimation audit (the planner statistic behind
    * join ordering): |A ⋈ B| = Σ_k c_A(k)·c_B(k), estimated from a
    * deterministic 5% KEY sample (md5(key) % 20 — sampling KEYS, not
    * rows, keeps each sampled key's count exact, so the estimator is
    * unbiased under key-sampling) and compared against the true
    * cardinality computed from the FULL key-count tables — which
    * costs only the count-table join, never the join itself. At
    * 100 TB the count tables are key-cardinality-sized aggregates and
    * the sample cuts the estimation join 20×; the audit reports the
    * relative error that key skew induces (a hot key outside the
    * sample is exactly how such estimates go wrong — the point of
    * the audit). */
  def qJoinCardEst(s: SparkSession, d: String): DataFrame = {
    def keyCounts(df: DataFrame, key: String): DataFrame =
      df.groupBy(col(key).as("k")).agg(count(lit(1)).as("c"))
    def audit(name: String, a: DataFrame, b: DataFrame): DataFrame = {
      val joined = a.select(col("k"), col("c").as("ca"))
        .join(b.select(col("k"), col("c").as("cb")), "k")
        .select(col("k"), (col("ca") * col("cb")).as("prod"))
      // actual and sampled-estimate totals from ONE aggregate over ONE
      // pass (sum of when(sampled, prod) ≡ the filtered sum) — the
      // two-aggregate + crossJoin(broadcast) form computed the whole
      // keyCounts-join subtree twice
      joined.agg(sum("prod").as("actual_rows"),
          (sum(when(
            conv(substring(md5(col("k").cast("string")), 1, 8), 16, 10)
              .cast("long") % 20 === 0, col("prod"))) * 20).as("est_rows"))
        .select(lit(name).as("join_name"),
          coalesce(col("est_rows"), lit(0L)).as("est_rows"),
          col("actual_rows"),
          round((coalesce(col("est_rows"), lit(0L)) - col("actual_rows")) /
            col("actual_rows").cast("double"), 4).as("rel_err"))
    }
    val orders = Tables.orders(s, d)
    val li = Tables.lineitem(s, d)
    val cust = Tables.customer(s, d)
    audit("orders_lineitem_on_orderkey",
      keyCounts(orders, "o_orderkey"), keyCounts(li, "l_orderkey"))
      .unionByName(audit("customer_orders_on_custkey",
        keyCounts(cust, "c_custkey"), keyCounts(orders, "o_custkey")))
      .orderBy("join_name")
  }

  /** HyperLogLog with an SQL-replayable hash — the md5-twin upgrade
    * for the sketch family (the q_dedup_minhash_md5 pattern): the
    * production q_hll_sketch / q_agg_approx_distinct keys use Spark's
    * native xxhash sketches (declared no-oracle), while this twin
    * runs the SAME algorithm — 256 registers, trailing-zero rank,
    * harmonic mean — on md5-derived 60-bit hashes, so DuckDB can
    * replay every register EXACTLY: rank is
    * bit_count((w & −w) − 1) + 1 (the isolated lowest set bit turned
    * into a popcount — no loop, no log), the harmonic sum
    * Σ2^(−M_j) scales to the exact integer Σ2^(52−M_j), and the one
    * double division at the end is of two exactly-representable
    * values. The register table is 256 rows at any cardinality —
    * THE point of HLL at 100 TB (a groupBy-max that map-side
    * combines; merging sketches = max of registers). Reports the
    * exact count alongside for a measured relative error. */
  def qHllMd5(s: SparkSession, d: String): DataFrame = {
    def r4(x: Column): Column = floor(x * 10000.0 + 0.5) / 10000.0
    val alpha = lit(0.7213 / (1.0 + 1.079 / 256))
    val pow52 = lit(4503599627370496.0) // 2^52, exact
    val ranked = Tables.events(s, d).select(col("user_id")).distinct()
      .select(conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
        .cast("long").as("h"))
      .select((col("h") % 256).as("j"), expr("h div 256").as("w"))
      .select(col("j"),
        least(bit_count((col("w").bitwiseAND(-col("w"))) - 1) + 1, lit(52))
          .cast("long").as("r"))
    val regs = ranked.groupBy("j").agg(max("r").as("m"))
      .agg(count(lit(1)).as("n_filled"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(52 - m AS INT))"))
          .as("sum_filled_u"))
    val exact = Tables.events(s, d)
      .agg(countDistinct(col("user_id")).as("n_exact"))
    regs.crossJoin(broadcast(exact))
      // empty registers contribute 2^52 each (M = 0)
      .withColumn("harmonic_u", col("sum_filled_u") +
        (lit(256L) - col("n_filled")) * lit(4503599627370496L))
      .withColumn("raw_est", alpha * lit(65536.0) * pow52 / col("harmonic_u"))
      // Flajolet et al. 2007 small-range correction: below 2.5m with
      // empty registers, linear counting m·ln(m/V) beats the raw
      // harmonic estimate (which overestimates badly at tiny n —
      // caught by the spec before this branch existed)
      .withColumn("est",
        when(col("raw_est") <= 640.0 && col("n_filled") < 256,
          lit(256.0) * log(lit(256.0) / (lit(256L) - col("n_filled"))))
          .otherwise(col("raw_est")))
      .select(col("n_filled"), col("n_exact"),
        r4(col("est")).as("hll_estimate"),
        r4((col("est") - col("n_exact")) / col("n_exact").cast("double"))
          .as("rel_err"))
  }

  /** HLL sketch MERGE — the property HyperLogLog exists for at
    * 100 TB: per-slice sketches (here: click users vs purchase users,
    * genuinely overlapping sets) merge by REGISTER MAX into the exact
    * sketch of the union — no re-scan of either slice — and
    * inclusion–exclusion turns the three estimates into an
    * intersection estimate, the classic audience-overlap measurement
    * at sketch cost. Same md5-replayable register math as
    * [[qHllMd5]]; each tag's registers are a ≤256-row aggregate, the
    * merged tag is a second ≤256-row aggregate over those, and each
    * estimate is floor-quantized to 1e-4 BEFORE the inclusion–
    * exclusion subtraction, so est_inter is exact arithmetic on
    * 1e-4-grid rationals — engine-stable by construction. Exact
    * counts ride along for measured error. */
  def qHllUnionMd5(s: SparkSession, d: String): DataFrame = {
    def r4(x: Column): Column = floor(x * 10000.0 + 0.5) / 10000.0
    val alpha = lit(0.7213 / (1.0 + 1.079 / 256))
    val pow52 = lit(4503599627370496.0) // 2^52, exact
    val ev = Tables.events(s, d)
    // one events pass for both sketches: distinct (tag, user) with the
    // tag mapped per type ≡ the two per-type distinct branches the
    // union form scanned separately (r15)
    val tagged = ev.filter(col("event_type").isin("click", "purchase"))
      .select(when(col("event_type") === "click", lit("a"))
        .otherwise(lit("b")).as("tag"), col("user_id"))
      .distinct()
    val ranked = tagged
      .select(col("tag"),
        conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
          .cast("long").as("h"))
      .select(col("tag"), (col("h") % 256).as("j"), expr("h div 256").as("w"))
      .select(col("tag"), col("j"),
        least(bit_count((col("w").bitwiseAND(-col("w"))) - 1) + 1, lit(52))
          .cast("long").as("r"))
    val regsAB = ranked.groupBy("tag", "j").agg(max("r").as("m"))
    val regs = regsAB.unionByName(
      regsAB.groupBy("j").agg(max("m").as("m")).withColumn("tag", lit("u"))
        .select("tag", "j", "m"))
    val ests = regs.groupBy("tag")
      .agg(count(lit(1)).as("n_filled"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(52 - m AS INT))"))
          .as("sum_filled_u"))
      .withColumn("harmonic_u", col("sum_filled_u") +
        (lit(256L) - col("n_filled")) * lit(4503599627370496L))
      .withColumn("raw_est", alpha * lit(65536.0) * pow52 / col("harmonic_u"))
      .withColumn("est", r4(
        when(col("raw_est") <= 640.0 && col("n_filled") < 256,
          lit(256.0) * log(lit(256.0) / (lit(256L) - col("n_filled"))))
          .otherwise(col("raw_est"))))
      .groupBy()
      .agg(max(when(col("tag") === "a", col("est"))).as("est_a"),
        max(when(col("tag") === "b", col("est"))).as("est_b"),
        max(when(col("tag") === "u", col("est"))).as("est_union"))
      .withColumn("est_inter",
        greatest(col("est_a") + col("est_b") - col("est_union"), lit(0.0)))
    val exact = ev
      .agg(countDistinct(when(col("event_type") === "click", col("user_id")))
          .as("n_exact_a"),
        countDistinct(when(col("event_type") === "purchase", col("user_id")))
          .as("n_exact_b"),
        countDistinct(when(col("event_type").isin("click", "purchase"),
          col("user_id"))).as("n_exact_union"))
      .withColumn("n_exact_inter",
        col("n_exact_a") + col("n_exact_b") - col("n_exact_union"))
    exact.crossJoin(broadcast(ests))
      .select(col("n_exact_a"), col("n_exact_b"), col("n_exact_union"),
        col("n_exact_inter"), col("est_a"), col("est_b"),
        col("est_union"), col("est_inter"))
  }

  /** DuckDB oracle for [[qHllUnionMd5]]: the identical register
    * pipeline replayed per tag, the merged tag as a max-of-registers
    * re-aggregate, and the same quantize-then-subtract inclusion–
    * exclusion. */
  val hllUnionMd5OracleSql: String =
    """WITH tagged AS (
      |  SELECT 'a' AS tag, user_id FROM
      |    (SELECT DISTINCT user_id FROM events WHERE event_type = 'click')
      |  UNION ALL
      |  SELECT 'b' AS tag, user_id FROM
      |    (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')),
      |h AS (SELECT tag,
      |        ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
      |      FROM tagged),
      |rk AS (SELECT tag, h % 256 AS j,
      |         LEAST(bit_count(((h // 256) & -(h // 256)) - 1) + 1, 52) AS r
      |       FROM h),
      |regsab AS (SELECT tag, j, MAX(r) AS m FROM rk GROUP BY tag, j),
      |regs AS (SELECT tag, j, m FROM regsab
      |  UNION ALL
      |  SELECT 'u' AS tag, j, MAX(m) AS m FROM regsab GROUP BY j),
      |agg AS (SELECT tag, COUNT(*) AS n_filled,
      |          SUM(1::BIGINT << CAST(52 - m AS INT)) AS sum_filled_u
      |        FROM regs GROUP BY tag),
      |est AS (SELECT tag, n_filled,
      |          CAST(sum_filled_u + (256 - n_filled) * 4503599627370496 AS DOUBLE)
      |            AS harmonic_u
      |        FROM agg),
      |est2 AS (SELECT tag,
      |           (0.7213 / (1.0 + 1.079 / 256)) * 65536.0 * 4503599627370496.0
      |             / harmonic_u AS raw_est, n_filled
      |         FROM est),
      |est3 AS (SELECT tag,
      |           floor((CASE WHEN raw_est <= 640.0 AND n_filled < 256
      |                  THEN 256.0 * ln(256.0 / (256 - n_filled))
      |                  ELSE raw_est END) * 10000.0 + 0.5) / 10000.0 AS est
      |         FROM est2),
      |pivoted AS (SELECT
      |    MAX(CASE WHEN tag = 'a' THEN est END) AS est_a,
      |    MAX(CASE WHEN tag = 'b' THEN est END) AS est_b,
      |    MAX(CASE WHEN tag = 'u' THEN est END) AS est_union
      |  FROM est3),
      |exact AS (SELECT
      |    COUNT(DISTINCT CASE WHEN event_type = 'click' THEN user_id END)
      |      AS n_exact_a,
      |    COUNT(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END)
      |      AS n_exact_b,
      |    COUNT(DISTINCT CASE WHEN event_type IN ('click','purchase')
      |                   THEN user_id END) AS n_exact_union
      |  FROM events)
      |SELECT CAST(n_exact_a AS BIGINT) AS n_exact_a,
      |       CAST(n_exact_b AS BIGINT) AS n_exact_b,
      |       CAST(n_exact_union AS BIGINT) AS n_exact_union,
      |       CAST(n_exact_a + n_exact_b - n_exact_union AS BIGINT) AS n_exact_inter,
      |       est_a, est_b, est_union,
      |       GREATEST(est_a + est_b - est_union, 0.0) AS est_inter
      |FROM exact CROSS JOIN pivoted""".stripMargin

  /** Zone-map (min/max) skipping evaluation — the row-group-pruning
    * measurement behind every 100 TB layout decision (parquet
    * row-group stats, ORC stripe stats, Iceberg/Delta file stats all
    * prune on exactly this): for a sweep of `o_totalprice > C`
    * predicates, how many zones (and rows) can a scan skip when the
    * data sits in WRITE order (zone = orderkey block — price is
    * uncorrelated, min/max spans are wide, little skips) vs
    * CLUSTERED order (zone = price bucket — tight spans, nearly
    * everything below C skips). Prices quantize to exact cents so a
    * zone's max and the threshold can never disagree across engines.
    * Plan shape: two zone-cardinality aggregates (map-side
    * combinable; zone count grows with data but stays tiny next to
    * rows), a broadcast 9-row threshold grid, and a threshold-keyed
    * re-aggregate — no raw-row window, no sort, no layout rewrite. */
  def qZoneMap(s: SparkSession, d: String): DataFrame = {
    def r4(x: Column): Column = floor(x * 10000.0 + 0.5) / 10000.0
    val priced = Tables.orders(s, d).select(
      col("o_orderkey").cast("long").as("okey"),
      floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
    def zoneStats(zone: Column) = priced
      .groupBy(zone.as("zone"))
      .agg(max("cents").as("zmax"), count(lit(1)).as("zrows"))
    val grid = s.range(9).select(
      ((col("id") + 1) * 5000000L).as("thresh_cents")) // $50k .. $450k
    def skipAgg(stats: DataFrame, prefix: String) = stats
      .crossJoin(broadcast(grid))
      .groupBy("thresh_cents")
      .agg(
        count(lit(1)).as(s"${prefix}_zones"),
        sum((col("zmax") <= col("thresh_cents")).cast("long"))
          .as(s"${prefix}_zones_skipped"),
        sum(when(col("zmax") <= col("thresh_cents"), col("zrows"))
          .otherwise(lit(0L))).as(s"${prefix}_rows_skipped"),
        sum("zrows").as(s"${prefix}_rows"))
    val write = skipAgg(zoneStats(floor(col("okey") / 1000.0).cast("long")), "write")
    val clustered = skipAgg(
      zoneStats(floor(col("cents") / 2500000.0).cast("long")), "clustered")
    write.join(clustered, "thresh_cents")
      .select(col("thresh_cents"),
        col("write_zones"), col("write_zones_skipped"),
        col("write_rows_skipped"),
        r4(col("write_rows_skipped") / col("write_rows").cast("double"))
          .as("write_skip_ratio"),
        col("clustered_zones"), col("clustered_zones_skipped"),
        col("clustered_rows_skipped"),
        r4(col("clustered_rows_skipped") / col("clustered_rows").cast("double"))
          .as("clustered_skip_ratio"))
      .orderBy("thresh_cents")
  }

  /** Merkle-style bucket diff — the cross-replica table-sync
    * primitive (DynamoDB anti-entropy, Cassandra repair, Delta SHALLOW
    * CLONE verification all run this shape): both replicas hash every
    * row to an order-independent per-bucket digest (xor of md5-derived
    * row hashes — commutative, so the aggregate map-side combines and
    * never sorts), and ONLY buckets whose digests disagree need
    * row-level resync. At 100 TB that is comparing |buckets| longs
    * instead of shipping either table. The replica is derived
    * in-engine with deterministic drift (every 997th key updated,
    * every 1009th deleted), so the expected diff set is a pure
    * function of the key space and the oracle recomputes both sides'
    * digests from scratch — a hash-combine bug on either side
    * surfaces as a phantom or missing bucket. */
  def qMerkleDiff(s: SparkSession, d: String): DataFrame = {
    val a = Tables.orders(s, d).select(col("o_orderkey").cast("long").as("k"),
      floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
    val b = a.filter(col("k") % 1009 =!= 0)
      .withColumn("cents",
        when(col("k") % 997 === 0, col("cents") + 1).otherwise(col("cents")))
    def leaves(t: DataFrame) = t
      .select((col("k") % 256).as("bucket"),
        conv(substring(md5(concat_ws("|",
          col("k").cast("string"), col("cents").cast("string"))), 1, 15), 16, 10)
          .cast("long").as("h"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), bit_xor(col("h")).as("hash"))
    val la = leaves(a)
      .select(col("bucket"), col("n").as("rows_a"), col("hash").as("hash_a"))
    val lb = leaves(b)
      .select(col("bucket").as("bb"), col("n").as("rows_b"), col("hash").as("hash_b"))
    la.join(lb, col("bucket") === col("bb"), "full_outer")
      .select(coalesce(col("bucket"), col("bb")).as("bucket"),
        coalesce(col("rows_a"), lit(0L)).as("rows_a"),
        coalesce(col("rows_b"), lit(0L)).as("rows_b"),
        coalesce(col("hash_a"), lit(0L)).as("ha"),
        coalesce(col("hash_b"), lit(0L)).as("hb"))
      .filter(col("rows_a") =!= col("rows_b") || col("ha") =!= col("hb"))
      .withColumn("kind",
        when(col("rows_a") =!= col("rows_b"), lit("rowcount"))
          .otherwise(lit("content")))
      .select("bucket", "kind", "rows_a", "rows_b")
      .orderBy("bucket")
  }

  /** DuckDB oracle for [[qMerkleDiff]]: both replicas' bucket digests
    * recomputed from scratch with the same md5-xor combine. */
  val merkleDiffOracleSql: String =
    """WITH a AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
      |             CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      |           FROM orders),
      |b AS (SELECT k, CASE WHEN k % 997 = 0 THEN cents + 1 ELSE cents END AS cents
      |      FROM a WHERE k % 1009 <> 0),
      |la AS (SELECT k % 256 AS bucket, CAST(COUNT(*) AS BIGINT) AS rows_a,
      |         bit_xor(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
      |           CAST(cents AS VARCHAR)), 1, 15))::BIGINT) AS ha
      |       FROM a GROUP BY 1),
      |lb AS (SELECT k % 256 AS bucket, CAST(COUNT(*) AS BIGINT) AS rows_b,
      |         bit_xor(('0x' || substr(md5(CAST(k AS VARCHAR) || '|' ||
      |           CAST(cents AS VARCHAR)), 1, 15))::BIGINT) AS hb
      |       FROM b GROUP BY 1)
      |SELECT COALESCE(la.bucket, lb.bucket) AS bucket,
      |       CASE WHEN COALESCE(rows_a, 0) <> COALESCE(rows_b, 0)
      |            THEN 'rowcount' ELSE 'content' END AS kind,
      |       CAST(COALESCE(rows_a, 0) AS BIGINT) AS rows_a,
      |       CAST(COALESCE(rows_b, 0) AS BIGINT) AS rows_b
      |FROM la FULL OUTER JOIN lb ON la.bucket = lb.bucket
      |WHERE COALESCE(rows_a, 0) <> COALESCE(rows_b, 0)
      |   OR COALESCE(ha, 0) <> COALESCE(hb, 0)
      |ORDER BY bucket""".stripMargin

  /** One parquet copy of the lineitem rollup MV per (JVM, sfDir) —
    * the summary table [[graft.plans.MvAggregateRewrite]] redirects
    * matching aggregates to. Partial states, not results: counts,
    * min/max, exact-cents sums — each mergeable. */
  private val mvCopies =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def lineitemMv(s: SparkSession, d: String): String =
    mvCopies.computeIfAbsent(d, _ => {
      val path = StagedPaths.tmp("graft_mv_li")
      Tables.lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("mv_cnt"),
          min("l_extendedprice").as("mv_min_price"),
          max("l_extendedprice").as("mv_max_price"),
          sum(floor(col("l_extendedprice") * 100.0 + 0.5).cast("long"))
            .as("mv_sum_price_cents"))
        .write.mode("overwrite").parquet(path)
      path
    })

  /** Materialized-view rewrite as an ORACLE-GATED query: a plain
    * fact-table aggregate (the q_agg_hash shape) runs with
    * [[graft.plans.MvAggregateRewrite]] armed; the rule must redirect
    * it to the staged rollup MV (REQUIRED in the executed plan — the
    * q_dpp_join evidence discipline) and merge the MV's partial
    * states, while DuckDB computes the same answer from the BASE
    * table — the differential proves the rewrite preserves semantics
    * exactly (counts re-sum, min/max re-extremize, exact-cents sums
    * re-sum; no double re-aggregation anywhere). At 100 TB the MV is
    * |groups|-sized where the fact scan is the whole corpus. */
  def qMvRewrite(s: SparkSession, d: String): DataFrame = {
    val mvPath = lineitemMv(s, d)
    s.conf.set("graft.mv.path", mvPath)
    s.conf.set("graft.mv.base", s"$d/lineitem")
    try {
      val q = Tables.lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_rows"),
          sum(floor(col("l_extendedprice") * 100.0 + 0.5).cast("long"))
            .as("sum_price_cents"),
          min("l_extendedprice").as("min_price"),
          max("l_extendedprice").as("max_price"))
      val plan = q.queryExecution.executedPlan.toString
      require(plan.contains("graft_mv_li"),
        "MV rewrite did not fire — the executed plan still scans the fact table")
      require(!plan.contains("lineitem.parquet"),
        "MV rewrite left a fact-table scan in the plan")
      val rows = q.collect() // executes under the armed rewrite
      s.createDataFrame(s.sparkContext.parallelize(rows.toSeq), q.schema)
        .orderBy("l_returnflag", "l_linestatus")
    } finally {
      s.conf.set("graft.mv.path", "")
      s.conf.set("graft.mv.base", "")
    }
  }

  /** Run-length-encoding audit — the compression-planning measurement
    * behind every "should we sort before writing?" layout decision:
    * parquet's RLE/dictionary hybrid pays per RUN, and runs reset at
    * row-group boundaries, so the faithful model is runs-per-block,
    * not global runs. Rows land in write-order blocks
    * (l_orderkey DIV 64 ≈ a row group) and each candidate column's
    * run count is Σ over rows of "differs from the previous row in
    * this block" under ONE shared within-block total order — the
    * physical key columns first, then every measured column, so rows
    * tied on the full ordering are identical in every measured column
    * and the run count cannot depend on tie placement. The five flag
    * columns come from one window pass (block-partitioned, ≤ ~450
    * rows per partition — parallel across blocks, NO global sort),
    * melted with stack() into the per-column report. rle_ratio =
    * runs/rows is the direct "RLE pays off" signal (1.0 = every row
    * a run, incompressible; low-cardinality flags ≪ 1). */
  def qRleAudit(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate")
    val w = Window.partitionBy("blk").orderBy(ord.map(col): _*)
    val measured = Seq("l_returnflag", "l_linestatus", "l_shipdate",
      "l_quantity", "l_tax")
    // lag hoisted to its own column (evaluated once per measured
    // column in ONE shared WindowExec pass), and the per-column run
    // totals come from ONE global aggregate over the flagged rows —
    // the previous stack()-then-groupBy melted every lineitem row ×5
    // through a shuffle (plus a countDistinct expand) to compute five
    // scalars that a single map-side-combinable aggregate yields
    // directly; the 5-row report is the 1-row aggregate stacked.
    val flagged = measured.foldLeft(
      Tables.lineitem(s, d).withColumn("blk", expr("l_orderkey DIV 64"))) {
      case (df, c) => df.withColumn(s"p_$c", lag(col(c), 1).over(w))
    }
    val withFlags = measured.foldLeft(flagged) {
      case (df, c) =>
        df.withColumn(s"f_$c",
          when(col(s"p_$c").isNull || col(c) =!= col(s"p_$c"), 1L)
            .otherwise(0L))
    }
    val aggCols = Seq(count(lit(1)).as("n_rows"),
      countDistinct(col("blk")).as("n_blocks")) ++
      measured.map(c => sum(col(s"f_$c")).as(s"r_$c"))
    val one = withFlags.agg(aggCols.head, aggCols.tail: _*)
    val stacked = measured.map(c => s"'$c', r_$c").mkString(", ")
    one
      .select(expr(s"stack(${measured.size}, $stacked) AS (col_name, n_runs)"),
        col("n_rows"), col("n_blocks"))
      .select(col("col_name"), col("n_rows"), col("n_blocks"), col("n_runs"))
      .withColumn("rle_ratio",
        floor(col("n_runs").cast("double") * 10000.0 / col("n_rows") + 0.5)
          / 10000.0)
      .orderBy("col_name")
  }

  /** DuckDB oracle for [[qRleAudit]]: identical block-partitioned
    * windows under the identical total order, melted by UNION ALL. */
  lazy val rleAuditOracleSql: String = {
    val ord = "l_orderkey, l_linenumber, l_partkey, l_suppkey, " +
      "l_quantity, l_extendedprice, l_discount, l_tax, " +
      "l_returnflag, l_linestatus, l_shipdate"
    val measured = Seq("l_returnflag", "l_linestatus", "l_shipdate",
      "l_quantity", "l_tax")
    val flags = measured.map(c =>
      s"CASE WHEN LAG($c) OVER (PARTITION BY blk ORDER BY $ord) IS NULL " +
        s"OR $c <> LAG($c) OVER (PARTITION BY blk ORDER BY $ord) " +
        s"THEN 1 ELSE 0 END AS f_$c").mkString(",\n|         ")
    val arms = measured.map(c =>
      s"SELECT '$c' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows, " +
        s"CAST(COUNT(DISTINCT blk) AS BIGINT) AS n_blocks, " +
        s"CAST(SUM(f_$c) AS BIGINT) AS n_runs FROM fl")
      .mkString("\n|  UNION ALL ")
    s"""WITH b AS (SELECT *, l_orderkey // 64 AS blk FROM lineitem),
       |fl AS (
       |  SELECT blk,
       |         $flags
       |  FROM b),
       |m AS (
       |  $arms)
       |SELECT col_name, n_rows, n_blocks, n_runs,
       |       FLOOR(CAST(n_runs AS DOUBLE) * 10000.0 / n_rows + 0.5) / 10000.0
       |         AS rle_ratio
       |FROM m ORDER BY col_name""".stripMargin
  }

  /** Per-level SQL for the Hilbert xy→d walk (order = number of bit
    * levels, grid 2^order × 2^order). ONE generator feeds BOTH the
    * Spark projection chain and the DuckDB CTE chain, so the two
    * engines cannot drift on a reflection or a quadrant constant —
    * the q_geohash_encode discipline. Each level extracts the
    * quadrant bits (rx, ry), adds s²·((3rx)⊻ry) — written as the
    * CASE `rx=1 ? 3−ry : ry` because `^` means POWER in DuckDB —
    * then STRIPS the level bit (x & (s−1); the textbook C version
    * reflects unstripped coordinates and relies on masking at the
    * next `& s`, which a negative intermediate would corrupt in
    * two's-complement SQL) and applies the quadrant transform:
    * ry=0 swaps axes, rx=1 additionally reflects both within the
    * s×s subsquare. Only +,−,&,CASE — portable, codegen-friendly. */
  private[graft] def hilbertLevelSql(order: Int): Seq[(Seq[String], Seq[String])] =
    (0 until order).map { i =>
      val s = 1 << (order - 1 - i)
      val a = Seq(
        s"CASE WHEN (x$i & $s) > 0 THEN 1 ELSE 0 END AS rx$i",
        s"CASE WHEN (y$i & $s) > 0 THEN 1 ELSE 0 END AS ry$i",
        s"(x$i & ${s - 1}) AS xs$i",
        s"(y$i & ${s - 1}) AS ys$i")
      val b = Seq(
        s"(d$i + ${s.toLong * s} * (CASE WHEN rx$i = 1 THEN 3 - ry$i ELSE ry$i END)) AS d${i + 1}",
        s"(CASE WHEN ry$i = 0 THEN (CASE WHEN rx$i = 1 THEN ${s - 1} - ys$i ELSE ys$i END) ELSE xs$i END) AS x${i + 1}",
        s"(CASE WHEN ry$i = 0 THEN (CASE WHEN rx$i = 1 THEN ${s - 1} - xs$i ELSE xs$i END) ELSE ys$i END) AS y${i + 1}")
      (a, b)
    }

  /** Apply the generated Hilbert walk to a frame carrying x0/y0/d0. */
  private[graft] def hilbertApply(df: DataFrame, order: Int): DataFrame =
    hilbertLevelSql(order).foldLeft(df) { case (acc, (a, b)) =>
      acc.selectExpr("*" +: a: _*).selectExpr("*" +: b: _*)
    }

  /** Hilbert-curve layout audit — the head-to-head against
    * [[qZorderLayout]] that decides which space-filling curve a
    * 100 TB table is clustered by. Same 256×256 (orderkey, partkey)
    * bucketing; each populated CELL gets both its Morton z-value and
    * its order-8 Hilbert index (generated walk, [[hilbertLevelSql]]).
    * Two readouts per curve, both on the ≤ 65536-row distinct-cell
    * table (bounded by the GRID, not the corpus — the qSkyline
    * single-window precedent, documented):
    * (1) jump locality — Σ and max of the L1 distance between
    *     curve-consecutive populated cells, plus the share of unit
    *     steps: Hilbert's defining property is that EVERY dense step
    *     is a grid neighbor, where Morton takes diagonal leaps at
    *     every tile boundary; this is the metric that predicts scan
    *     cache behavior.
    * (2) range bboxes over DELIBERATELY unaligned 1000-cell ranges —
    *     power-of-4-aligned ranges (e.g. 1024) tile BOTH curves into
    *     perfect 32×32 squares and the comparison degenerates
    *     (measured: identical 65536 totals at DIV 1024); unaligned
    *     ranges straddle tile boundaries, where Morton's bbox blows
    *     up and Hilbert's stays compact.
    * Exact integer areas/jumps end to end. */
  def qHilbertLayout(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.lineitem(s, d)
    val mx = li.agg((max("l_orderkey") + 1).as("mo"), (max("l_partkey") + 1).as("mp"))
    val base = li.crossJoin(broadcast(mx))
      .select(expr("(l_orderkey * 256) DIV mo").as("x"),
        expr("(l_partkey * 256) DIV mp").as("y"))
      .distinct()
      .withColumn("zval", spread8(col("x"))
        .bitwiseOR(shiftleft(spread8(col("y")), 1)))
      .withColumn("x0", col("x")).withColumn("y0", col("y"))
      .withColumn("d0", lit(0L))
    val hv = hilbertApply(base, 8).withColumn("hval", col("d8"))
      .select("x", "y", "zval", "hval").localCheckpoint(true)
    // Unpartitioned windows — single-task sorts by design: the input is
    // the DISTINCT-cell table of a 256×256 grid, ≤ 65536 rows at ANY
    // corpus size (the qSkyline bounded-global-window precedent). A
    // grid-resolution bump re-evaluates this bound, not the caller.
    // BOTH curves' jump columns come from ONE pass over the cell table
    // (the second window re-sorts the already-single-partition rows —
    // no second exchange, no second job chain), both curves' jump
    // stats from ONE aggregate row, and both curves' bbox rollups
    // from ONE exploded (curve, rng) aggregate — the per-curve rollup
    // ran the window job + two aggregate passes twice.
    def jstats(j: String, sfx: String) = Seq(
      (count(col(j)) + 1L).as(s"n_cells$sfx"),
      sum(j).as(s"total_jump$sfx"),
      max(j).as(s"max_jump$sfx"),
      (floor(sum(when(col(j) === 1L, 1L).otherwise(0L))
        .cast("double") * 10000.0 / count(col(j)) + 0.5) / 10000.0)
        .as(s"unit_step_share$sfx"))
    val wh = Window.orderBy(col("hval"))
    val wz = Window.orderBy(col("zval"))
    val jaggs = jstats("jump_h", "_h") ++ jstats("jump_z", "_z")
    val jumps = hv
      .withColumn("jump_h",
        abs(col("x") - lag("x", 1).over(wh)) +
          abs(col("y") - lag("y", 1).over(wh)))
      .withColumn("jump_z",
        abs(col("x") - lag("x", 1).over(wz)) +
          abs(col("y") - lag("y", 1).over(wz)))
      .agg(jaggs.head, jaggs.tail: _*)
    val bbox = hv
      .select(explode(array(
        struct(lit("hilbert").as("curve"), expr("hval DIV 1000").as("rng")),
        struct(lit("zorder").as("curve"), expr("zval DIV 1000").as("rng"))))
        .as("cr"), col("x"), col("y"))
      .groupBy(col("cr.curve").as("curve"), col("cr.rng").as("rng"))
      .agg(min("x").as("min_x"), max("x").as("max_x"),
        min("y").as("min_y"), max("y").as("max_y"))
      .groupBy("curve")
      .agg(
        sum((col("max_x") - col("min_x") + 1L) *
          (col("max_y") - col("min_y") + 1L)).as("sum_bbox_area"),
        max((col("max_x") - col("min_x") + 1L) *
          (col("max_y") - col("min_y") + 1L)).as("max_bbox_area"))
    def pick(c: String) = when(col("curve") === "hilbert", col(s"${c}_h"))
      .otherwise(col(s"${c}_z")).as(c)
    bbox.crossJoin(broadcast(jumps))
      .select(col("curve"), pick("n_cells"), pick("total_jump"),
        pick("max_jump"), pick("unit_step_share"),
        col("sum_bbox_area"), col("max_bbox_area"))
      .orderBy("curve")
  }

  /** DuckDB oracle for [[qHilbertLayout]]: the z-value via the same
    * shift-mask spreads as q_zorder_layout's oracle and the Hilbert
    * walk via the SAME generated per-level SQL, chained as CTEs. */
  lazy val hilbertLayoutOracleSql: String = {
    val levels = hilbertLevelSql(8).zipWithIndex.map { case ((a, b), i) =>
      val prev = if (i == 0) "base" else s"h${i - 1}b"
      s"h${i}a AS (SELECT *, ${a.mkString(", ")} FROM $prev),\n" +
        s"h${i}b AS (SELECT *, ${b.mkString(", ")} FROM h${i}a)"
    }.mkString(",\n")
    def arm(curve: String, v: String): String =
      s"""  SELECT '$curve' AS curve,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM vals) AS n_cells,
         |    (SELECT CAST(SUM(jump) AS BIGINT) FROM
         |       (SELECT ABS(x - LAG(x) OVER (ORDER BY $v))
         |             + ABS(y - LAG(y) OVER (ORDER BY $v)) AS jump FROM vals)
         |     WHERE jump IS NOT NULL) AS total_jump,
         |    (SELECT CAST(MAX(jump) AS BIGINT) FROM
         |       (SELECT ABS(x - LAG(x) OVER (ORDER BY $v))
         |             + ABS(y - LAG(y) OVER (ORDER BY $v)) AS jump FROM vals)
         |     WHERE jump IS NOT NULL) AS max_jump,
         |    (SELECT FLOOR(CAST(SUM(CASE WHEN jump = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |             * 10000.0 / COUNT(*) + 0.5) / 10000.0 FROM
         |       (SELECT ABS(x - LAG(x) OVER (ORDER BY $v))
         |             + ABS(y - LAG(y) OVER (ORDER BY $v)) AS jump FROM vals)
         |     WHERE jump IS NOT NULL) AS unit_step_share,
         |    (SELECT CAST(SUM((max_x - min_x + 1) * (max_y - min_y + 1)) AS BIGINT) FROM
         |       (SELECT MIN(x) AS min_x, MAX(x) AS max_x, MIN(y) AS min_y, MAX(y) AS max_y
         |        FROM vals GROUP BY $v // 1000)) AS sum_bbox_area,
         |    (SELECT CAST(MAX((max_x - min_x + 1) * (max_y - min_y + 1)) AS BIGINT) FROM
         |       (SELECT MIN(x) AS min_x, MAX(x) AS max_x, MIN(y) AS min_y, MAX(y) AS max_y
         |        FROM vals GROUP BY $v // 1000)) AS max_bbox_area""".stripMargin
    s"""WITH mx AS (SELECT MAX(l_orderkey) + 1 AS mo, MAX(l_partkey) + 1 AS mp FROM lineitem),
       |pre AS (
       |  SELECT DISTINCT (l_orderkey * 256) // mo AS x, (l_partkey * 256) // mp AS y
       |  FROM lineitem CROSS JOIN mx),
       |sp1 AS (SELECT *, ((x | (x << 4)) & 3855) AS x1m, ((y | (y << 4)) & 3855) AS y1m FROM pre),
       |sp2 AS (SELECT *, ((x1m | (x1m << 2)) & 13107) AS x2m, ((y1m | (y1m << 2)) & 13107) AS y2m FROM sp1),
       |base AS (SELECT x, y,
       |    (((x2m | (x2m << 1)) & 21845) | ((((y2m | (y2m << 1)) & 21845)) << 1)) AS zval,
       |    x AS x0, y AS y0, CAST(0 AS BIGINT) AS d0 FROM sp2),
       |$levels,
       |vals AS (SELECT x, y, zval, d8 AS hval FROM h7b)
       |SELECT * FROM (
       |${arm("hilbert", "hval")}
       |  UNION ALL
       |${arm("zorder", "zval")})
       |ORDER BY curve""".stripMargin
  }
}
