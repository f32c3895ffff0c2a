package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Tables._

/** Pattern- and model-mining operators: in-engine model building /
  * evaluation primitives a training-data pipeline runs next to its
  * curation queries (the reference has no analytics surface at all —
  * roar serves buffers over Flight; these are the queries its users
  * run AFTER landing the data). Every query keeps its comparisons in
  * exact integer arithmetic (cents, micro-units, integer divisions)
  * so the DuckDB differential can never flap on a float boundary. */
object MiningOps {

  private def r4(x: Column): Column = floor(x * 10000.0 + 0.5) / 10000.0

  /** Decision-stump split search: the first node of every tree
    * ensemble (CART / XGBoost root), run as a QUERY. Label =
    * returned line (l_returnflag = 'R'); feature = extended price;
    * candidate thresholds = the whole-$1000 grid, so the corpus-sized
    * pass is ONE map-side-combinable aggregate onto ~105 grid cells
    * and the split scan (prefix sums + scoring) lives on the bounded
    * grid. Split quality is the Gini purity gain numerator
    * (pos²+neg²)/n per side, scaled ×1e6 and computed with INTEGER
    * division — both engines agree bit-for-bit, so `is_best` (the
    * argmax marker) is deterministic. At 100 TB the grid aggregate is
    * the only full pass — exactly how distributed GBT implementations
    * (e.g. Spark MLlib's own trees) do split finding with histogram
    * bins. */
  def qDecisionStump(s: SparkSession, d: String): DataFrame = {
    val grid = lineitem(s, d)
      .select(
        floor(col("l_extendedprice") * 100.0 + 0.5).cast("long").as("cents"),
        (col("l_returnflag") === "R").cast("long").as("pos"))
      .select(expr("cents DIV 100000").as("bucket"), col("pos"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum("pos").as("p"))
    val w = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = grid.agg(sum("n").as("nt"), sum("p").as("pt"))
    val scored = grid
      .withColumn("n_l", sum("n").over(w))
      .withColumn("pos_l", sum("p").over(w))
      .crossJoin(broadcast(tot))
      .withColumn("n_r", col("nt") - col("n_l"))
      .withColumn("pos_r", col("pt") - col("pos_l"))
      .filter(col("n_r") > 0L) // rightmost bucket splits nothing off
      .withColumn("neg_l", col("n_l") - col("pos_l"))
      .withColumn("neg_r", col("n_r") - col("pos_r"))
      .withColumn("purity_score",
        expr("(pos_l * pos_l + neg_l * neg_l) * 1000000L DIV n_l") +
          expr("(pos_r * pos_r + neg_r * neg_r) * 1000000L DIV n_r"))
    scored
      .withColumn("is_best",
        col("purity_score") === max("purity_score").over(
          Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(
        ((col("bucket") + 1L) * 1000L).as("threshold_dollars"),
        col("n_l"), col("pos_l"), col("n_r"), col("pos_r"),
        col("purity_score"), col("is_best"))
      .orderBy("threshold_dollars")
  }

  /** Per-user events capped to the first [[MkMaxEvents]] by
    * (ts, event_id) with exact integer cents — shared input of the
    * Mann-Kendall test. The cap is the standard sequence-mining skew
    * valve: pair enumeration is C(n,2) per user, so a pathological
    * hot user is bounded at C(64,2) = 2016 pairs. */
  private def cappedSeq(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        unix_micros(col("ts")).as("us"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("c"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= MkMaxEvents)
      // every consumer (Mann-Kendall, Kendall τ, Theil–Sen) reads it
      // twice (S statistic + tie counts) — one events window pass per
      // query instead of two (r15)
      .localCheckpoint(true)
  }

  val MkMaxEvents = 64

  /** Mann-Kendall trend test per user (the nonparametric "is this
    * metric drifting" monitor): S = Σ_{i<j} sign(v_j − v_i) over the
    * time-ordered value sequence — an EXACT INTEGER, computed from a
    * per-user array with higher-order functions (collect bounded by
    * [[MkMaxEvents]], ≤2016 sign terms map-side, zero shuffle beyond
    * the user groupBy). The variance carries the full tie correction
    * (Σ t(t−1)(2t+5) from the per-value tie counts), kept ×18 as an
    * integer; only the final continuity-corrected z touches floats.
    * Kendall's S doubles as the τ numerator, so this is also the
    * rank-correlation-with-time query. */
  def qMannKendall(s: SparkSession, d: String): DataFrame = {
    val seq = cappedSeq(s, d)
    val sStat = seq
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("rn"), col("c")))).as("a"))
      .select(col("user_id"),
        expr("transform(a, x -> x.c)").as("v"),
        size(col("a")).cast("long").as("n"))
      .filter(col("n") >= 10L)
      .withColumn("s_stat", expr(
        "aggregate(flatten(transform(sequence(0, CAST(n AS INT) - 2), " +
          "i -> transform(sequence(i + 1, CAST(n AS INT) - 1), " +
          "j -> CAST(sign(v[j] - v[i]) AS BIGINT)))), " +
          "CAST(0 AS BIGINT), (acc, x) -> acc + x)"))
      .select("user_id", "n", "s_stat")
    val ties = seq.groupBy("user_id", "c").agg(count(lit(1)).as("t"))
      .groupBy("user_id")
      .agg(sum(expr("t * (t - 1) * (2 * t + 5)")).as("tie18"))
    sStat.join(ties, "user_id")
      .withColumn("var18",
        expr("n * (n - 1) * (2 * n + 5)") - col("tie18"))
      .filter(col("var18") > 0L)
      .withColumn("z_mk",
        when(col("s_stat") > 0L,
          r4((col("s_stat") - 1L) / sqrt(col("var18") / lit(18.0))))
          .when(col("s_stat") < 0L,
            r4((col("s_stat") + 1L) / sqrt(col("var18") / lit(18.0))))
          .otherwise(lit(0.0)))
      .select("user_id", "n", "s_stat", "var18", "z_mk")
      .orderBy("user_id")
  }

  /** Kendall τ-b of value vs time per user — the NORMALIZED form of
    * [[qMannKendall]]'s S (S alone grows with n; τ-b ∈ [−1,1] is
    * comparable across users). Time order is tie-free by the
    * (ts, event_id) total order, so τ-b = S / √(n0·(n0 − n2)) with
    * n0 = C(n,2) and n2 = Σ t(t−1)/2 the value-tie pairs — every
    * input an exact integer under the same [[MkMaxEvents]] valve;
    * only the final sqrt-division touches floats (identical IEEE on
    * identical inputs, floor-rounded 6dp). */
  def qKendallTau(s: SparkSession, d: String): DataFrame = {
    val seq = cappedSeq(s, d)
    val sStat = seq
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("rn"), col("c")))).as("a"))
      .select(col("user_id"),
        expr("transform(a, x -> x.c)").as("v"),
        size(col("a")).cast("long").as("n"))
      .filter(col("n") >= 10L)
      .withColumn("s_stat", expr(
        "aggregate(flatten(transform(sequence(0, CAST(n AS INT) - 2), " +
          "i -> transform(sequence(i + 1, CAST(n AS INT) - 1), " +
          "j -> CAST(sign(v[j] - v[i]) AS BIGINT)))), " +
          "CAST(0 AS BIGINT), (acc, x) -> acc + x)"))
      .select("user_id", "n", "s_stat")
    val ties = seq.groupBy("user_id", "c").agg(count(lit(1)).as("t"))
      .groupBy("user_id")
      .agg(sum(expr("t * (t - 1) DIV 2")).as("n2"))
    sStat.join(ties, "user_id")
      .withColumn("n0", expr("n * (n - 1) DIV 2"))
      .filter(col("n0") > col("n2"))
      .select(col("user_id"), col("n"), col("s_stat"), col("n0"), col("n2"),
        (floor(col("s_stat")
          / sqrt((col("n0") * (col("n0") - col("n2"))).cast("double"))
          * 1e6 + 0.5) / 1e6).as("tau_b"))
      .orderBy("user_id")
  }

  /** Theil-Sen robust trend slope per user — the median of all
    * pairwise slopes, the estimator that shrugs off the outliers that
    * wreck least-squares ([[qMannKendall]] is its significance test;
    * together they are the standard robust-trend pair). Slopes are
    * exact rationals (integer cent deltas over integer µs deltas,
    * the [[MkMaxEvents]] cap bounding the C(n,2) fan-out per user);
    * the median element is selected by row_number under a total
    * order (slope, num, den) so both engines pick the IDENTICAL
    * pair, then report its exact integer numerator/denominator
    * alongside the rounded cents-per-hour slope. */
  /** RANSAC line fit (Fischler & Bolles 1981) — the robust estimator
    * that tolerates arbitrary outlier fractions where Theil–Sen's
    * breakdown stops at 29%: sample a 2-point model per trial, count
    * inliers within a residual tolerance, keep the trial with the
    * largest consensus set. Trials are md5-seeded from the trial id
    * (reproducible, oracle-replayable); the day table the points come
    * from is CALENDAR-bounded (~2.4k rows for 7 years — the qSkyline
    * precedent for its unpartitioned row_number), so model selection
    * is tiny and the corpus-scaled work is only the daily aggregate.
    * The inlier test is the division-free cross-multiplied form
    * |(y−y₁)(x₂−x₁) − (y₂−y₁)(x−x₁)| ≤ tol·|x₂−x₁| — exact integer
    * arithmetic end to end, no slope division anywhere. */
  def qRansacLine(s: SparkSession, d: String, nTrials: Int = 16,
                  tol: Long = 10L): DataFrame = {
    val days = orders(s, d)
      .groupBy(datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long").as("x"))
      .agg(count(lit(1)).as("y"))
    // calendar-bounded index (≤ ~2.4k rows): safe unpartitioned window
    val idx = days
      .withColumn("rn", row_number().over(Window.orderBy("x")) - 1)
      .localCheckpoint(true) // feeds the count, two point joins, and the scan
    val nd = idx.agg(count(lit(1)).as("nd"))
    val tr = s.range(nTrials).select(col("id").as("trial"))
      .crossJoin(broadcast(nd))
      .withColumn("i1", conv(substring(md5(concat(lit("a:"),
        col("trial").cast("string"))), 1, 8), 16, 10).cast("long") % col("nd"))
      .withColumn("i2r", conv(substring(md5(concat(lit("b:"),
        col("trial").cast("string"))), 1, 8), 16, 10).cast("long") % (col("nd") - 1))
      // uniform distinct second index: shift past i1
      .withColumn("i2", when(col("i2r") >= col("i1"), col("i2r") + 1)
        .otherwise(col("i2r")))
      .join(idx.select(col("rn").as("i1"), col("x").as("x1"), col("y").as("y1")), "i1")
      .join(idx.select(col("rn").as("i2"), col("x").as("x2"), col("y").as("y2")), "i2")
      .select("trial", "x1", "y1", "x2", "y2")
    val scored = idx.crossJoin(broadcast(tr))
      .withColumn("inlier",
        (abs((col("y") - col("y1")) * (col("x2") - col("x1")) -
          (col("y2") - col("y1")) * (col("x") - col("x1"))) <=
          lit(tol) * abs(col("x2") - col("x1"))).cast("long"))
      .groupBy("trial")
      .agg(sum("inlier").as("n_inliers"))
    scored
      .withColumn("is_best", (row_number().over(
        Window.orderBy(col("n_inliers").desc, col("trial"))) === 1).cast("long"))
      .select("trial", "n_inliers", "is_best")
      .orderBy("trial")
  }

  /** DuckDB oracle for [[qRansacLine]]: the same md5-seeded trials,
    * point lookups, and cross-multiplied inlier test. */
  val ransacLineOracleSql: String =
    """WITH days AS (SELECT CAST(datediff('day', DATE '1970-01-01',
      |                CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
      |              CAST(COUNT(*) AS BIGINT) AS y
      |       FROM orders GROUP BY 1),
      |idx AS (SELECT x, y, row_number() OVER (ORDER BY x) - 1 AS rn FROM days),
      |nd AS (SELECT COUNT(*) AS nd FROM idx),
      |tr1 AS (SELECT t.trial,
      |          ('0x' || substr(md5('a:' || t.trial), 1, 8))::BIGINT % nd.nd AS i1,
      |          ('0x' || substr(md5('b:' || t.trial), 1, 8))::BIGINT % (nd.nd - 1) AS i2r
      |        FROM (SELECT UNNEST(range(16)) AS trial) t CROSS JOIN nd),
      |tr AS (SELECT t.trial, a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
      |       FROM (SELECT trial, i1,
      |               CASE WHEN i2r >= i1 THEN i2r + 1 ELSE i2r END AS i2
      |             FROM tr1) t
      |       JOIN idx a ON a.rn = t.i1 JOIN idx b ON b.rn = t.i2),
      |sc AS (SELECT p.trial,
      |         SUM(CASE WHEN ABS((i.y - p.y1) * (p.x2 - p.x1)
      |                         - (p.y2 - p.y1) * (i.x - p.x1))
      |                    <= 10 * ABS(p.x2 - p.x1) THEN 1 ELSE 0 END) AS n_inliers
      |       FROM idx i CROSS JOIN tr p GROUP BY p.trial)
      |SELECT trial, CAST(n_inliers AS BIGINT) AS n_inliers,
      |       CAST(CASE WHEN row_number() OVER (ORDER BY n_inliers DESC, trial) = 1
      |            THEN 1 ELSE 0 END AS BIGINT) AS is_best
      |FROM sc ORDER BY trial""".stripMargin

  def qTheilSen(s: SparkSession, d: String): DataFrame =
    // The C(n,2) slope set is bounded per user (≤2016 under
    // MkMaxEvents), so the whole estimator — pair fan-out, the
    // (slope, num, den) total-order sort, the median pick — runs
    // MAP-SIDE in array functions on the per-user aggregate row.
    // The earlier shape exploded ~4M slope structs through a
    // row_number window (an extra shuffle + sort of the pair table);
    // this pays only the user groupBy (3.4s → ~1s at sf0.1).
    cappedSeq(s, d)
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("rn"), col("us"), col("c"))))
        .as("a"))
      .select(col("user_id"),
        expr("transform(a, x -> x.us)").as("ts_us"),
        expr("transform(a, x -> x.c)").as("cs"),
        size(col("a")).as("n"))
      .filter(col("n") >= 10)
      .withColumn("ps", expr(
        "array_sort(transform(filter(flatten(transform(sequence(0, n - 2), " +
          "i -> transform(sequence(i + 1, n - 1), " +
          "j -> struct(cs[j] - cs[i] AS num, ts_us[j] - ts_us[i] AS den)))), " +
          "p -> p.den > 0L), " +
          "p -> struct(p.num * 3600000000.0D / p.den AS slope, " +
          "p.num AS num, p.den AS den)))"))
      .withColumn("np", size(col("ps")).cast("long"))
      .withColumn("med", element_at(col("ps"), expr("CAST((np + 1) DIV 2 AS INT)")))
      .select(col("user_id"), col("n").cast("long").as("n"),
        col("np").as("n_pairs"),
        col("med.num").as("med_num"), col("med.den").as("med_den"),
        r4(col("med.slope")).as("slope_cph"))
      .orderBy("user_id")

  /** Spearman rank correlation between a numeric JSON payload field
    * (props.k) and the event value, per (event_type, month):
    * "does the payload knob track the metric, monotonically?" —
    * Pearson's formula applied to DOUBLED AVERAGE RANKS, which are
    * exact integers under ties (2·avg-rank = 2·min-rank + t − 1), so
    * every moment sum (Σx, Σy, Σxy, Σx², Σy²) is integer-exact and
    * the engines can only differ in the final rounded division.
    * Ranking windows run per bounded (type, month) group — the
    * corpus never funnels into one task. */
  def qSpearman(s: SparkSession, d: String): DataFrame = {
    val base = events(s, d)
      .select(col("event_type"),
        date_format(col("ts"), "yyyy-MM").as("mon"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("c"))
      .filter(col("k").isNotNull)
    val ranked = base
      .withColumn("rx", lit(2L) * rank().over(
        Window.partitionBy("event_type", "mon").orderBy("k")) +
        count(lit(1)).over(Window.partitionBy("event_type", "mon", "k")) - 1L)
      .withColumn("ry", lit(2L) * rank().over(
        Window.partitionBy("event_type", "mon").orderBy("c")) +
        count(lit(1)).over(Window.partitionBy("event_type", "mon", "c")) - 1L)
    ranked.groupBy("event_type", "mon")
      .agg(count(lit(1)).as("n"),
        sum("rx").as("sx"), sum("ry").as("sy"),
        sum(col("rx") * col("ry")).as("sxy"),
        sum(col("rx") * col("rx")).as("sxx"),
        sum(col("ry") * col("ry")).as("syy"))
      .filter(col("n") >= 30L)
      // the moment SUMS (sx..syy ≤ 4n³) are exact longs, but the
      // n⁴-scale PRODUCTS (n·sxy, sx·sy, n·sxx, sx², …) pass 2⁶³ at
      // group size n ≈ 55k — Spark (non-ANSI) would wrap silently —
      // so each product is computed in double (operands convert
      // exactly below 2⁵³; both engines round the product the same
      // IEEE way, keeping the differential signal intact at scale)
      .withColumn("num", col("n").cast("double") * col("sxy") -
        col("sx").cast("double") * col("sy"))
      .withColumn("vx", col("n").cast("double") * col("sxx") -
        col("sx").cast("double") * col("sx"))
      .withColumn("vy", col("n").cast("double") * col("syy") -
        col("sy").cast("double") * col("sy"))
      .filter(col("vx") > 0.0 && col("vy") > 0.0)
      .select(col("event_type"), col("mon"), col("n"),
        r4(col("num") / (sqrt(col("vx")) * sqrt(col("vy")))).as("rho"))
      .orderBy("event_type", "mon")
  }

  /** Mann-Whitney U (Wilcoxon rank-sum) per (status, year) stratum:
    * do urgent-priority orders draw from a different value
    * distribution than the rest — the nonparametric two-sample test
    * that needs no normality assumption (the parametric counterpart
    * is qTtest). Uses the qSpearman doubled-average-rank trick so
    * every rank sum is an EXACT integer under ties: 2U = ΣR₂(A) −
    * n_A(n_A+1) exactly, and the tie-corrected variance carries
    * Σ(t³−t) as an exact integer; only the final z divides doubles.
    * Ranking windows run per bounded (status, year) stratum — the
    * table never funnels into one task. */
  def qMannWhitney(s: SparkSession, d: String): DataFrame = {
    val base = orders(s, d).select(
      col("o_orderstatus").as("status"),
      year(col("o_orderdate")).cast("int").as("yr"),
      (col("o_orderpriority").isin("1-URGENT", "2-HIGH")).cast("int").as("grp_a"),
      floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("c"))
    val w = Window.partitionBy("status", "yr")
    val ranked = base
      .withColumn("r2", lit(2L) * rank().over(w.orderBy("c")) +
        count(lit(1)).over(Window.partitionBy("status", "yr", "c")) - 1L)
    // overflow bound: t³ is the cube of a SINGLE cent-value's tie
    // count within one (status, yr) stratum — it passes 2⁶³ only if
    // one exact price repeats > 2.09M times in a stratum, i.e. a
    // degenerate constant column, at which point the test itself is
    // meaningless (var→0). Documented, not cast.
    val ties = base.groupBy("status", "yr", "c").agg(count(lit(1)).as("t"))
      .groupBy("status", "yr")
      .agg(sum(expr("t * t * t - t")).as("tsum"))
    ranked.groupBy("status", "yr")
      .agg(count(lit(1)).as("n"),
        sum("grp_a").as("na"),
        sum(when(col("grp_a") === 1, col("r2")).otherwise(0L)).as("sr2a"))
      .join(ties, Seq("status", "yr"))
      .filter(col("na") >= 10L && (col("n") - col("na")) >= 10L)
      .withColumn("nb", col("n") - col("na"))
      .withColumn("u2", col("sr2a") - col("na") * (col("na") + 1L))
      // var(2U) = nA·nB·((n+1) − T/(n(n−1)))/3, tie-corrected
      .withColumn("var2u",
        col("na").cast("double") * col("nb") *
          ((col("n") + 1L).cast("double")
            - col("tsum").cast("double") / col("n") / (col("n") - 1L)) / 3.0)
      .select(col("status"), col("yr"), col("na"), col("nb"),
        col("u2"), col("tsum"),
        (floor((col("u2") - col("na") * col("nb")).cast("double")
          / sqrt(col("var2u")) * 10000.0 + 0.5) / 10000.0).as("z_u"))
      .orderBy("status", "yr")
  }

  /** The TPC-H order priorities, in fixture spelling — the fixed
    * k=5 group set [[qKruskalWallis]] pivots onto. */
  private val kwPrios =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Per-group H-statistic term Σ T_g²/n_g written on DOUBLED rank
    * sums (T_g = d_g/2, so T_g²/n_g = d_g²/(4n_g)) as ONE generated
    * fixed-order left-assoc chain — an aggregate SUM of doubles would
    * add in partition order and the two engines could round
    * differently; a written chain over the pivoted columns evaluates
    * the identical IEEE tree in both. The d²-scale product is the
    * documented never-square-a-long-sum case: CAST(d AS DOUBLE) * d
    * (operands < 2⁵³ convert exactly at any tested SF; above, both
    * engines round bigint→double to nearest identically). Double
    * literals carry E0 throughout the shared generators: Spark's
    * expr() parses a bare `12.0` as DECIMAL(3,1) (poisoning the whole
    * tree to decimal) while DuckDB reads it as DOUBLE — `12.0E0` is
    * DOUBLE in both. */
  private def kwSumTermSql(k: Int): String =
    (0 until k).map(i =>
      s"(CASE WHEN n$i > 0 THEN CAST(d$i AS DOUBLE) * d$i / (4.0E0 * n$i) " +
        s"ELSE 0.0E0 END)").mkString(" + ")

  /** Non-empty-group count over the pivoted columns, both engines. */
  private def kwKGroupsSql(k: Int): String =
    "CAST(" + (0 until k).map(i =>
      s"(CASE WHEN n$i > 0 THEN 1 ELSE 0 END)").mkString(" + ") +
      " AS BIGINT)"

  /** Tie-corrected H, quantized: H = [12/(N(N+1))·Σ T_g²/n_g −
    * 3(N+1)] / [1 − Σ(t³−t)/(N³−N)]. N³ would wrap BIGINT at
    * N ≈ 2.1M rows per stratum, so the correction denominator is
    * the double chain CAST(n AS DOUBLE)·n·n − n on both engines. */
  private val kwHSql: String =
    "floor((12.0E0 * sumterm / CAST(n AS DOUBLE) / (CAST(n AS DOUBLE) + 1.0E0)" +
      " - 3.0E0 * (CAST(n AS DOUBLE) + 1.0E0))" +
      " / (1.0E0 - CAST(tsum AS DOUBLE)" +
      " / (CAST(n AS DOUBLE) * n * n - n)) * 10000.0E0 + 0.5E0) / 10000.0E0"

  /** Kruskal–Wallis H per order-year stratum: do the five order
    * priorities draw total price from the same distribution — the
    * k-group nonparametric rank test completing the in-house ladder
    * (parametric [[qAnova]]-style F, two-group [[qMannWhitney]], now
    * k-group ranks). The rank machinery NEVER sorts the fact table:
    * doubled average ranks come from the value-domain histogram —
    * per-(yr, cent) tie counts, a cumulative window over DISTINCT
    * cent values (bounded by the price domain, not the corpus — the
    * q_equiheight_hist discipline), and the exact integer identity
    * 2·r̄(c) = 2·cum_before(c) + t(c) + 1, so every rank sum d_g is
    * an exact long under arbitrary ties (Σ_g d_g = N(N+1) exactly —
    * spec-pinned). Groups pivot onto fixed columns so the only float
    * arithmetic is a generated fixed-order chain ([[kwSumTermSql]])
    * evaluated identically by both engines. Overflow bounds: d_g ≤
    * n_g·(2N+1) wraps only past N ≈ 2.1e9 rows in ONE year stratum;
    * t³ is the [[qMannWhitney]] documented bound (a single exact
    * cent price repeated >2.09M times in a stratum). */
  def qKruskalWallis(s: SparkSession, d: String): DataFrame = {
    val base = orders(s, d).select(
      year(col("o_orderdate")).cast("int").as("yr"),
      col("o_orderpriority").as("grp"),
      floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("c"))
      // restrict N / the rank histogram / tie sums to the SAME group
      // domain the pivot enumerates — an o_orderpriority value outside
      // kwPrios would otherwise count in n and tsum while feeding no
      // d_g, silently skewing H (mirrored in the oracle's WHERE)
      .filter(col("grp").isin(kwPrios: _*))
    // r15 note: checkpointing cell (corpus-shaped — most (yr, c, grp)
    // cells are distinct) was measured SLOWER (1.06 -> 1.22 s): the
    // eager materialization of a near-corpus-sized table beats the
    // cheap 2-column orders re-scans it saves
    val cell = base.groupBy("yr", "c", "grp").agg(count(lit(1)).as("t"))
    val tc = cell.groupBy("yr", "c").agg(sum("t").as("tcnt"))
    val tcw = tc.withColumn("cumb",
      sum("tcnt").over(Window.partitionBy("yr").orderBy("c")) - col("tcnt"))
    val contrib = cell.join(tcw, Seq("yr", "c"))
      .withColumn("dr",
        col("t") * (lit(2L) * col("cumb") + col("tcnt") + 1L))
    val pivCols = kwPrios.zipWithIndex.flatMap { case (p, i) =>
      Seq(sum(when(col("grp") === p, col("dr")).otherwise(0L)).as(s"d$i"),
        sum(when(col("grp") === p, col("t")).otherwise(0L)).as(s"n$i"))
    }
    val piv = contrib.groupBy("yr").agg(pivCols.head, pivCols.tail: _*)
    val ties = tc.groupBy("yr")
      .agg(sum(expr("tcnt * tcnt * tcnt - tcnt")).as("tsum"),
        sum("tcnt").as("n"))
    piv.join(ties, "yr")
      .filter(col("n") >= 50L)
      .filter(col("tsum").cast("double") <
        col("n").cast("double") * col("n") * col("n") - col("n"))
      .withColumn("sumterm", expr(kwSumTermSql(kwPrios.size)))
      .withColumn("k_groups", expr(kwKGroupsSql(kwPrios.size)))
      .withColumn("h", expr(kwHSql))
      .select("yr", "n", "k_groups", "tsum", "h")
      .orderBy("yr")
  }

  /** DuckDB oracle for [[qKruskalWallis]]: identical histogram-rank
    * decomposition, with the pivoted term chain / k-group count / H
    * emitted by the SAME generators the Spark plan evaluates. */
  lazy val kruskalWallisOracleSql: String = {
    val pivSelect = kwPrios.zipWithIndex.flatMap { case (p, i) =>
      Seq(s"SUM(CASE WHEN grp = '$p' THEN dr ELSE 0 END) AS d$i",
        s"SUM(CASE WHEN grp = '$p' THEN t ELSE 0 END) AS n$i")
    }.mkString(", ")
    val prioIn = kwPrios.map(p => s"'$p'").mkString(", ")
    s"""WITH base AS (SELECT
       |    CAST(year(CAST(o_orderdate AS DATE)) AS INTEGER) AS yr,
       |    o_orderpriority AS grp,
       |    CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS c
       |  FROM orders WHERE o_orderpriority IN ($prioIn)),
       |cell AS (SELECT yr, c, grp, CAST(COUNT(*) AS BIGINT) AS t
       |         FROM base GROUP BY 1, 2, 3),
       |tc AS (SELECT yr, c, CAST(SUM(t) AS BIGINT) AS tcnt
       |       FROM cell GROUP BY 1, 2),
       |tcw AS (SELECT yr, c, tcnt,
       |    CAST(SUM(tcnt) OVER (PARTITION BY yr ORDER BY c) - tcnt AS BIGINT)
       |      AS cumb FROM tc),
       |con AS (SELECT cell.yr, cell.grp, cell.t,
       |    cell.t * (2 * w.cumb + w.tcnt + 1) AS dr
       |  FROM cell JOIN tcw w ON cell.yr = w.yr AND cell.c = w.c),
       |piv AS (SELECT yr, $pivSelect FROM con GROUP BY 1),
       |ties AS (SELECT yr,
       |    CAST(SUM(tcnt * tcnt * tcnt - tcnt) AS BIGINT) AS tsum,
       |    CAST(SUM(tcnt) AS BIGINT) AS n FROM tc GROUP BY 1),
       |j AS (SELECT piv.*, ties.tsum, ties.n
       |  FROM piv JOIN ties USING (yr)
       |  WHERE ties.n >= 50
       |    AND CAST(tsum AS DOUBLE) <
       |        CAST(n AS DOUBLE) * n * n - n),
       |st AS (SELECT *, ${kwSumTermSql(kwPrios.size)} AS sumterm FROM j)
       |SELECT yr, n, ${kwKGroupsSql(kwPrios.size)} AS k_groups, tsum,
       |       $kwHSql AS h
       |FROM st ORDER BY yr""".stripMargin
  }

  /** Cochran's Q numerator — k·ΣG_j² − (ΣG_j)² over the pivoted
    * per-treatment success totals, as ONE generated fixed-order
    * double chain (the [[kwSumTermSql]] discipline: squares of long
    * sums take the CAST-to-DOUBLE form, double literals carry E0). */
  private def cochranNumSql(k: Int): String = {
    val sq = (0 until k).map(i => s"CAST(g$i AS DOUBLE) * g$i")
      .mkString(" + ")
    val tot = (0 until k).map(i => s"g$i").mkString(" + ")
    s"($k.0E0 * ($sq) - CAST($tot AS DOUBLE) * ($tot))"
  }

  /** Cochran's Q test per calendar month: do the three engagement
    * treatments (view, click, purchase) succeed at the same rate
    * across the SAME users — the k-treatment matched binary test
    * completing the ladder ([[qMannWhitney]] two-group continuous,
    * [[qKruskalWallis]] k-group continuous, now k-treatment binary;
    * McNemar is its k=2 case, [[qMcnemar]]). Blocks are users; the
    * block set needs no careful definition because Q is INVARIANT to
    * all-zero and all-one blocks (an all-one user shifts every G_j
    * equally, leaving the numerator's differences unchanged, and
    * contributes k·k − k² = 0 to the denominator — spec-pinned by
    * injecting synthetic all-one blocks and requiring the identical
    * statistic). Blocks are (user, day) rather than bare users:
    * measured on the fixture, month-level user blocks all saturate
    * (every active user does all three treatments in a month, so
    * Σ L(k−L) = 0 and the test degenerates); the daily matched
    * observation is also the standard repeated-measures shape.
    * Arithmetic: the denominator k·ΣL − ΣL² stays an
    * exact long at any scale (L ≤ k per user); the numerator's
    * squares of user-count sums take the documented CAST-to-DOUBLE
    * chain ([[cochranNumSql]], fixed order, both engines). One
    * fact-table distinct, then everything is (month × user)- then
    * month-sized. */
  def qCochranQ(s: SparkSession, d: String): DataFrame = {
    val treatments = Seq("view", "click", "purchase")
    val cell = events(s, d)
      .filter(col("event_type").isin(treatments: _*))
      .select(date_format(col("ts"), "yyyy-MM").as("mon"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("user_id"), col("event_type").as("typ"))
      .distinct()
      .localCheckpoint(true) // pivot AND block sums — dedup once (r15)
    val gCols = treatments.zipWithIndex.map { case (t, i) =>
      sum(when(col("typ") === t, 1L).otherwise(0L)).as(s"g$i")
    }
    val g = cell.groupBy("mon").agg(gCols.head, gCols.tail: _*)
    val l = cell.groupBy("mon", "user_id", "day").agg(count(lit(1)).as("lr"))
      .groupBy("mon")
      .agg(count(lit(1)).as("n_blocks"), sum("lr").as("suml"),
        sum(col("lr") * col("lr")).as("suml2"))
    val k = treatments.size
    g.join(l, "mon")
      .withColumn("den", lit(k.toLong) * col("suml") - col("suml2"))
      .filter(col("den") > 0L)
      .withColumn("q_stat", expr(
        s"floor(${k - 1}.0E0 * ${cochranNumSql(k)} / den" +
          " * 10000.0E0 + 0.5E0) / 10000.0E0"))
      .select(col("mon"), col("n_blocks"),
        col("g0").as("g_view"), col("g1").as("g_click"),
        col("g2").as("g_purchase"), col("den"), col("q_stat"))
      .orderBy("mon")
  }

  /** DuckDB oracle for [[qCochranQ]]: same distinct/pivot/Q chain,
    * numerator emitted by the shared generator. The ns-timestamp is
    * cast before strftime (the fixture gotcha). */
  lazy val cochranQOracleSql: String = {
    val treatments = Seq("view", "click", "purchase")
    val k = treatments.size
    val gSel = treatments.zipWithIndex.map { case (t, i) =>
      s"SUM(CASE WHEN typ = '$t' THEN 1 ELSE 0 END) AS g$i"
    }.mkString(", ")
    s"""WITH cell AS (SELECT DISTINCT
       |    strftime(CAST(ts AS TIMESTAMP), '%Y-%m') AS mon,
       |    strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
       |    user_id, event_type AS typ
       |  FROM events
       |  WHERE event_type IN ('view', 'click', 'purchase')),
       |g AS (SELECT mon, $gSel FROM cell GROUP BY 1),
       |l AS (SELECT mon, CAST(COUNT(*) AS BIGINT) AS n_blocks,
       |    CAST(SUM(lr) AS BIGINT) AS suml,
       |    CAST(SUM(lr * lr) AS BIGINT) AS suml2
       |  FROM (SELECT mon, user_id, day, COUNT(*) AS lr
       |        FROM cell GROUP BY 1, 2, 3) GROUP BY 1),
       |j AS (SELECT g.*, l.n_blocks, l.suml, l.suml2,
       |    $k * l.suml - l.suml2 AS den
       |  FROM g JOIN l USING (mon) WHERE $k * l.suml - l.suml2 > 0)
       |SELECT mon, n_blocks, CAST(g0 AS BIGINT) AS g_view,
       |       CAST(g1 AS BIGINT) AS g_click,
       |       CAST(g2 AS BIGINT) AS g_purchase,
       |       CAST(den AS BIGINT) AS den,
       |       floor(${k - 1}.0E0 * ${cochranNumSql(k)} / den
       |         * 10000.0E0 + 0.5E0) / 10000.0E0 AS q_stat
       |FROM j ORDER BY mon""".stripMargin
  }

  /** McNemar's χ² with continuity correction, shared by both
    * engines: only the b/c discordant counts matter, the statistic
    * is (|b−c|−1)²/(b+c), conventionally 0 when |b−c| ≤ 1 (the
    * correction would otherwise overshoot). The square takes the
    * CAST-to-DOUBLE chain per the house rule. */
  private val mcnemarChiSql: String =
    "(CASE WHEN ABS(b - c) <= 1 OR b + c = 0 THEN 0.0E0" +
      " ELSE floor(CAST(ABS(b - c) - 1 AS DOUBLE) * (ABS(b - c) - 1)" +
      " / (b + c) * 10000.0E0 + 0.5E0) / 10000.0E0 END)"

  /** McNemar's test per document source: are two deterministic
    * English detectors — A = contains the stopword ' the ',
    * B = pure-ASCII text (UTF-8 byte length = char length, no
    * regex; Spark spells bytes `octet_length`, DuckDB `strlen` —
    * DuckDB's octet_length is BLOB/BIT-only) —
    * DIFFERENTLY accurate against the lang label on the SAME
    * documents? The paired-classifier significance test every model
    * comparison needs (accuracy deltas on shared eval sets are
    * paired, so the unpaired tests overstate significance): only the
    * discordant pairs b (A right, B wrong) and c (B right, A wrong)
    * carry signal. One corpus pass aggregates four exact counts per
    * source; χ² is the shared generated expression
    * ([[mcnemarChiSql]]). */
  def qMcnemar(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d).select(
      col("source"),
      (col("lang") === "en").as("y"),
      expr("contains(lower(text), ' the ')").as("pa"),
      (expr("octet_length(text)") === length(col("text"))).as("pb"))
    base.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("y").cast("long")).as("n_en"),
        sum((col("pa") === col("y") && col("pb") =!= col("y"))
          .cast("long")).as("b"),
        sum((col("pa") =!= col("y") && col("pb") === col("y"))
          .cast("long")).as("c"))
      .withColumn("chi2_cc", expr(mcnemarChiSql))
      .orderBy("source")
  }

  /** DuckDB oracle for [[qMcnemar]]: identical detectors and the
    * shared χ² expression. */
  lazy val mcnemarOracleSql: String =
    s"""WITH base AS (SELECT source,
       |    (lang = 'en') AS y,
       |    contains(lower(text), ' the ') AS pa,
       |    (strlen(text) = length(text)) AS pb
       |  FROM documents),
       |agg AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
       |    CAST(SUM(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END)
       |      AS BIGINT) AS b,
       |    CAST(SUM(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END)
       |      AS BIGINT) AS c
       |  FROM base GROUP BY 1)
       |SELECT source, n_docs, n_en, b, c, $mcnemarChiSql AS chi2_cc
       |FROM agg ORDER BY source""".stripMargin

  /** Herfindahl–Hirschman spend concentration per market segment:
    * the "is this segment's revenue one whale or many minnows"
    * monitor. Per-customer spend collapses to exact kilodollar units
    * (integer division of cents — coarse on purpose: HHI is a
    * concentration INDEX, and the kilodollar grid keeps every term,
    * including the final ×1e6 quotient, inside exact BIGINT
    * arithmetic at any scale a segment can reach). One fact-table
    * aggregate (customer key), one segment rollup. */
  def qHhi(s: SparkSession, d: String): DataFrame = {
    val spend = orders(s, d)
      .select(col("o_custkey"),
        floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
      .groupBy("o_custkey")
      .agg(expr("sum(cents) DIV 100000").as("kd"))
    spend.join(customer(s, d).select(col("c_custkey").as("o_custkey"),
        col("c_mktsegment")), "o_custkey")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"),
        sum("kd").as("tot_kd"),
        sum(col("kd") * col("kd")).as("sq_kd"),
        max("kd").as("max_kd"))
      .filter(col("tot_kd") > 0L)
      .select(col("c_mktsegment"), col("n_customers"),
        col("tot_kd"),
        expr("sq_kd * 1000000L DIV (tot_kd * tot_kd)").as("hhi_micro"),
        expr("max_kd * 1000000L DIV tot_kd").as("top_share_micro"))
      .orderBy("c_mktsegment")
  }

  /** Running-distinct trajectory: for each user, the order in which
    * they first touched each event type and when — the
    * "feature-adoption curve" shape of COUNT(DISTINCT) OVER, which
    * Spark (and ANSI) won't evaluate directly. Decomposed exactly:
    * a first-seen filter (one row per (user, type)) then a bounded
    * re-rank — output is (users × types)-sized, never fact-sized. */
  def qWindowDistinct(s: SparkSession, d: String): DataFrame = {
    val firstSeen = events(s, d)
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id", "event_type")
          .orderBy(col("ts"), col("event_id"))))
      .filter(col("rn") === 1)
    firstSeen
      .withColumn("seen_order", row_number().over(
        Window.partitionBy("user_id").orderBy(col("ts"), col("event_id")))
        .cast("long"))
      .select(col("user_id"), col("event_type"), col("seen_order"),
        unix_micros(col("ts")).as("ts_us"))
      .orderBy("user_id", "seen_order")
  }

  /** XML ingestion path (Spark 4's built-in XML support): each order
    * serialized to an XML envelope, parsed back with `from_xml` under
    * an explicit schema, and aggregated from the PARSED struct — the
    * per-row parse is codegen-adjacent (no UDF), the aggregate is one
    * shuffle, and the oracle recomputes from the raw columns, pinning
    * the parser round-trip exactly. Money rides as integer cents
    * inside the XML so no float ever goes through a string. */
  def qXmlParse(s: SparkSession, d: String): DataFrame = {
    val xml = orders(s, d)
      .select(concat(
        lit("<o><k>"), col("o_orderkey"),
        lit("</k><p>"), col("o_orderpriority"),
        lit("</p><c>"),
        floor(col("o_totalprice") * 100.0 + 0.5).cast("long"),
        lit("</c></o>")).as("x"))
    xml
      .select(from_xml(col("x"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "k BIGINT, p STRING, c BIGINT")).as("o"))
      .groupBy(col("o.p").as("priority"))
      .agg(count(lit(1)).as("n_orders"),
        sum("o.c").as("sum_cents"),
        min("o.k").as("min_key"))
      .orderBy("priority")
  }

  /** Lorenz curve of customer spend (the Gini coefficient's
    * underlying curve, [[StatsOps]] has the scalar): customers are
    * cut into spend deciles BY VALUE — the customer aggregate
    * collapses onto a whole-dollar spend grid (value-domain-bounded
    * histogram, never |customers|-sized), each grid row's decile is
    * the exact integer ⌈cum·10/n⌉ of its LAST customer, and the
    * cumulative shares then live on ≤10 rows. Spend-tied customers
    * share a decile (the previous global ntile split ties by custkey,
    * which funneled |customers| rows through one task's sort at
    * scale); populations stay within one grid row of n/10. */
  def qLorenz(s: SparkSession, d: String): DataFrame = {
    val spend = orders(s, d)
      .select(col("o_custkey"),
        floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
      .groupBy("o_custkey").agg(sum("cents").as("cents"))
    val grid = spend.groupBy(expr("cents DIV 100").as("g"))
      .agg(count(lit(1)).as("nc"), sum("cents").as("gc"))
    val wCum = Window.orderBy("g")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    val deciled = grid
      .withColumn("cum_n", sum("nc").over(wCum))
      .withColumn("tn", sum("nc").over(wAll))
      .withColumn("decile", expr("(cum_n * 10 + tn - 1) DIV tn"))
    val w = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = grid.agg(sum("gc").as("tc"), sum("nc").as("tn"))
    deciled.groupBy("decile")
      .agg(sum("nc").as("n_customers"), sum("gc").as("decile_cents"))
      .withColumn("cum_cents", sum("decile_cents").over(w))
      .withColumn("cum_customers", sum("n_customers").over(w))
      .crossJoin(broadcast(tot))
      .select(col("decile"), col("n_customers"), col("decile_cents"),
        expr("cum_customers * 1000000L DIV tn").as("cum_pop_micro"),
        expr("cum_cents * 1000000L DIV tc").as("cum_spend_micro"))
      .orderBy("decile")
  }

  /** Jaro-Winkler fuzzy matching over the part-name dictionary via
    * the NATIVE [[graft.expressions.JaroWinkler]] expression (Spark
    * has no Jaro family; a UDF would box every pair and break
    * codegen). The corpus collapses to its distinct-name dictionary
    * FIRST (vocabulary-bounded), pairs are blocked on the first
    * character (the standard ER blocking key for prefix-boosted JW —
    * a pair differing in char 1 gets no Winkler boost and rarely
    * clears the threshold), and the threshold compares the ROUNDED
    * score — the fixture has a pair sitting exactly ON 0.84 (±1 ulp),
    * and floor(x·1e4+0.5) absorbs that ulp identically in both
    * engines while a raw-double compare would flap. */
  def qJaroWinkler(s: SparkSession, d: String): DataFrame = {
    val names = part(s, d).select(col("p_name").as("name")).distinct()
    val pairs = names.select(col("name").as("name_a"),
        substring(col("name"), 1, 1).as("blk"))
      .join(names.select(col("name").as("name_b"),
        substring(col("name"), 1, 1).as("blk")), "blk")
      .filter(col("name_a") < col("name_b"))
      .withColumn("jw_raw",
        call_function("graft_jaro_winkler", col("name_a"), col("name_b")))
    pairs.withColumn("jw", r4(col("jw_raw")))
      .filter(col("jw") >= 0.84)
      .select("name_a", "name_b", "jw")
      .orderBy("name_a", "name_b")
  }

  /** Entity-resolution blocking-scheme audit: before any fuzzy-match
    * join, which blocking key keeps the candidate-pair budget sane?
    * Three schemes over the part catalog (first name token, brand,
    * type×size); for each: block count, worst block, the exact
    * candidate-pair total Σ C(b,2), and the reduction ratio vs the
    * all-pairs C(N,2) in exact micro-units. Each scheme is one
    * aggregate over block-key counts — the audit that sizes
    * q_fuzzy_join-style blocked self-joins before they run. */
  def qBlockingKeys(s: SparkSession, d: String): DataFrame = {
    val p = part(s, d)
    def scheme(name: String, key: Column): DataFrame =
      p.select(key.as("bk"))
        .groupBy("bk").agg(count(lit(1)).as("b"))
        .agg(count(lit(1)).as("n_blocks"),
          max("b").as("max_block"),
          sum(expr("b * (b - 1) DIV 2")).as("cand_pairs"),
          sum("b").as("nn"))
        .select(lit(name).as("scheme"), col("n_blocks"), col("max_block"),
          col("cand_pairs"),
          expr("(nn * (nn - 1) DIV 2 - cand_pairs) * 1000000L " +
            "DIV (nn * (nn - 1) DIV 2)").as("reduction_micro"))
    scheme("name_token", split(col("p_name"), " ").getItem(0))
      .unionByName(scheme("brand", col("p_brand")))
      .unionByName(scheme("type_size",
        concat(col("p_type"), lit("|"), col("p_size"))))
      .orderBy("scheme")
  }

  /** Soundex per-position code ('0'–'6') of character i of a
    * lowercase-letter column — one Scala source of truth feeding both
    * engines (the cpl/Hilbert generator discipline). Out-of-range
    * substr returns '' on both engines → code '0'. */
  private def sxCode(w: String, i: Int): String =
    s"(CASE WHEN substr($w, $i, 1) IN ('b', 'f', 'p', 'v') THEN '1'" +
      s" WHEN substr($w, $i, 1) IN ('c', 'g', 'j', 'k', 'q', 's', 'x', 'z')" +
      s" THEN '2'" +
      s" WHEN substr($w, $i, 1) IN ('d', 't') THEN '3'" +
      s" WHEN substr($w, $i, 1) = 'l' THEN '4'" +
      s" WHEN substr($w, $i, 1) IN ('m', 'n') THEN '5'" +
      s" WHEN substr($w, $i, 1) = 'r' THEN '6' ELSE '0' END)"

  /** American Soundex assembled from pre-staged per-position code
    * columns c1..cL: position i emits its digit iff its code is
    * nonzero AND differs from the code of the last preceding
    * non-(h,w) character — the textbook streaming rule (vowels reset
    * the comparison base to '0', h/w are transparent) expressed
    * positionally: lastCode(i) walks j = i−1..1 for the first char
    * not in (h,w). When every preceding char is h/w the ELSE '0'
    * branch applies, which equals the h/w first letter's own code —
    * consistent with the stream. All-string arithmetic, so the
    * generated expression is engine-neutral verbatim. */
  private[graft] def sxAssemble(w: String, maxLen: Int): String = {
    def lastCode(i: Int): String =
      "(CASE " + ((i - 1) to 1 by -1).map(j =>
        s"WHEN substr($w, $j, 1) NOT IN ('h', 'w') THEN c$j")
        .mkString(" ") + " ELSE '0' END)"
    val digits = (2 to maxLen).map(i =>
      s"(CASE WHEN c$i <> '0' AND c$i <> ${lastCode(i)} THEN c$i" +
        s" ELSE '' END)")
    s"concat(upper(substr($w, 1, 1)), " +
      s"substr(concat(${digits.mkString(", ")}, '000'), 1, 3))"
  }

  /** Phonetic blocking head-to-head: [[qBlockingKeys]] sizes exact
    * key schemes; this audit adds the scheme entity resolution
    * reaches for when names are MISSPELLED — American Soundex
    * (Russell 1918, the blocking key every record-linkage toolkit
    * ships) over the first part-name token, vs exact-token blocking
    * on the same rows. Soundex merges sound-alike tokens, so it can
    * only coarsen: fewer blocks, larger candidate budget — the
    * recall-vs-cost trade quantified by the paired rows. The codes
    * are computed by generated per-position SQL ([[sxCode]] staged
    * once per position, [[sxAssemble]]) — identical string
    * arithmetic in both engines, no UDF; length-capped tokens are
    * excluded (not truncated) so the cap never bends a code. One
    * catalog-sized pass stages the codes; everything after is
    * block-key-sized. */
  def qSoundexBlocking(s: SparkSession, d: String): DataFrame = {
    val maxLen = 12
    var tok = part(s, d)
      .select(split(col("p_name"), " ").getItem(0).as("w"))
      .filter(col("w").rlike("^[a-z]{1,12}$"))
    (1 to maxLen).foreach { j =>
      tok = tok.withColumn(s"c$j", expr(sxCode("w", j)))
    }
    val keyed = tok.withColumn("sx", expr(sxAssemble("w", maxLen)))
    def scheme(name: String, key: Column): DataFrame =
      keyed.select(key.as("bk"))
        .groupBy("bk").agg(count(lit(1)).as("b"))
        .agg(count(lit(1)).as("n_blocks"),
          max("b").as("max_block"),
          sum(expr("b * (b - 1) DIV 2")).as("cand_pairs"),
          sum("b").as("n_rows"))
        .select(lit(name).as("scheme"), col("n_blocks"),
          col("max_block"), col("cand_pairs"), col("n_rows"))
    scheme("exact", col("w"))
      .unionByName(scheme("soundex", col("sx")))
      .orderBy("scheme")
  }

  /** DuckDB oracle for [[qSoundexBlocking]]: the same generated code
    * stage and assembly, per-scheme rollups via union. */
  lazy val soundexBlockingOracleSql: String = {
    val maxLen = 12
    val codeCols = (1 to maxLen).map(j => s"${sxCode("w", j)} AS c$j")
      .mkString(", ")
    s"""WITH tok AS (SELECT split_part(p_name, ' ', 1) AS w FROM part
       |  WHERE regexp_matches(split_part(p_name, ' ', 1), '^[a-z]{1,12}$$')),
       |codes AS (SELECT w, $codeCols FROM tok),
       |k AS (SELECT w, ${sxAssemble("w", maxLen)} AS sx FROM codes),
       |e AS (SELECT 'exact' AS scheme, w AS bk FROM k
       |      UNION ALL SELECT 'soundex', sx FROM k),
       |b AS (SELECT scheme, bk, COUNT(*) AS b FROM e GROUP BY 1, 2)
       |SELECT scheme, CAST(COUNT(*) AS BIGINT) AS n_blocks,
       |       CAST(MAX(b) AS BIGINT) AS max_block,
       |       CAST(SUM(b * (b - 1) // 2) AS BIGINT) AS cand_pairs,
       |       CAST(SUM(b) AS BIGINT) AS n_rows
       |FROM b GROUP BY 1 ORDER BY scheme""".stripMargin
  }

  /** End-to-end entity resolution over the part catalog — the full
    * pipeline the blocking audit (qBlockingKeys), fuzzy matcher
    * (qJaroWinkler) and components engine (GraphOps) exist FOR, run
    * as one query: distinct names block on their FIRST NAME TOKEN —
    * the scheme this pipeline's own audit ([[qBlockingKeys]]) shows
    * is strictly better than first-char blocking (orders of
    * magnitude fewer candidate pairs at the same recall on
    * whitespace-token names; Σ C(b,2) within ~26 first-char blocks
    * grows quadratically in catalog size) —
    * in-block pairs score with the native Jaro-Winkler expression,
    * pairs at rounded-0.92+ become edges keyed by each name's
    * MIN part key (a deterministic, SQL-replayable node id), and CCF
    * transitive closure groups them into entities. Output: multi-name
    * entities with name and part-record counts. Scale shape: the
    * pair fan-out is Σ C(b,2) over first-char blocks of the DISTINCT
    * name table (catalog-sized, not fact-sized); the closure runs on
    * match-edges only. The 0.88 threshold compares the ROUNDED score
    * (the q_jaro_winkler convention) so both engines cut the same
    * boundary. */
  def qEntityResolution(s: SparkSession, d: String): DataFrame = {
    val ids = part(s, d).groupBy("p_name")
      .agg(min("p_partkey").as("nid"), count(lit(1)).as("n_parts"))
      .localCheckpoint(true)
    val blocked = ids.select(col("nid"), col("p_name"),
      split(col("p_name"), " ").getItem(0).as("blk"))
    val edges = blocked.select(col("nid").as("a"), col("p_name").as("na"), col("blk"))
      .join(blocked.select(col("nid").as("b"), col("p_name").as("nb"), col("blk")), "blk")
      .filter(col("na") < col("nb"))
      .withColumn("jw", r4(call_function("graft_jaro_winkler", col("na"), col("nb"))))
      .filter(col("jw") >= 0.88)
      .select("a", "b")
    val labels = GraphOps.ccfComponents(edges)
    labels.join(ids.select(col("nid").as("node"), col("n_parts")), "node")
      .groupBy(col("comp").as("entity_id"))
      .agg(count(lit(1)).as("n_names"), sum("n_parts").as("n_parts"))
      .filter(col("n_names") >= 2)
      .orderBy("entity_id")
  }

  /** Fellegi–Sunter probabilistic record linkage (1969) — the
    * weight-LEARNING stage the deterministic ER pipeline
    * ([[qEntityResolution]]) lacks: EM estimates per-feature match
    * probabilities m_k / non-match probabilities u_k and the match
    * prior p from UNLABELED candidate pairs, yielding the log-odds
    * match weight every production linker thresholds on. The
    * distributed work is the pair generation (first-token blocking,
    * the ER discipline), native Jaro-Winkler feature scoring, and ONE
    * aggregate collapsing the pairs onto the 2³ = 8 agreement-pattern
    * table; the 3 EM iterations then run on that ≤8-row table in the
    * driver (bounded collect, the MMR-model-table precedent) with
    * every parameter floor-quantized to ppm integers BETWEEN steps —
    * the E-step doubles are deterministic functions of exact ppm
    * ints, so the DuckDB oracle replays the identical 3 iterations as
    * unrolled CTE stages and must land on the same integers.
    * Overflow bound: the M-step sums Σ wq·n·10⁶ stay exact longs to
    * ~9.2M candidate pairs; beyond that, drop the ppm grid one decade
    * (the scale cancels in every ratio). Parameters clamp to
    * [1, 999999] ppm so a degenerate feature can never zero a
    * likelihood. */
  def qFellegiSunter(s: SparkSession, d: String): DataFrame = {
    val ids = part(s, d).groupBy("p_name")
      .agg(min("p_brand").as("brand"), min("p_size").as("psize"))
      .withColumn("blk", split(col("p_name"), " ").getItem(0))
    val pats = ids.select(col("p_name").as("na"), col("brand").as("ba"),
        col("psize").as("sa"), col("blk"))
      .join(ids.select(col("p_name").as("nb"), col("brand").as("bb"),
        col("psize").as("sb"), col("blk")), "blk")
      .filter(col("na") < col("nb"))
      .select(
        (r4(call_function("graft_jaro_winkler", col("na"), col("nb"))) >= 0.92)
          .cast("long").as("g_jw"),
        (col("ba") === col("bb")).cast("long").as("g_brand"),
        (col("sa") === col("sb")).cast("long").as("g_size"))
      .groupBy("g_jw", "g_brand", "g_size")
      .agg(count(lit(1)).as("n_pairs"))
      .collect() // ≤ 8 agreement patterns — bounded by construction
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    def clamp(x: Long): Long = math.max(1L, math.min(999999L, x))
    // E-step weight for pattern bits under ppm params — one
    // deterministic double expression (the oracle writes the same)
    def eW(m: Array[Long], u: Array[Long], p: Long,
           bits: Seq[Long]): (Double, Double, Double) = {
      val pm = bits.zipWithIndex.map { case (b, k) =>
        (if (b == 1L) m(k) else 1000000L - m(k)).toDouble / 1e6 }.product
      val pu = bits.zipWithIndex.map { case (b, k) =>
        (if (b == 1L) u(k) else 1000000L - u(k)).toDouble / 1e6 }.product
      val pr = p.toDouble / 1e6
      (pm, pu, pr * pm / (pr * pm + (1.0 - pr) * pu))
    }
    var m = Array(900000L, 900000L, 900000L)
    var u = Array(100000L, 100000L, 100000L)
    var p = 100000L
    (1 to 3).foreach { _ =>
      val wq = pats.map { case (b1, b2, b3, n) =>
        val (_, _, w) = eW(m, u, p, Seq(b1, b2, b3))
        (Seq(b1, b2, b3), n, math.floor(w * 1e6 + 0.5).toLong)
      }
      val sw = wq.map { case (_, n, w) => w * n }.sum
      val sv = wq.map { case (_, n, w) => (1000000L - w) * n }.sum
      val nTot = pats.map(_._4).sum
      m = Array.tabulate(3) { k =>
        val sk = wq.collect { case (b, n, w) if b(k) == 1L => w * n }.sum
        clamp((sk * 1000000L + sw / 2) / math.max(sw, 1L)) }
      u = Array.tabulate(3) { k =>
        val sk = wq.collect { case (b, n, w) if b(k) == 1L => (1000000L - w) * n }.sum
        clamp((sk * 1000000L + sv / 2) / math.max(sv, 1L)) }
      p = clamp((sw + nTot / 2) / nTot)
    }
    val spark = s
    import spark.implicits._
    pats.toSeq.map { case (b1, b2, b3, n) =>
      val (pm, pu, w) = eW(m, u, p, Seq(b1, b2, b3))
      (b1, b2, b3, n,
        math.floor(w * 1e6 + 0.5).toLong,
        math.floor(math.log(pm / pu) / math.log(2.0) * 10000.0 + 0.5) / 10000.0)
    }.toDF("g_jw", "g_brand", "g_size", "n_pairs", "w_ppm", "log2_odds")
      .orderBy("g_jw", "g_brand", "g_size")
  }

  /** DuckDB oracle for [[qFellegiSunter]]: the identical 3 EM
    * iterations unrolled as generated CTE stages over the 8-row
    * agreement-pattern table — every parameter ppm-quantized with the
    * same integer rounding and clamps, every E-step double written in
    * the same operation order, so a drift anywhere in the recurrence
    * shifts an integer. */
  lazy val fellegiSunterOracleSql: String = {
    // per-pattern likelihood factors under params from CTE `par$i`
    def pm(i: Int) =
      s"""(CASE WHEN pc.g_jw = 1 THEN par$i.m1 ELSE 1000000 - par$i.m1 END / 1e6)
         | * (CASE WHEN pc.g_brand = 1 THEN par$i.m2 ELSE 1000000 - par$i.m2 END / 1e6)
         | * (CASE WHEN pc.g_size = 1 THEN par$i.m3 ELSE 1000000 - par$i.m3 END / 1e6)""".stripMargin
    def pu(i: Int) =
      s"""(CASE WHEN pc.g_jw = 1 THEN par$i.u1 ELSE 1000000 - par$i.u1 END / 1e6)
         | * (CASE WHEN pc.g_brand = 1 THEN par$i.u2 ELSE 1000000 - par$i.u2 END / 1e6)
         | * (CASE WHEN pc.g_size = 1 THEN par$i.u3 ELSE 1000000 - par$i.u3 END / 1e6)""".stripMargin
    def mStep(bit: String, w: String) =
      s"""CAST(GREATEST(1, LEAST(999999,
         |  (SUM(CASE WHEN $bit = 1 THEN $w * n ELSE 0 END) * 1000000 + SUM($w * n) // 2)
         |  // GREATEST(SUM($w * n), 1))) AS BIGINT)""".stripMargin
    val iters = (1 to 3).map { k =>
      val j = k - 1
      s"""e$k AS (
         |  SELECT pc.g_jw, pc.g_brand, pc.g_size, pc.n,
         |    CAST(FLOOR((par$j.p / 1e6) * (${pm(j)})
         |      / ((par$j.p / 1e6) * (${pm(j)})
         |         + (1.0 - par$j.p / 1e6) * (${pu(j)})) * 1e6 + 0.5) AS BIGINT) AS wq
         |  FROM pc CROSS JOIN par$j),
         |par$k AS (
         |  SELECT
         |    ${mStep("g_jw", "wq")} AS m1,
         |    ${mStep("g_brand", "wq")} AS m2,
         |    ${mStep("g_size", "wq")} AS m3,
         |    ${mStep("g_jw", "(1000000 - wq)")} AS u1,
         |    ${mStep("g_brand", "(1000000 - wq)")} AS u2,
         |    ${mStep("g_size", "(1000000 - wq)")} AS u3,
         |    CAST(GREATEST(1, LEAST(999999,
         |      (SUM(wq * n) + SUM(n) // 2) // SUM(n))) AS BIGINT) AS p
         |  FROM e$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH ids0 AS (SELECT p_name, MIN(p_brand) AS brand, MIN(p_size) AS psize
       |              FROM part GROUP BY 1),
       |ids AS MATERIALIZED (SELECT p_name, brand, psize,
       |                            split_part(p_name, ' ', 1) AS blk FROM ids0),
       |pc AS MATERIALIZED (
       |  SELECT CAST(CASE WHEN FLOOR(jaro_winkler_similarity(a.p_name, b.p_name)
       |                     * 10000.0 + 0.5) / 10000.0 >= 0.92
       |              THEN 1 ELSE 0 END AS BIGINT) AS g_jw,
       |         CAST(CASE WHEN a.brand = b.brand THEN 1 ELSE 0 END AS BIGINT) AS g_brand,
       |         CAST(CASE WHEN a.psize = b.psize THEN 1 ELSE 0 END AS BIGINT) AS g_size,
       |         CAST(COUNT(*) AS BIGINT) AS n
       |  FROM ids a JOIN ids b ON a.blk = b.blk AND a.p_name < b.p_name
       |  GROUP BY 1, 2, 3),
       |par0 AS (SELECT CAST(900000 AS BIGINT) AS m1, CAST(900000 AS BIGINT) AS m2,
       |                CAST(900000 AS BIGINT) AS m3, CAST(100000 AS BIGINT) AS u1,
       |                CAST(100000 AS BIGINT) AS u2, CAST(100000 AS BIGINT) AS u3,
       |                CAST(100000 AS BIGINT) AS p),
       |$iters
       |SELECT pc.g_jw, pc.g_brand, pc.g_size, pc.n AS n_pairs,
       |       CAST(FLOOR((par3.p / 1e6) * (${pm(3)})
       |         / ((par3.p / 1e6) * (${pm(3)})
       |            + (1.0 - par3.p / 1e6) * (${pu(3)})) * 1e6 + 0.5) AS BIGINT) AS w_ppm,
       |       FLOOR(LN((${pm(3)}) / (${pu(3)})) / LN(2.0) * 10000.0 + 0.5)
       |         / 10000.0 AS log2_odds
       |FROM pc CROSS JOIN par3
       |ORDER BY pc.g_jw, pc.g_brand, pc.g_size""".stripMargin
  }

  /** Split-conformal prediction intervals (Vovk; the
    * distribution-free uncertainty wrapper production scoring
    * pipelines bolt onto ANY point model): a per-priority mean-cents
    * model fits on 3/5 of orders, the calibration fifth supplies
    * q̂ = the ⌈0.9·(n+1)⌉-th smallest absolute residual, and the test
    * fifth measures empirical coverage of μ ± q̂ (guaranteed ≥ 90%
    * in expectation by exchangeability). Everything is exact
    * integers — the model is an integer DIV mean, residuals are
    * cent deltas, q̂ is an exact rank selection under a (residual,
    * key) total order — so both engines pick the identical quantile
    * element. In production the calibration set is a bounded sample,
    * which is what keeps the per-group rank window safe at corpus
    * scale. */
  def qConformalInterval(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d).select(
      col("o_orderpriority").as("prio"), col("o_orderkey").as("okey"),
      floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("c"))
    val fit = o.filter(col("okey") % 5 >= 2).groupBy("prio")
      .agg(count(lit(1)).as("n_train"),
        expr("CAST(SUM(c) DIV COUNT(*) AS BIGINT)").as("mu_cents"))
      .localCheckpoint(true) // |prios| rows; broadcast at calib AND test (r15)
    // n_calib rides the SAME prio partition as the rank window (one
    // exchange serves both), so the separate count-aggregate +
    // broadcast join — which re-ran the calib join+window — is gone
    // (6 orders scans -> 3, r15)
    val calib = o.filter(col("okey") % 5 === 1)
      .join(broadcast(fit), "prio")
      .withColumn("r", abs(col("c") - col("mu_cents")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("prio").orderBy(col("r"), col("okey"))))
      .withColumn("n_calib",
        count(lit(1)).over(Window.partitionBy("prio")).cast("long"))
    val qhat = calib
      .filter(col("rk").cast("long") === expr("((n_calib + 1) * 9 + 9) DIV 10"))
      .select(col("prio"), col("n_calib"), col("r").as("qhat_cents"))
    o.filter(col("okey") % 5 === 0)
      .join(broadcast(fit), "prio")
      .join(broadcast(qhat), "prio")
      .groupBy("prio", "n_train", "mu_cents", "n_calib", "qhat_cents")
      .agg(count(lit(1)).as("n_test"),
        sum((abs(col("c") - col("mu_cents")) <= col("qhat_cents"))
          .cast("long")).as("covered"))
      .select(col("prio"), col("n_train"), col("mu_cents"),
        col("n_calib"), col("qhat_cents"), col("n_test"),
        r4(col("covered").cast("double") / col("n_test")).as("coverage"))
      .orderBy("prio")
  }

  /** Multinomial Naive Bayes language classifier, trained AND
    * evaluated in-engine: add-one-smoothed token likelihoods per
    * language on a deterministic 80/20 split (doc_id % 5), argmax
    * scoring of the held-out fifth, confusion-matrix output. Scores
    * are EXACT integers: each (token, lang) log-likelihood is
    * quantized once to micro-nats (both engines floor the identical
    * IEEE double), and per-document totals are integer sums — no
    * float accumulation, so the argmax (tie-break: lang asc) can
    * never flap. The smoothing identity keeps the plan sparse:
    * score = prior + n_tok·default(lang) + Σ cnt·(logp − default),
    * so only (token, lang) pairs SEEN in training join the test
    * tokens — the model table is vocabulary-sized and the join is a
    * plain shuffle on token (AQE broadcasts if it fits; no
    * vocabulary-sized broadcast hint — the q_bm25 lesson). Per-lang
    * constants (5 rows) are the only broadcasts. */
  def qNaiveBayes(s: SparkSession, d: String): DataFrame = {
    def unats(x: Column): Column = floor(log(x) * 1e6 + 0.5).cast("long")
    // r15 note: checkpointing the tokenized corpus here was measured
    // SLOWER in the full bench (1.59 -> 1.77 s) — materializing the
    // token arrays costs more than the tokenize passes it saves; the
    // langStats merge below (one aggregate + window instead of two
    // corpus passes + an extra broadcast) is kept
    val docs = documents(s, d)
      .select(col("doc_id"), col("lang"), TextOps.tokens(col("text")).as("toks"))
    val train = docs.filter(col("doc_id") % 5 =!= 0)
    val test = docs.filter(col("doc_id") % 5 === 0)
    // (lang, token) counts — the only corpus-sized training shuffle
    val twc = train.select(col("lang"), explode(col("toks")).as("w"))
      .groupBy("lang", "w").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val vocab = twc.agg(countDistinct("w").as("v"))
    // per-lang doc counts and the global n_train from ONE aggregate
    // (the total is a window over the ≤|langs|-row result), not two
    // more passes + an extra broadcast
    val langStats = train.groupBy("lang").agg(count(lit(1)).as("nd"))
      .withColumn("n_train", sum("nd").over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
    val langs = twc.groupBy("lang").agg(sum("c").as("tot"))
      .join(langStats, "lang")
      .crossJoin(broadcast(vocab))
      .select(col("lang"),
        unats(col("nd").cast("double") / col("n_train")).as("prior_u"),
        unats(lit(1.0) / (col("tot") + col("v")).cast("double")).as("default_u"),
        (col("tot") + col("v")).as("denom"))
    val model = twc.join(broadcast(langs.select("lang", "denom", "default_u")), "lang")
      .select(col("w"), col("lang"),
        (unats((col("c") + 1L).cast("double") / col("denom").cast("double"))
          - col("default_u")).as("delta_u"))
    val testTok = test.select(col("doc_id"), explode(col("toks")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
    val dl = testTok.join(model, "w")
      .groupBy("doc_id", "lang").agg(sum(col("cnt") * col("delta_u")).as("ds"))
    val scored = test
      .select(col("doc_id"), col("lang").as("lang_true"),
        size(col("toks")).cast("long").as("n_tok"))
      .crossJoin(broadcast(langs.select("lang", "prior_u", "default_u")))
      .join(dl, Seq("doc_id", "lang"), "left")
      .select(col("doc_id"), col("lang_true"), col("lang"),
        (col("prior_u") + col("n_tok") * col("default_u")
          + coalesce(col("ds"), lit(0L))).as("score_u"))
    scored.groupBy("doc_id", "lang_true")
      .agg(min(struct((-col("score_u")).as("ns"), col("lang"))).as("best"))
      .groupBy(col("lang_true"), col("best")("lang").as("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang_true", "lang_pred")
  }

  /** Isotonic regression of purchase rate on value bucket via PAVA
    * (pool-adjacent-violators, Barlow et al. 1972) — the calibration
    * fit every score-to-probability mapping pipeline runs (sklearn's
    * `IsotonicRegression`, CTR calibration). The corpus collapses to
    * a ≤20-row bucket histogram in ONE map-side-combinable aggregate
    * — at 100 TB the same single shuffle — and PAVA then pools the
    * BOUNDED bucket table on the driver (same bounded-collect
    * contract as the k-means sample / dict codes: O(bins), never
    * corpus rows). Pool means are exact rationals (Σs, Σw integers);
    * the strict-violation merge (s_prev·w_cur > s_cur·w_prev, integer
    * cross-multiplication) makes the pool walk engine-exact, and the
    * DuckDB oracle replays the identical merge sequence as a bounded
    * recursive CTE over a struct-list state (19 statically-bounded
    * steps — the fixpoint is the unique L2 projection either way).
    * Fitted rates are floor-quantized micro-units of the pool
    * rationals. */
  def qIsotonic(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val bins = events(s, d)
      .select(least(floor(col("value") / 50).cast("long"), lit(19L)).as("bucket"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("w"), sum("y").as("s"))
      .orderBy("bucket")
      .collect() // ≤ 20 rows — the bounded bucket table, never corpus rows
    val stack = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
    bins.foreach { r =>
      stack += Array(r.getLong(0), r.getLong(1), r.getLong(2))
      while (stack.length > 1 && {
        val a = stack(stack.length - 2); val b = stack.last
        a(2) * b(1) > b(2) * a(1) // mean(prev) > mean(cur), exact ints
      }) {
        val b = stack.remove(stack.length - 1)
        val a = stack.last
        a(1) += b(1); a(2) += b(2)
      }
    }
    def microRate(sv: Long, w: Long): Long =
      math.floor(sv / w.toDouble * 1e6 + 0.5).toLong
    val fitted = bins.map { r =>
      val (b, w, sv) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val pool = stack.filter(_(0) <= b).last
      (b, w, sv, microRate(sv, w), microRate(pool(2), pool(1)))
    }.toSeq
    fitted.toDF("bucket", "n", "n_pos", "raw_rate_u", "iso_rate_u")
      .orderBy("bucket")
  }

  /** One ALS half-step (Koren/Bell/Volinsky 2009; Zhou et al. 2008) —
    * the matrix-factorization LEARNING stage the recommender family
    * ([[qItemSim]], co-purchase, the eval battery) sits on top of.
    * Alternating least squares fixes one factor side and solves the
    * other side's per-entity ridge regression INDEPENDENTLY — which is
    * exactly why ALS distributes: with item factors fixed, every user's
    * solve touches only that user's ratings. Here the item side is a
    * deterministic md5-derived integer factor table (f ∈ [−2,2]², the
    * fixed side of the alternation; production seeds randomly — the
    * step's algebra is identical) and the user side solves the d=2
    * ridge normal equations (XᵀX + λI)w = Xᵀr in CLOSED FORM:
    *   det = a11·a22 − a12²,  w1 = (a22·b1 − a12·b2)/det,
    *   w2 = (a11·b2 − a12·b1)/det,   λ = 1.
    * All five Gram/moment sums are exact long sums of small-integer
    * products (ridge makes det ≥ 1 by Cauchy–Schwarz), so the solve is
    * an integer rational both engines evaluate identically; w1/w2 are
    * reported as exact numerator/det longs plus one quantized double.
    * Bound: |a22·b1| ≤ (4n+1)·700n for n = items/user (qty ≤ 350 per
    * pair at bench scale) — exact in a long to n ≈ 5e4 items/user and
    * inside 2⁵³ after the ×10⁴ quantization; a 100 TB run lifts the two
    * final products to DECIMAL.
    * Distributed shape: one fact-fact shuffle join (orders ⋈ lineitem),
    * one (user,part) aggregate, factors derived MAP-SIDE from the hash
    * (no factor-table join at all — the fixed side travels as code, the
    * degenerate-but-real analog of broadcasting k×d centroids), then
    * one map-side-combinable per-user Gram aggregate and a projection
    * solve. Nothing driver-side; per-user cost is O(ratings). */
  def qAlsStep(s: SparkSession, d: String): DataFrame = {
    val ratings = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      .join(lineitem(s, d).select(col("l_orderkey"), col("l_partkey"),
        col("l_quantity")), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .agg(sum(floor(col("l_quantity") + 0.5).cast("long")).as("r"))
    def fac(off: Int): Column =
      (conv(substring(md5(col("p").cast("string")), off, 4), 16, 10)
        .cast("long") % 5L) - 2L
    val gram = ratings
      .withColumn("f1", fac(1)).withColumn("f2", fac(5))
      .groupBy("c")
      .agg(
        count(lit(1)).as("n_items"),
        sum("r").as("sum_r"),
        (sum(col("f1") * col("f1")) + 1L).as("a11"),
        (sum(col("f2") * col("f2")) + 1L).as("a22"),
        sum(col("f1") * col("f2")).as("a12"),
        sum(col("f1") * col("r")).as("b1"),
        sum(col("f2") * col("r")).as("b2"))
    gram
      .withColumn("det", col("a11") * col("a22") - col("a12") * col("a12"))
      .withColumn("w1_num", col("a22") * col("b1") - col("a12") * col("b2"))
      .withColumn("w2_num", col("a11") * col("b2") - col("a12") * col("b1"))
      .select(
        col("c").cast("long").as("custkey"),
        col("n_items"), col("sum_r"),
        col("det"), col("w1_num"), col("w2_num"),
        (floor(col("w1_num").cast("double") * 10000.0 / col("det") + 0.5)
          / 10000.0).as("w1"),
        (floor(col("w2_num").cast("double") * 10000.0 / col("det") + 0.5)
          / 10000.0).as("w2"))
      .orderBy("custkey")
  }

  /** DuckDB oracle for [[qAlsStep]]: the identical md5 factor table and
    * closed-form 2×2 ridge solve — any drift in a factor digit, a Gram
    * sum, or the determinant algebra shifts an exact integer. */
  val alsStepOracleSql: String =
    """WITH r AS (
      |  SELECT o_custkey AS c, l_partkey AS p,
      |         CAST(SUM(CAST(FLOOR(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS r
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  GROUP BY 1, 2),
      |f AS (
      |  SELECT c, p, r,
      |         ('0x' || substr(md5(CAST(p AS VARCHAR)), 1, 4))::BIGINT % 5 - 2 AS f1,
      |         ('0x' || substr(md5(CAST(p AS VARCHAR)), 5, 4))::BIGINT % 5 - 2 AS f2
      |  FROM r),
      |g AS (
      |  SELECT c, COUNT(*) AS n_items, CAST(SUM(r) AS BIGINT) AS sum_r,
      |         CAST(SUM(f1 * f1) + 1 AS BIGINT) AS a11,
      |         CAST(SUM(f2 * f2) + 1 AS BIGINT) AS a22,
      |         CAST(SUM(f1 * f2) AS BIGINT) AS a12,
      |         CAST(SUM(f1 * r) AS BIGINT) AS b1,
      |         CAST(SUM(f2 * r) AS BIGINT) AS b2
      |  FROM f GROUP BY 1)
      |SELECT CAST(c AS BIGINT) AS custkey, n_items, sum_r,
      |       a11 * a22 - a12 * a12 AS det,
      |       a22 * b1 - a12 * b2 AS w1_num,
      |       a11 * b2 - a12 * b1 AS w2_num,
      |       FLOOR(CAST(a22 * b1 - a12 * b2 AS DOUBLE) * 10000.0
      |             / (a11 * a22 - a12 * a12) + 0.5) / 10000.0 AS w1,
      |       FLOOR(CAST(a11 * b2 - a12 * b1 AS DOUBLE) * 10000.0
      |             / (a11 * a22 - a12 * a12) + 0.5) / 10000.0 AS w2
      |FROM g ORDER BY custkey""".stripMargin
}
