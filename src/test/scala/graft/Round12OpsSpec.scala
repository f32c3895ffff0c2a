package graft

import graft.engine.{AnalyticsOps, CurationOps, MiningOps, RelationalExt, StatsOps, TextOps, VectorOps}

/** Invariant checks for the round-12 additions — per-node clustering
  * coefficients, partition modularity, association/agreement effect
  * sizes, OHLC bars, Bollinger bands. The DuckDB differential at all
  * three SFs is the primary gate; these pin the algorithmic laws the
  * hash-compare can't express. */
class Round12OpsSpec extends SparkSuite {

  test("clustering coefficient ∈ [0,1]; triangles bounded by C(deg,2)") {
    val rows = RelationalExt.qClusteringCoeff(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (deg, nTri, cc) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(deg >= 2, s"only deg>=2 nodes defined: $r")
      assert(nTri <= deg * (deg - 1) / 2,
        s"more triangles than neighbor pairs: $r")
      assert(cc >= 0.0 && cc <= 1.0, s"coefficient out of range: $r")
    }
  }

  test("modularity: intra edges bounded, degree sums total 2m, Q in [-1,1]") {
    val rows = RelationalExt.qModularity(spark, sf).collect()
    assert(rows.nonEmpty)
    val m = rows.head.getLong(3)
    assert(rows.map(_.getLong(3)).forall(_ == m), "m must be global")
    assert(rows.map(_.getLong(2)).sum == 2 * m,
      "brand degree sums must total 2m")
    assert(rows.map(_.getLong(1)).sum <= m,
      "intra-brand edges cannot exceed all edges")
    val q = rows.map(_.getDouble(4)).sum
    assert(q >= -1.0 && q <= 1.0, s"modularity out of range: $q")
  }

  test("Cramér's V ∈ [0,1] and χ² non-negative") {
    val r = AnalyticsOps.qCramersV(spark, sf).head
    assert(r.getDouble(2) >= 0.0, s"chi2 negative: $r")
    val v = r.getDouble(3)
    assert(v >= 0.0 && v <= 1.0, s"V out of range: $v")
  }

  test("Cohen's kappa ≤ accuracy's chance-corrected bound and ≤ 1") {
    val r = TextOps.qCohenKappa(spark, sf).head
    val (n, agree, peNum, kappa) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    assert(agree <= n && peNum <= n * n)
    assert(kappa <= 1.0, s"kappa > 1: $r")
    // kappa and raw accuracy sit on the same side of the chance rate
    val acc = agree.toDouble / n
    val pe = peNum.toDouble / (n.toDouble * n)
    assert((kappa >= 0) == (acc >= pe), s"kappa sign disagrees: $r")
  }

  test("OHLC bars: low ≤ open/close/mean ≤ high, totals consistent") {
    val rows = AnalyticsOps.qOhlcBars(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, o, h, l, c, tot, mean) = (r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8))
      assert(l <= o && o <= h, s"open outside range: $r")
      assert(l <= c && c <= h, s"close outside range: $r")
      assert(l <= mean && mean <= h, s"mean outside range: $r")
      assert(tot >= n * l && tot <= n * h, s"total outside bounds: $r")
    }
  }

  test("MRR@10 bounded by hit rate: n_hits/n ≥ mrr ≥ n_hits/(10n)") {
    val r = RelationalExt.qMrrAt10(spark, sf).head
    val (n, hits, rrSum, mrr) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    assert(hits <= n)
    // each hit contributes between 2520/10 and 2520/1
    assert(rrSum >= hits * 252 && rrSum <= hits * 2520,
      s"rr sum outside lcm bounds: $r")
    assert(mrr >= 0.0 && mrr <= 1.0)
  }

  test("changepoint: split interior, gain non-negative, means bracket total mean") {
    val rows = StatsOps.qChangepoint(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nl, nr) = (r.getLong(2), r.getLong(3))
      assert(nl >= 1 && nr >= 1, s"split not interior: $r")
      assert(r.getLong(6) >= 0, s"SSE reduction negative: $r")
      val (ml, mr) = (r.getLong(4), r.getLong(5))
      assert(ml != mr || r.getLong(6) == 0,
        s"identical segment means need zero gain: $r")
    }
  }

  test("seasonal-naive forecast eval: MAE bounded by per-day errors") {
    val rows = StatsOps.qForecastBaseline(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, sumErr, mae, mape) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(n > 0 && mae >= 0 && mape >= 0)
      assert(math.abs(mae - sumErr.toDouble / n) <= 1.0,
        s"MAE not the mean of errors: $r")
    }
  }

  test("Brier score per class ∈ [0, 1e6] micro-units") {
    val rows = TextOps.qBrier(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val b = r.getLong(2)
      assert(b >= 0 && b <= 1000000L, s"brier out of range: $r")
    }
  }

  test("SQL-registered native cosine matches the Column-API expression") {
    val viaSql = VectorOps.qSqlNative(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(viaSql.nonEmpty)
    val emb = graft.engine.Tables.embeddings(spark, sf)
    val q = emb.filter(org.apache.spark.sql.functions.col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0)
    val qLit = org.apache.spark.sql.functions.array(
      q.map(org.apache.spark.sql.functions.lit): _*)
    val viaCol = emb
      .filter(org.apache.spark.sql.functions.expr("vec_id % 20 = 0 AND vec_id <> 0"))
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.round(
          VectorOps.nativeCosine(org.apache.spark.sql.functions.col("embedding"), qLit), 6))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaSql == viaCol, "SQL path and Column path disagree")
  }

  test("NDCG@10 bounded by hit rate and ≥ MRR-style floor") {
    val r = RelationalExt.qNdcgAt10(spark, sf).head
    val (n, hits, gainSum, ndcg) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    assert(hits <= n)
    // each hit's discount is in [289065, 1000000] micro-units
    assert(gainSum >= hits * 289065L && gainSum <= hits * 1000000L,
      s"gain outside discount bounds: $r")
    assert(ndcg >= 0.0 && ndcg <= 1.0)
    // binary relevance: NDCG@10 >= MRR-ish ordering sanity vs hit rate
    assert(ndcg <= hits.toDouble / n + 1e-9)
  }

  test("temperature sampling: p_sampled sums to ~1 and flattens the mix") {
    val rows = CurationOps.qTemperatureSampling(spark, sf).collect()
    assert(rows.nonEmpty)
    val pNat = rows.map(_.getDouble(2))
    val pSam = rows.map(_.getDouble(3))
    assert(math.abs(pNat.sum - 1.0) < 1e-4)
    assert(math.abs(pSam.sum - 1.0) < 1e-4)
    // α = 0.5 contracts toward uniform: sampled shares are less spread
    assert(pSam.max - pSam.min <= pNat.max - pNat.min + 1e-9,
      "temperature must flatten the distribution")
    // boosts: rare languages get boost > 1, the dominant one < 1
    rows.foreach { r =>
      val (nat, boost) = (r.getDouble(2), r.getDouble(4))
      if (nat < 0.1) assert(boost > 1.0, s"rare lang not boosted: $r")
    }
  }

  test("DBSCAN core points: lattice interior is core, neighbor counts symmetric-ish") {
    val rows = RelationalExt.qDbscanCore(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, nearest, core) = (r.getLong(1), r.getDouble(2), r.getBoolean(3))
      assert(core == (n >= 3), s"core flag disagrees with count: $r")
      if (n > 0) assert(nearest > 0.0 && nearest <= 15.0, s"nearest outside eps: $r")
      else assert(nearest == -1.0)
    }
    // the ~11km lattice spacing means interior points see ≥4 neighbors
    // within 15 km — but only once the lattice is 2-D (>40 users;
    // the sf0.001 fixture has 15, a 1-D line where max degree is 2)
    if (rows.length > 40)
      assert(rows.exists(_.getBoolean(3)), "no core points on a dense lattice")
    else
      assert(rows.forall(r => r.getLong(1) <= 2),
        "1-D lattice cannot have more than 2 neighbors in range")
  }

  test("isotonic fit is non-decreasing and weight-mean-preserving") {
    val rows = MiningOps.qIsotonic(spark, sf).collect()
    assert(rows.nonEmpty)
    val iso = rows.map(_.getLong(4))
    iso.sliding(2).foreach { case Array(a, b) =>
      assert(b >= a, s"isotonic fit decreased: ${iso.mkString(",")}")
    case _ => ()
    }
    // Σ w·iso_rate ≈ Σ n_pos (PAVA preserves the weighted mean)
    val wSum = rows.map(r => r.getLong(1) * r.getLong(4)).sum / 1e6
    val sSum = rows.map(_.getLong(2)).sum.toDouble
    assert(math.abs(wSum - sSum) < 1.0,
      s"PAVA must preserve the weighted mean: $wSum vs $sSum")
  }

  test("label propagation: communities partition nodes, labels are members") {
    val rows = RelationalExt.qLabelPropagation(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (lbl, n, mn, mx) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(n >= 2)
      assert(mn <= mx)
    }
    // community ids are distinct (it's a partition keyed by label)
    val ids = rows.map(_.getLong(0))
    assert(ids.distinct.length == ids.length)
  }

  test("Kendall tau-b ∈ [-1,1] and sign-matches S") {
    val rows = MiningOps.qKendallTau(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, sStat, n0, n2, tau) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))
      assert(n0 == n * (n - 1) / 2)
      assert(n2 >= 0 && n2 < n0)
      assert(tau >= -1.0 && tau <= 1.0, s"tau out of range: $r")
      assert(math.signum(tau) == math.signum(sStat.toDouble) || sStat == 0)
    }
  }

  test("jackknife SE of the ratio estimator is small and non-negative") {
    val r = StatsOps.qJackknife(spark, sf).head
    val (dd, nEv, nP, rate, se) = (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4))
    assert(nP <= nEv)
    assert(rate >= 0 && rate <= 1000000L)
    assert(se >= 0, s"negative SE: $r")
    // delete-one-day perturbations of a stable daily rate are tiny
    assert(se < rate.max(1L), s"jackknife SE larger than the rate itself: $r")
    assert(dd >= 2)
  }

  test("Brown–Forsythe W non-negative; sums of squares positive") {
    val r = StatsOps.qLevene(spark, sf).head
    assert(r.getLong(0) >= 2, "needs at least two groups")
    assert(r.getLong(2) >= 0 && r.getLong(3) > 0)
    assert(r.getDouble(4) >= 0.0, s"W negative: $r")
  }

  test("Fano factor positive; dispersion stat = (d-1)·fano") {
    val rows = StatsOps.qFano(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (d, fano, disp) = (r.getLong(1), r.getDouble(3), r.getDouble(4))
      assert(fano > 0.0)
      assert(math.abs(disp - fano * (d - 1)) <= 0.01 * (d - 1) + 0.01,
        s"dispersion inconsistent with fano: $r")
    }
  }

  test("lift/gains: cumulative gain monotone to 1, top decile lift ≥ 1 ordering") {
    val rows = AnalyticsOps.qLiftGains(spark, sf).collect()
    assert(rows.length == 10, s"expected 10 deciles, got ${rows.length}")
    val gains = rows.map(_.getLong(3))
    gains.sliding(2).foreach { case Array(a, b) => assert(b >= a)
    case _ => () }
    assert(gains.last == 1000000L, "cumulative gain must end at 1")
    assert(rows.last.getLong(4) == 10000L, "full-population lift is exactly 1")
  }

  test("punchcard: dow ∈ [0,6], hour ∈ [0,23], counts total the stream") {
    val rows = AnalyticsOps.qPunchcard(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) >= 0 && r.getLong(0) <= 6)
      assert(r.getLong(1) >= 0 && r.getLong(1) <= 23)
    }
    val total = rows.map(_.getLong(2)).sum
    assert(total == graft.engine.Tables.events(spark, sf).count())
  }

  test("Simpson diversity ∈ [0,1); effective sources ≤ richness") {
    val rows = CurationOps.qSimpsonDiversity(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nSrc, d) = (r.getLong(1), r.getDouble(3))
      assert(d >= 0.0 && d < 1.0, s"D out of range: $r")
      // the UNBIASED n(n−1) estimator's effective number may slightly
      // exceed richness on near-uniform small samples (its plug-in
      // Σp² counterpart cannot) — so only the ≥1 law holds here
      if (!r.isNullAt(4))
        assert(r.getDouble(4) >= 1.0 - 1e-9,
          s"effective sources below 1: $r (richness $nSrc)")
    }
  }

  test("ABC classification: shares sum to 1, A-class respects the 80% cut") {
    val rows = AnalyticsOps.qAbcClass(spark, sf).collect()
    assert(rows.nonEmpty)
    val byCls = rows.map(r => r.getString(0) ->
      (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    val shareSum = rows.map(_.getLong(3)).sum
    assert(math.abs(shareSum - 1000000L) <= rows.length,
      s"shares must sum to ~1e6: $shareSum")
    byCls.get("A").foreach { case (_, _, share) =>
      assert(share <= 800000L + 10000L, s"A share far above 80%: $share")
    }
    assert(byCls.keySet.subsetOf(Set("A", "B", "C")))
  }

  test("audience overlap: intersection bounded by both sets, Jaccard in [0,1]") {
    val rows = AnalyticsOps.qAudienceOverlap(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (na, nb, common, j) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))
      assert(common <= math.min(na, nb), s"intersection too big: $r")
      assert(j >= 0.0 && j <= 1.0, s"jaccard out of range: $r")
    }
  }

  test("gap histogram: buckets are floor(log2), min/max stay inside the bucket") {
    val rows = AnalyticsOps.qGapHistogram(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (b, mn, mx) = (r.getLong(1), r.getLong(3), r.getLong(4))
      assert(mn >= (1L << b) && mx < (1L << (b + 1)),
        s"gap outside its power-of-2 bucket: $r")
    }
  }

  test("Bollinger: sigma ≥ 0, breach flags mutually exclusive and correct side") {
    val rows = StatsOps.qBollinger(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (x, mean, sigma) = (r.getLong(2), r.getDouble(3), r.getDouble(4))
      val (hi, lo) = (r.getBoolean(5), r.getBoolean(6))
      assert(sigma >= 0.0, s"negative sigma: $r")
      assert(!(hi && lo), s"both breach flags set: $r")
      if (hi) assert(x > mean, s"hi breach below mean: $r")
      if (lo) assert(x < mean, s"lo breach above mean: $r")
    }
  }
}
