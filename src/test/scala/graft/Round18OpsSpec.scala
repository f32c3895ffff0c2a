package graft

import org.apache.spark.sql.functions._

import graft.engine.ScaleOps

/** Round-18 additions: the reusable quantile-sketch SQL aggregate and
  * the structural ceiling-bounds guarantee. */
class Round18OpsSpec extends SparkSuite {

  test("graft_quantile_sketch: bins match an in-JVM histogram; merge across partitions is exact") {
    import spark.implicits._
    // deterministic values over a domain that does NOT divide 256
    // (W = 1001, so every bin boundary exercises the ceil arithmetic),
    // spread over 7 partitions so the partial/merge path genuinely runs
    val vals = (0 until 5000).map(i => (i.toLong * 7919) % 1001)
    val df = vals.toDF("v").repartition(7)
    df.createOrReplaceTempView("qs_vals")
    val bins = spark.sql(
      "SELECT graft_quantile_sketch(v, 0L, 1000L) AS bins FROM qs_vals")
      .head.getSeq[Long](0)
    assert(bins.length == 256)
    // third implementation: plain Scala histogram with the same binning
    val expected = new Array[Long](256)
    vals.foreach { v => expected(((v - 0L) * 256 / 1001).toInt) += 1 }
    assert(bins.toArray.toSeq == expected.toSeq,
      "distributed sketch must equal the in-JVM histogram bin-for-bin")
    assert(bins.sum == 5000L, "total count conserved through merge")
  }

  test("graft_quantile_sketch: out-of-domain values clamp to edge bins, nulls skipped") {
    import spark.implicits._
    Seq[java.lang.Long](-50L, 0L, 100L, 999L, 5000L, null)
      .toDF("v").createOrReplaceTempView("qs_clamp")
    val bins = spark.sql(
      "SELECT graft_quantile_sketch(v, 0L, 999L) AS bins FROM qs_clamp")
      .head.getSeq[Long](0)
    assert(bins.head == 2L, "-50 clamps into bin 0 next to the true 0")
    assert(bins.last == 2L, "5000 clamps into bin 255 next to the true 999")
    assert(bins.sum == 5L, "null contributes nothing")
  }

  test("ceiling bin bounds exactly tile the binning map (inside_bin structural)") {
    // for W not divisible by 256, every offset must land in exactly one
    // bin whose [bin_lo, bin_hi] ceiling bounds contain it — the claim
    // the round-9 floor bounds violated at almost every bin's top cent
    for (w <- Seq(1001L, 257L, 255L, 300L, 65537L)) {
      var off = 0L
      while (off < w) {
        val bin = off * 256 / w
        val lo = (bin * w + 255) / 256
        val hi = ((bin + 1) * w + 255) / 256 - 1
        assert(off >= lo && off <= hi,
          s"offset $off of W=$w escapes its bin $bin bounds [$lo, $hi]")
        off += math.max(1L, w / 997)  // dense-ish sweep incl. boundaries
      }
      // explicit top-of-bin sweep: the exact cents the old bounds lost.
      // lo > hi marks an EMPTY bin (W < 256 has more bins than offsets)
      // — vacuous bounds with nothing to map back.
      for (bin <- 0L until 256L) {
        val lo = (bin * w + 255) / 256
        val hi = ((bin + 1) * w + 255) / 256 - 1
        if (lo <= hi && hi < w) {
          assert(lo * 256 / w == bin,
            s"bin_lo $lo of W=$w must map back to bin $bin")
          assert(hi * 256 / w == bin,
            s"bin_hi $hi of W=$w must map back to bin $bin")
        }
      }
    }
  }

  test("q_quantile_sketch_sql: deciles monotone, inside_bin all 1, counts consistent") {
    val out = ScaleOps.qQuantileSketchSql(spark, sf).collect()
    assert(out.length == 9)
    assert(out.forall(_.getAs[Int]("inside_bin") == 1))
    val bounds = out.map(r => (r.getAs[Long]("bin_lo_cents"),
      r.getAs[Long]("bin_hi_cents"), r.getAs[Long]("exact_cents")))
    bounds.foreach { case (lo, hi, ex) =>
      assert(lo <= hi && ex >= lo && ex <= hi)
    }
    val binIds = out.map(_.getAs[Long]("bin_id"))
    assert(binIds.zip(binIds.tail).forall { case (a, b) => a <= b },
      "decile bins must be monotone in p")
  }
}
