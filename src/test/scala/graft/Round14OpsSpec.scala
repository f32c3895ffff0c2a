package graft

import graft.engine.MultimodalOps

/** Invariant checks for the round-14 additions — IMA ADPCM sample
  * decode. The DuckDB differential at all three SFs is the primary
  * gate; these pin the codec laws the hash-compare can't express. */
class Round14OpsSpec extends SparkSuite {

  test("IMA ADPCM decoder: known nibble stream decodes through the spec tables") {
    // Hand-walked reference: pred0=100, idx0=0 (step 7).
    // nib 0x0: diff = 7>>3 = 0          → pred 100, idx -1→0
    // nib 0x7: diff = 0+7+3+1 = 11      → pred 111, idx 0+8=8 (step 16)
    // nib 0xF: diff = 2+16+8+4 = 30     → pred 81,  idx 8+8=16 (step 34)
    // nib 0x8: diff = 34>>3 = 4         → pred 77,  idx 16-1=15
    val wav = {
      val bb = java.nio.ByteBuffer.allocate(44 + 4 + 4 + 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes).putInt(40 + 6).put("WAVE".getBytes)
      bb.put("fmt ".getBytes).putInt(20).putShort(0x11.toShort)
        .putShort(1.toShort).putInt(8000).putInt(4000)
        .putShort(6.toShort).putShort(4.toShort)
        .putShort(2.toShort).putShort(5.toShort)
      bb.put("data".getBytes).putInt(6)
      bb.putShort(100.toShort).put(0.toByte).put(0.toByte)
      bb.put(0x70.toByte) // low nibble 0x0, high nibble 0x7
      bb.put(0x8f.toByte) // low nibble 0xF, high nibble 0x8
      bb.array()
    }
    val out = MultimodalOps.decodeWavAdpcm(wav).get
    assert(out.toSeq == Seq[Short](100, 100, 111, 81, 77))
  }

  test("IMA ADPCM decoder: int16 clamp and index clamp hold under saturation") {
    // All-0x7 nibbles from a high predictor push the predictor up and
    // the index to its 88 ceiling; the decode must clamp, not wrap.
    val n = 40
    val wav = {
      val nibBytes = (n - 1 + 1) / 2
      val bb = java.nio.ByteBuffer.allocate(44 + 4 + 4 + nibBytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes).putInt(40 + 4 + nibBytes).put("WAVE".getBytes)
      bb.put("fmt ".getBytes).putInt(20).putShort(0x11.toShort)
        .putShort(1.toShort).putInt(8000).putInt(4000)
        .putShort((4 + nibBytes).toShort).putShort(4.toShort)
        .putShort(2.toShort).putShort(n.toShort)
      bb.put("data".getBytes).putInt(4 + nibBytes)
      bb.putShort(30000.toShort).put(80.toByte).put(0.toByte)
      (0 until nibBytes).foreach(_ => bb.put(0x77.toByte))
      bb.array()
    }
    val out = MultimodalOps.decodeWavAdpcm(wav).get
    assert(out.length == n)
    assert(out.forall(_ <= 32767))
    assert(out.max == 32767, "saturating stream must reach the int16 ceiling")
    assert(out.forall(_ >= -32768))
  }

  test("ADPCM synth/decode twin: sample count and header-sample law at every doc shape") {
    (0L until 40L).foreach { id =>
      val a = 3 + (id % 7).toInt
      val b = (id % 512).toInt
      val n = 121 + (id % 64).toInt
      val out = MultimodalOps.decodeWavAdpcm(
        MultimodalOps.makeWavAdpcm(8000, a, b, n)).get
      assert(out.length == n, s"id=$id expected $n samples, got ${out.length}")
      // per IMA spec the block-header predictor IS sample 0
      assert(out(0) == ((b % 2048) - 1024).toShort, s"id=$id header sample")
    }
  }

  test("q_audio_adpcm_stats: invariants (peak ≤ 32768, zc < n, rms ≤ peak)") {
    val rows = MultimodalOps.qAudioAdpcmStats(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getLong(1); val peak = r.getLong(2)
      val sumAbs = r.getLong(3); val zc = r.getLong(5); val rms = r.getLong(6)
      // |−32768| = 32768: the clamp FLOOR's magnitude exceeds the ceiling's
      assert(peak <= 32768 && peak >= 0)
      assert(zc >= 0 && zc < n)
      assert(sumAbs <= n * peak)
      assert(rms <= peak * 1000 + 500)
    }
    // the compressed stream must actually exercise both signs somewhere
    assert(rows.exists(_.getLong(5) > 0), "no zero crossings anywhere — degenerate synth")
  }

  test("fellegi-sunter EM: weights ordered by agreement, probabilities in range") {
    val rows = graft.engine.MiningOps.qFellegiSunter(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 8)
    val byBits = rows.map(r =>
      ((r.getLong(0), r.getLong(1), r.getLong(2)), (r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    rows.foreach { r =>
      val w = r.getLong(4)
      assert(w >= 0 && w <= 1000000, s"w_ppm out of range: $r")
      assert(r.getLong(3) > 0)
    }
    // more agreements must never DECREASE the match weight when the
    // EM has learned informative features: compare patterns that
    // differ in exactly one bit (both present in the fixture)
    for {
      ((b1, b2, b3), (_, w, lo)) <- byBits
      k <- 0 to 2
      flipped = Seq(b1, b2, b3).updated(k, 1L - Seq(b1, b2, b3)(k))
      if Seq(b1, b2, b3)(k) == 1L
      ((_, wLess, loLess)) <- byBits.get((flipped(0), flipped(1), flipped(2)))
    } {
      assert(w >= wLess, s"agreement bit $k lowered w: $byBits")
      assert(lo >= loLess, s"agreement bit $k lowered log-odds: $byBits")
    }
  }

  test("kneser-ney: smoothed logprobs negative, discount keeps P below unsmoothed") {
    import graft.engine.TextOps
    val kn = TextOps.qKneserNey(spark, sf).collect()
    assert(kn.length > 0 && kn.length <= 100)
    kn.foreach { r =>
      assert(r.getLong(1) > 0)
      assert(r.getDouble(2) < 0.0, s"a probability ≥ 1 slipped through: $r")
    }
    // KN redistributes mass: the WORST doc under KN can never score
    // better than ln(1) = 0, and its score must be finite
    assert(kn.forall(r => !r.getDouble(2).isNaN && !r.getDouble(2).isInfinite))
  }

  test("delta-varint: compression ratio in (0,1], postings conserved") {
    import graft.engine.TextOps
    import org.apache.spark.sql.functions._
    val rows = TextOps.qDeltaVarint(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nPost = r.getLong(2); val raw = r.getLong(3); val vb = r.getLong(4)
      assert(raw == nPost * 8)
      assert(vb >= nPost && vb <= nPost * 5, s"varint bytes out of LEB128 range: $r")
      val ratio = r.getDouble(5)
      assert(ratio > 0.0 && ratio <= 1.0, s"8-byte raw ids can't lose to varints: $r")
    }
    // conservation: Σ n_postings = |distinct (doc, term)| pairs
    val expected = graft.engine.Tables.documents(spark, sf)
      .select(col("doc_id"), explode(array_distinct(TextOps.tokens(col("text")))))
      .count()
    assert(rows.map(_.getLong(2)).sum == expected)
  }

  test("mv rewrite: fires on the registered shape, equals the base answer, bails on filters") {
    import graft.engine.{ScaleOps, Tables}
    import org.apache.spark.sql.functions._
    // the oracle-gated query asserts the rewrite fired internally;
    // here, equality against an independently computed base answer
    val viaMv = ScaleOps.qMvRewrite(spark, sf).collect()
    val base = Tables.lineitem(spark, sf)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n_rows"),
        sum(floor(col("l_extendedprice") * 100.0 + 0.5).cast("long"))
          .as("sum_price_cents"),
        min("l_extendedprice").as("min_price"),
        max("l_extendedprice").as("max_price"))
      .orderBy("l_returnflag", "l_linestatus")
      .collect()
    assert(viaMv.map(_.toString).toSeq == base.map(_.toString).toSeq)
    // a FILTER breaks the bare-scan precondition: the rule must bail
    // (the MV pre-aggregates the full table, a filtered rewrite would
    // be WRONG) — with the conf armed, the plan must keep the fact scan
    spark.conf.set("graft.mv.path", "/tmp/nonexistent_mv_never_read")
    spark.conf.set("graft.mv.base", s"$sf/lineitem")
    try {
      val filtered = Tables.lineitem(spark, sf)
        .filter(col("l_quantity") > 10)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_rows"))
      val plan = filtered.queryExecution.optimizedPlan.toString
      assert(plan.contains("Filter"), "filtered aggregate must keep its filter + fact scan")
      assert(plan.contains("l_quantity"), "filtered aggregate must keep the fact relation")
      assert(!plan.contains("nonexistent_mv_never_read"),
        "rule rewrote a FILTERED aggregate — that answer would be wrong")
    } finally {
      spark.conf.set("graft.mv.path", "")
      spark.conf.set("graft.mv.base", "")
    }
  }
}
