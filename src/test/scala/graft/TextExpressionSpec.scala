package graft

import graft.engine.TextOps
import org.apache.spark.sql.functions._

/** Native fused text expressions must agree with the HOF compositions
  * they replaced (same hash family, same semantics, fewer passes). */
class TextExpressionSpec extends SparkSuite {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "completely different words entirely here now"),
    (4L, "a"),
    (5L, "")
  ).toDF("doc_id", "text")

  test("graft_minhash_bands: fused pass equals HOF signature + polynomial banding") {
    val nHashes = 32; val bands = 8; val r = nHashes / bands
    val withSh = docs
      .withColumn("sh", TextOps.shingleHashes(TextOps.tokens(col("text")), 3))
      .filter(size(col("sh")) > 0)
    // reference computation: n independent aggregate() minima, then the
    // same polynomial combine the native expression uses
    val viaHof = withSh
      .withColumn("sig", TextOps.minhashSignature(col("sh"), nHashes))
      .select(col("doc_id"), col("sig"))
      .as[(Long, Seq[Long])].collect().map { case (id, sig) =>
        id -> (0 until bands).map { b =>
          (b * r until (b + 1) * r).foldLeft(1125899906842597L)((h, j) => h * 31 + sig(j))
        }.toSeq
      }.toMap
    val viaNative = withSh
      .select(col("doc_id"),
        call_function("graft_minhash_bands", col("sh"), lit(nHashes), lit(bands)))
      .as[(Long, Seq[Long])].collect().toMap
    assert(viaNative.keySet == viaHof.keySet)
    viaNative.foreach { case (id, bs) => assert(bs == viaHof(id), s"doc $id") }
  }

  test("graft_simhash64: fingerprint equals explode + 64-way bit-vote aggregation") {
    // reference computation: the pre-fusion shuffle formulation
    val tok = docs.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val bitSums = tok.groupBy("doc_id").agg(
      (0 until 64).map { i =>
        sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1L).otherwise(-1L)).as(s"c$i")
      }.head, (1 until 64).map { i =>
        sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1L).otherwise(-1L)).as(s"c$i")
      }: _*)
    val viaAgg = bitSums.select(col("doc_id"),
      (0 until 64).map { i =>
        when(col(s"c$i") > 0, lit(1L << i)).otherwise(lit(0L))
      }.reduce((a, b) => a.bitwiseOR(b)).as("fp"))
      .as[(Long, Long)].collect().toMap
    val viaNative = TextOps.simhashFingerprints(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    // explode drops token-less rows; the native path keeps every doc —
    // compare on the docs both produce
    viaAgg.foreach { case (id, fp) => assert(viaNative(id) == fp, s"doc $id") }
    assert(viaNative.size == 5)
  }

  test("graft_shingle_hashes: fused pass equals HOF transform/zip_with chain") {
    for (k <- Seq(2, 3, 5)) {
      val viaHof = docs
        .select(col("doc_id"),
          TextOps.shingleHashesHof(TextOps.tokens(col("text")), k).as("sh"))
        .as[(Long, Seq[Long])].collect().toMap
      val viaNative = docs
        .select(col("doc_id"),
          TextOps.shingleHashes(TextOps.tokens(col("text")), k).as("sh"))
        .as[(Long, Seq[Long])].collect().toMap
      viaHof.foreach { case (id, sh) => assert(viaNative(id) == sh, s"doc $id k=$k") }
    }
  }

  test("graft_vector_avg: equals posexplode + per-dimension avg") {
    val vecs = Seq(
      (0, Array(1.0f, 2.0f, 3.0f)),
      (0, Array(3.0f, 2.0f, 1.0f)),
      (1, Array(10.0f, 0.0f, -4.0f)),
      (1, Array(0.0f, 6.0f, 2.0f)),
      (1, Array(2.0f, 0.0f, 2.0f))
    ).toDF("g", "v")
    val viaExplode = vecs
      .select(col("g"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("g", "dim").agg(avg("x").as("m"))
      .as[(Int, Int, Double)].collect()
      .groupBy(_._1).map { case (g, rows) =>
        g -> rows.sortBy(_._2).map(_._3).toSeq
      }
    val viaNative = vecs.groupBy("g")
      .agg(call_function("graft_vector_avg", col("v")).as("m"))
      .as[(Int, Seq[Double])].collect().toMap
    viaExplode.foreach { case (g, m) =>
      assert(viaNative(g).zip(m).forall { case (a, b) => math.abs(a - b) < 1e-12 }, s"g=$g")
    }
    // empty-group / all-null input yields null, not zeros
    val withNull = Seq((0, null: Array[Float])).toDF("g", "v")
      .groupBy("g").agg(call_function("graft_vector_avg", col("v")).as("m"))
    assert(withNull.collect().head.isNullAt(1))
  }

  test("graft_minhash_bands rejects non-divisible banding at analysis") {
    val e = intercept[Exception] {
      docs.select(call_function("graft_minhash_bands",
        array(lit(1L)), lit(10), lit(3))).collect()
    }
    assert(e.getMessage.contains("divisible"))
  }

  test("graft_char_ngrams equals the substring formulation, UTF-8 safe") {
    val texts = Seq((1L, "hello world"), (2L, "ab"), (3L, "abc"),
      (4L, ""), (5L, "héllo wörld"), (6L, "日本語のテスト")).toDF("id", "t")
    val viaNative = texts
      .select(col("id"), call_function("graft_char_ngrams", col("t"), lit(3)).as("g"))
      .as[(Long, Seq[String])].collect().toMap
    val viaHof = texts
      .select(col("id"), expr(
        """filter(transform(sequence(1, greatest(char_length(t) - 2, 1)),
          |  i -> substring(t, i, 3)), g -> char_length(g) = 3)""".stripMargin).as("g"))
      .as[(Long, Seq[String])].collect().toMap
    assert(viaNative == viaHof, s"native $viaNative vs hof $viaHof")
    assert(viaNative(2L).isEmpty && viaNative(3L) == Seq("abc"))
    assert(viaNative(6L).forall(_.length == 3))
  }

  test("graft_word_ngrams equals the zip_with formulation") {
    val viaNative = docs
      .select(col("doc_id"), call_function("graft_word_ngrams",
        TextOps.tokens(col("text")), lit(2)).as("g"))
      .as[(Long, Seq[String])].collect().toMap
    val toks = TextOps.tokens(col("text"))
    val viaHof = docs
      .select(col("doc_id"), zip_with(
        slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
        slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
        (a, b) => concat_ws(" ", a, b)).as("g"))
      .as[(Long, Seq[String])].collect().toMap
    assert(viaNative == viaHof, s"native $viaNative vs hof $viaHof")
  }

  test("graft_md5_minhash equals the conv(substr(md5)) SQL formulation") {
    val toks = TextOps.tokens(col("text"))
    val shingled = docs
      .filter(size(toks) >= 3)
      .select(col("doc_id"), array_distinct(
        call_function("graft_word_ngrams", toks, lit(3))).as("sh"))
    val viaNative = shingled
      .select(col("doc_id"), call_function("graft_md5_minhash", col("sh")).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val viaSql = shingled
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
      .groupBy("doc_id")
      .agg(array((0 until 8).map { p =>
        val g = p / 2; val off = if (p % 2 == 0) 1 else 16
        min(conv(substring(md5(concat(lit(s"$g:"), col("shingle"))), off, 15),
          16, 10).cast("long"))
      }: _*).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(viaNative == viaSql)
    // empty input → empty signature (not 8 MaxValue sentinels)
    val empty = spark.sql(
      "SELECT graft_md5_minhash(CAST(array() AS array<string>)) AS s")
      .as[Seq[Long]].head()
    assert(empty.isEmpty)
  }

  /** Runs `body` with the given session confs, restoring the prior values. */
  private def withConfs(kvs: (String, String)*)(body: => Unit): Unit = {
    val prior = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("graft_md5_simhash56 equals the 56-pass HOF bit-majority fold") {
    // generated code (ConvertToLocalRelation excluded, so the fixture's
    // projection is compiled instead of folded on the driver) and
    // interpreted eval
    Seq(
      Seq("spark.sql.optimizer.excludedRules" ->
        "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"),
      Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
        "spark.sql.codegen.wholeStage" -> "false")
    ).foreach(confs => withConfs(confs: _*) {
      // extra rows force tie (2*count == n) and single-token edges; the
      // split of "" yields [""], exercising md5 of the empty token
      val corpus = docs.union(Seq(
        (6L, "x y"),          // 2 tokens: every disagreeing bit ties → set
        (7L, "same same same")
      ).toDF("doc_id", "text"))
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("tk"))
        // a null element adds no bit votes but counts in n (the HOF's
        // filter drops a null hash, its size counts it)
        .union(Seq[(Long, Seq[String])](
          (8L, Seq("a", null, "b")),
          (9L, Seq("x", null)),
          (10L, Seq(null, null))
        ).toDF("doc_id", "tk"))
      val viaNative = corpus
        .select(col("doc_id"),
          call_function("graft_md5_simhash56", col("tk")).as("fp"))
        .as[(Long, Long)].collect().toMap
      val viaHof = corpus
        .select(col("doc_id"), expr(
          "transform(tk, w -> CAST(conv(substring(md5(w), 1, 14), 16, 10) AS BIGINT))")
          .as("hs"))
        .select(col("doc_id"), expr(
          "aggregate(sequence(0, 55), CAST(0 AS BIGINT), (acc, b) -> acc + " +
            "IF(2 * size(filter(hs, h -> (shiftright(h, b) & 1) = 1)) >= size(hs), " +
            "shiftleft(CAST(1 AS BIGINT), b), CAST(0 AS BIGINT)))").as("fp"))
        .as[(Long, Long)].collect().toMap
      assert(viaNative == viaHof, s"native $viaNative vs hof $viaHof")
      // empty array: 0 >= 0 sets every bit, matching the HOF fold
      val empty = spark.sql(
        "SELECT graft_md5_simhash56(CAST(array() AS array<string>)) AS fp")
        .as[Long].head()
      assert(empty == (1L << 56) - 1)
    })
  }

  test("graft_jaro_winkler matches the standard (= DuckDB-pinned) values") {
    // r4-rounded expectations pinned from duckdb 1.0 jaro_winkler_similarity
    val cases = Seq(
      ("martha", "marhta", 0.9611),  // classic transposition example
      ("dwayne", "duane", 0.84),
      ("dixon", "dicksonx", 0.8133), // boost applied (jaro 0.7667 > 0.7)
      ("ab", "abzzzzzzzz", 0.7867),  // boost on a short prefix side
      ("abqqqq", "abzzzz", 0.5556),  // prefix 2 but jaro ≤ 0.7 → NO boost
      ("crate", "trace", 0.7333),    // prefix 0 → boost is a no-op
      ("abc", "abc", 1.0),
      ("", "abc", 0.0), ("", "", 0.0), // RapidFuzz empty rule
      ("a", "b", 0.0))
    cases.foreach { case (a, b, want) =>
      val got = spark.sql(
        s"SELECT floor(graft_jaro_winkler('$a', '$b') * 10000 + 0.5) / 10000")
        .head.getDouble(0)
      assert(got == want, s"jw($a, $b) = $got, want $want")
      // symmetric by definition
      val rev = spark.sql(
        s"SELECT floor(graft_jaro_winkler('$b', '$a') * 10000 + 0.5) / 10000")
        .head.getDouble(0)
      assert(rev == got, s"jw not symmetric on ($a, $b)")
    }
  }
}
