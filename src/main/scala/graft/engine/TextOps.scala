package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/** Training-data text pipeline operators (BASELINE north star; the
  * reference has no text processing at all — SURVEY.md §2b).
  *
  * Algorithms are the published classics: MinHash resemblance
  * sketching (Broder, "On the resemblance and containment of
  * documents", 1997) with banded LSH (Indyk & Motwani 1998; the
  * b-band/r-row S-curve analysis as in Mining of Massive Datasets
  * ch.3), and 64-bit SimHash (Charikar, "Similarity estimation
  * techniques from rounding algorithms", STOC 2002) with the
  * chunk-blocking dedup of Manku et al., WWW 2007.
  *
  * Scale design rules applied throughout:
  *  - Near-dup detection is LSH-banded: candidate generation is a
  *    bucket-equijoin on (band_id, band_hash), never an O(n²) cross
  *    join. At 100 TB the bucket join shuffles on the band hash —
  *    uniformly distributed by construction.
  *  - Signatures (minhash/simhash) are computed with codegen'd
  *    higher-order functions over token arrays — one projection, no
  *    explode of per-token rows on the hot path.
  *  - A bucket-size guard drops degenerate buckets (stopword-like
  *    shingles) that would otherwise quadratically blow up a skewed
  *    key — the distributed analog of salting.
  */
object TextOps {

  val Prime: Long = 2147483647L // 2^31-1, Mersenne; all minhash arithmetic mod this

  /** Deterministic (a, b) coefficient pairs for the minhash permutation
    * family h_i(x) = (a_i·x + b_i) mod P (seed fixed for
    * reproducibility across runs and engines). */
  def hashCoeffs(n: Int, seed: Long = 42L): Seq[(Long, Long)] =
    graft.expressions.MinHashFamily.coeffs(n, seed).toSeq

  /** Whitespace tokenizer shared by every operator. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Distinct k-word shingles of a token array, hashed to a positive
    * value mod P, sorted ascending (ready for graft_jaccard_sorted).
    * One fused native pass per document (graft_shingle_hashes) — see
    * shingleHashesHof for the HOF formulation it replaced (kept for
    * the parity spec). */
  def shingleHashes(toks: Column, k: Int): Column = {
    graft.expressions.VectorExpressions.register(
      org.apache.spark.sql.SparkSession.active)
    call_function("graft_shingle_hashes", toks, lit(k))
  }

  /** Pre-fusion HOF formulation of shingleHashes. String-free: tokens
    * are hashed once, then each shingle hash is a polynomial combine
    * of k token hashes — building shingle STRINGS (concat per shingle)
    * measured 3-5× slower on the sf0.1 bench from allocation alone.
    * Still allocates an intermediate array per zip_with step, which is
    * why the native fused pass replaced it on the hot path. */
  def shingleHashesHof(toks: Column, k: Int): Column = {
    val th = transform(toks, t => pmod(xxhash64(t), lit(Prime)))
    // zip_with over k aligned slices: each slice is allocated once per
    // document. The naive transform(sequence(...), i => f(slice(th, i,
    // k))) re-evaluates the whole token-hash array once per shingle
    // (nested-lambda inlining) — measured 6-8s vs <1s at sf0.1.
    val len = greatest(size(th) - (k - 1), lit(1))
    val combined = (1 until k).foldLeft(slice(th, lit(1), len)) { (acc, j) =>
      zip_with(acc, slice(th, lit(j + 1), len),
        (a, b) => pmod(a * 1000003L + coalesce(b, lit(0L)), lit(Prime)))
    }
    // sorted ONCE per document so the pair-verify stage can use the
    // zero-allocation merge-based graft_jaccard_sorted expression
    array_sort(array_distinct(combined))
  }

  /** MinHash signature: for each of n hash functions, the min of
    * (a·x + b) mod P over the shingle set. Built as n independent
    * aggregate() HOFs — no shuffle, no UDF. */
  def minhashSignature(sh: Column, n: Int): Column = {
    val coeffs = hashCoeffs(n)
    array(coeffs.map { case (a, b) =>
      aggregate(sh, lit(Prime),
        (acc, x) => least(acc, pmod(x * a + b, lit(Prime))))
    }: _*)
  }

  /** Band hashes for LSH: split an n-length signature into `bands`
    * equal bands and hash each. Docs sharing any band hash are
    * candidate pairs; P(candidate) ≈ 1-(1-j^r)^b for jaccard j. */
  def bandHashes(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(array_join(transform(
          slice(sig, b * rowsPerBand + 1, rowsPerBand), _.cast("string")), ",")).as("bh"))
    }: _*)

  /** Per-document 64-bit SimHash fingerprints: per token, xxhash64
    * (seed 42, = Spark's xxhash64) votes ±1 on 64 bit counters;
    * fingerprint bit i is counter i's sign. Computed by the native
    * graft_simhash64 expression in ONE narrow projection — SimHash is
    * document-local, so the earlier explode-tokens + 64-way sum
    * aggregation paid a |corpus|·|tokens|-row shuffle for nothing.
    * Input must have (idCol, textCol). */
  def simhashFingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.expressions.VectorExpressions.register(df.sparkSession)
    df.select(col(idCol),
      call_function("graft_simhash64", tokens(col(textCol))).as("fp"))
  }

  // ---------------------------------------------------------------- //

  import Tables._

  /** A corpus with KNOWN duplicates for the dedup demonstrations: the
    * fixture documents (all unique) unioned with a perturbed copy
    * (doc_id offset, last token dropped) — exact copies for exact
    * dedup, near-copies for the LSH family. Deterministic. */
  def corpusWithDups(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select("doc_id", "text", "lang", "source")
    val exactCopies = docs
      .withColumn("doc_id", col("doc_id") + 1000000)
    // bind the token array ONCE: referencing tokens(text) twice in one
    // projection re-runs the regex split per reference (CollapseProject
    // keeps the two projections apart because the reference is
    // non-cheap and used twice — the hoisting discipline of the
    // round-7 lambda-slot note, applied to the corpus builder itself)
    val nearCopies = docs
      .withColumn("doc_id", col("doc_id") + 2000000)
      .withColumn("arr0", tokens(col("text")))
      .withColumn("text", array_join(slice(col("arr0"), lit(1),
        greatest(size(col("arr0")) - 1, lit(1))), " "))
      .drop("arr0")
    docs.unionByName(exactCopies).unionByName(nearCopies)
  }

  /** [[corpusWithDups]] as TOKEN ARRAYS, tokenizing each source
    * document ONCE for all three variants (one explode emits the
    * original, exact-copy, and truncated rows from a single pass).
    * Exactly `tokens(text)` of the corpusWithDups rows: tokens are
    * whitespace-free and non-empty (split on \s+ of trimmed text; the
    * empty-text edge yields [""] in both constructions), so variant
    * 3's tokens(array_join(slice(arr, 1, max(n-1, 1)), ' ')) is the
    * slice itself. For consumers that immediately re-tokenize — the
    * shingle/minhash family — this replaces 5 regex passes over the
    * corpus (2 building variant 3, 3 re-tokenizing the union) with 1. */
  def corpusWithDupsToks(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("arr0"))
      .select(explode(array(
        struct(col("doc_id").as("doc_id"), col("arr0").as("arr")),
        struct((col("doc_id") + 1000000).as("doc_id"), col("arr0").as("arr")),
        struct((col("doc_id") + 2000000).as("doc_id"),
          slice(col("arr0"), lit(1), greatest(size(col("arr0")) - 1, lit(1)))
            .as("arr")))).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.arr").as("arr"))

  /** Exact dedup via hash aggregation on content (north star op):
    * keep min doc_id per text, count copies. groupBy(text) shuffles on
    * a hash of the full text — at 100 TB one would groupBy
    * xxhash64(text) first (8-byte keys) and only compare full text
    * within hash buckets; semantics identical for the fixture. */
  def qDedupExact(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select("doc_id", "text")
    docs.unionByName(docs.withColumn("doc_id", col("doc_id") + 1000000))
      .groupBy("text")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "n_copies")
      .orderBy("doc_id")
  }

  /** MinHash + LSH near-duplicate pairs (shingle → minhash → band →
    * bucket-join → exact-jaccard verify). Output: (doc_a, doc_b,
    * jaccard) for pairs with estimated jaccard ≥ threshold.
    *
    * Plan shape at scale: signature projection (narrow) → explode 8
    * band rows/doc → shuffle on (band, bh) → per-bucket self-join with
    * a bucket-size guard → distinct pairs → one more shuffle to fetch
    * shingle sets → exact verify. No stage is quadratic in corpus
    * size. */
  def minhashPairs(corpus: DataFrame, k: Int = 3, nHashes: Int = 32,
                   bands: Int = 8, threshold: Double = 0.5,
                   maxBucket: Int = 64): DataFrame = {
    val rowsPerBand = nHashes / bands
    // cached: the shingle table is read by BOTH the signature branch and
    // the two verify-join branches — without it Spark recomputes the
    // shingling three times (no common-subplan reuse below exchanges).
    // At cluster scale this is a checkpoint/materialized intermediate
    // table instead of an in-memory cache.
    val withSh = corpus
      .withColumn("sh", shingleHashes(tokens(col("text")), k))
      .filter(size(col("sh")) > 0)
      .select("doc_id", "sh")
      .cache()
    // candidate generation carries ONLY (doc_id, band, bh): the heavy
    // shingle arrays never enter the band shuffle / pair-distinct —
    // they are re-joined once per distinct pair afterwards. The
    // signature+banding is ONE fused native pass per document
    // (graft_minhash_bands) — the HOF formulation walked the shingle
    // array nHashes times through interpreted aggregate() lambdas.
    graft.expressions.VectorExpressions.register(corpus.sparkSession)
    val sigs = withSh
      .select(col("doc_id"),
        posexplode(call_function("graft_minhash_bands",
          col("sh"), lit(nHashes), lit(bands))))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("bh"))
    // candidate pairs per bucket: ONE groupBy shuffle, then in-bucket
    // combinations (bounded by the maxBucket guard, so ≤ C(maxBucket,2)
    // pairs per bucket). Replaces the earlier window-count guard +
    // bucket self-join + distinct — three shuffles of the same rows.
    // A shingle-degenerate bucket would create O(bucket²) candidates —
    // the size filter caps it (documented coverage tradeoff). `ids` is
    // an attribute (not an expression) inside the nested lambdas, so
    // the inner transform does NOT re-evaluate the sort per element.
    val pairs = sigs.groupBy("band", "bh")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + 2, size(col("ids"))), y =>
          struct(x.as("doc_a"), y.as("doc_b")))))).as("p"))
      .select("p.doc_a", "p.doc_b").distinct()
    val shingles = withSh.select(col("doc_id"), col("sh"))
    graft.expressions.VectorExpressions.register(corpus.sparkSession)
    val out = pairs
      .join(shingles.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(shingles.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      // native merge-based jaccard on the sorted shingle sets: the
      // per-PAIR inner loop (array_intersect/array_union build hash
      // sets and materialize arrays per pair)
      .withColumn("jaccard", round(
        call_function("graft_jaccard_sorted", col("sh_a"), col("sh_b")), 4))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
      // materialize now (pair set is tiny relative to the corpus) so
      // the shingle cache can be released immediately instead of
      // pinning executor memory for the session lifetime; the
      // checkpoint also severs lineage so downstream re-reads don't
      // recompute the bucket joins.
      .localCheckpoint(true)
    withSh.unpersist()
    out
  }

  def qDedupMinhash(s: SparkSession, d: String): DataFrame =
    minhashPairs(corpusWithDups(s, d).select("doc_id", "text"))
      .orderBy("doc_a", "doc_b")

  /** SimHash near-dup buckets: 64-bit fingerprints, candidates share a
    * 16-bit chunk (Hamming-distance-tolerant blocking). Returns pairs
    * with Hamming distance ≤ 8. */
  def qDedupSimhash(s: SparkSession, d: String): DataFrame = {
    val corpus = simhashFingerprints(
      corpusWithDups(s, d).select("doc_id", "text"), "doc_id", "text")
    val chunks = corpus.select(col("doc_id"), col("fp"),
      explode(array((0 until 4).map { c =>
        struct(lit(c).as("chunk"),
          shiftright(col("fp"), c * 16).bitwiseAND(0xFFFF).as("ch"))
      }: _*)).as("b"))
      .select(col("doc_id"), col("fp"), col("b.chunk"), col("b.ch"))
      // both self-join sides — fingerprint the tripled corpus once
      // (the md5 twin's checkpoint pattern; 6 scans -> 3, r15)
      .localCheckpoint(true)
    // bucket self-join on (chunk, ch): with 4 chunks of 16 bits the
    // buckets are many and tiny, so the hash join beats per-bucket
    // collect_list (measured — the list variant's per-bucket lambda
    // work ran ~1.5× slower at sf0.1).
    val l = chunks.select(col("chunk"), col("ch"), col("doc_id").as("doc_a"), col("fp").as("fp_a"))
    val r = chunks.select(col("chunk"), col("ch"), col("doc_id").as("doc_b"), col("fp").as("fp_b"))
    // first-matching-chunk rule: a pair agreeing on several chunks
    // would be emitted once per agreeing chunk and need a distinct —
    // a shuffle of every duplicated candidate row (~4× the pair set
    // on this fixture). Keeping a joined row only when NO earlier
    // chunk also matches makes each pair exit exactly one bucket, so
    // the dedup shuffle disappears; the filter is pure bit math on
    // columns already in the row. Standard LSH dedup refinement.
    val firstMatch = (0 until 3).map { cp =>
      (col("chunk") <= cp) ||
        (shiftright(col("fp_a"), cp * 16).bitwiseAND(0xFFFF) =!=
          shiftright(col("fp_b"), cp * 16).bitwiseAND(0xFFFF))
    }.reduce(_ && _)
    l.join(r, Seq("chunk", "ch"))
      .filter(col("doc_a") < col("doc_b") && firstMatch)
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("long"))
      .filter(col("hamming") <= 8)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  /** Oracle-replayable SimHash dedup: the SAME banding algorithm as
    * [[qDedupSimhash]] but with a 56-bit md5-derived fingerprint —
    * md5 is the one hash both engines share, so the ENTIRE pipeline
    * (per-token hash, bit-majority fingerprint, 4×14-bit banding,
    * first-matching-band dedup rule, hamming verify) replays in
    * DuckDB and hash-matches, the same md5-twin pattern as
    * q_dedup_minhash_md5. The fingerprint is pure per-row HOF math
    * (token hashes bound to a column ONCE, then 56 bit-count folds
    * over the in-memory array — no shuffle, no per-element regex);
    * the fast path for production stays the native xxhash64
    * expression. Buckets larger than 64 docs are dropped before
    * pairing — the standard stop-bucket valve (a band value shared
    * by hundreds of docs is corpus boilerplate and would put an n²
    * candidate burst on one join key; measured 76 s → ~2 s at
    * sf0.1). */
  def qDedupSimhashMd5(s: SparkSession, d: String): DataFrame = {
    // one native pass per document (r16): md5 + 56-bit majority fold
    // fused into graft_md5_simhash56, bit-identical to the HOF form
    // `aggregate(sequence(0,55), 0L, (acc,b) -> acc + IF(2 *
    // size(filter(hs, h -> (shiftright(h,b)&1)=1)) >= size(hs),
    // 1L<<b, 0))` over hs = transform(tokens, w ->
    // conv(substring(md5(w),1,14),16,10)) — which walked the token
    // hash array 56 times per document through lambda machinery
    // (Md5SimHash56Spec asserts equality against that HOF form; the
    // DuckDB oracle replays the same md5 math unchanged)
    graft.expressions.VectorExpressions.register(s)
    val fps = corpusWithDups(s, d)
      .select(col("doc_id"), call_function("graft_md5_simhash56",
        split(trim(col("text")), "\\s+")).as("fp"))
    val chunksAll = fps.select(col("doc_id"), col("fp"),
      explode(array((0 until 4).map { c =>
        struct(lit(c).as("chunk"),
          shiftright(col("fp"), c * 14).bitwiseAND(0x3FFF).as("ch"))
      }: _*)).as("b"))
      .select(col("doc_id"), col("fp"), col("b.chunk"), col("b.ch"))
      .localCheckpoint(true) // feeds the bucket-size filter AND both join sides
    val okBuckets = chunksAll.groupBy("chunk", "ch")
      .agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= 64)
      .select("chunk", "ch")
    val chunks = chunksAll.join(okBuckets, Seq("chunk", "ch"))
    val l = chunks.select(col("chunk"), col("ch"),
      col("doc_id").as("doc_a"), col("fp").as("fp_a"))
    val r = chunks.select(col("chunk"), col("ch"),
      col("doc_id").as("doc_b"), col("fp").as("fp_b"))
    val firstMatch = (0 until 3).map { cp =>
      (col("chunk") <= cp) ||
        (shiftright(col("fp_a"), cp * 14).bitwiseAND(0x3FFF) =!=
          shiftright(col("fp_b"), cp * 14).bitwiseAND(0x3FFF))
    }.reduce(_ && _)
    l.join(r, Seq("chunk", "ch"))
      .filter(col("doc_a") < col("doc_b") && firstMatch)
      .withColumn("hamming",
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("long"))
      .filter(col("hamming") <= 7)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  /** HELDOUT bigram perplexity with stupid backoff (Brants et al.
    * 2007): train the LM on even doc_ids, score the odd ones —
    * unlike [[qBigramLogprob]]'s in-corpus score, unseen bigrams are
    * real here and back off to 0.4·unigram (then to a 0.4/T floor
    * for unseen words), which is exactly the CCNet-style "score new
    * text against a reference corpus" quality filter. The three
    * model tables are vocabulary-bounded aggregates the scoring join
    * broadcasts when they fit (AQE decides); the per-doc tokenize is
    * hoisted out of the lambda slots per the house rule. */
  def qHeldoutPerplexity(s: SparkSession, d: String): DataFrame = {
    def r4(x: Column): Column = floor(x * 10000.0 + 0.5) / 10000.0
    val docs = documents(s, d)
    // both model tables are referenced twice (their own rollup + the
    // scoring join) — materialize the vocabulary-bounded aggregates
    // once instead of re-reading the staged bigrams / re-tokenizing
    // the train half per reference (r15)
    val trainBg = docBigrams(s, d).filter(col("doc_id") % 2 === 0)
      .groupBy("w1", "w2").agg(sum("cnt").as("cb"))
      .localCheckpoint(true)
    val trainLeft = trainBg.groupBy("w1").agg(sum("cb").as("cl"))
    val trainUni = docs.filter(col("doc_id") % 2 === 0)
      .select(explode(expr(tokenExpr)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cu"))
      .localCheckpoint(true)
    val totalUni = trainUni.agg(sum("cu").cast("double").as("t"))
    val scored = docBigrams(s, d).filter(col("doc_id") % 2 === 1)
      .join(trainBg.join(trainLeft, "w1"), Seq("w1", "w2"), "left")
      .join(trainUni.withColumnRenamed("w", "w2"), Seq("w2"), "left")
      .crossJoin(broadcast(totalUni))
      .withColumn("lp",
        when(col("cb").isNotNull, log(col("cb") / col("cl").cast("double")))
          .when(col("cu").isNotNull,
            log(col("cu") * 0.4 / col("t")))
          .otherwise(log(lit(0.4) / col("t"))))
    scored.groupBy("doc_id")
      .agg(sum("cnt").cast("long").as("n_bigrams"),
        sum(col("cnt") * col("lp")).as("sl"))
      .select(col("doc_id"), col("n_bigrams"),
        r4(col("sl") / col("n_bigrams")).as("avg_logprob"))
      .orderBy(col("avg_logprob").asc, col("doc_id"))
      .limit(100)
  }

  /** Duplication profile: the copy-count histogram of exact-dup
    * groups (1 = unique, 5 = five-plus copies) — the one-glance
    * "how duplicated is this corpus" report that decides whether the
    * expensive near-dup passes are even worth running. Two hash
    * aggregates, both map-side combinable. */
  def qDupProfile(s: SparkSession, d: String): DataFrame = {
    def r4(x: Column): Column = floor(x * 10000.0 + 0.5) / 10000.0
    val groups = corpusWithDups(s, d)
      .groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("g"))
    // the corpus total IS the histogram's own doc sum — a window over
    // the ≤5 bucket rows, not a second pass over the hash groups
    // (which re-ran the tripled-corpus md5 aggregate; 6 scans -> 3, r15)
    groups
      .groupBy(least(col("g"), lit(5L)).as("copy_bucket"))
      .agg(count(lit(1)).as("n_groups"), sum("g").as("n_docs"))
      .withColumn("tot", sum("n_docs")
        .over(org.apache.spark.sql.expressions.Window.partitionBy())
        .cast("double"))
      .select(col("copy_bucket"), col("n_groups"), col("n_docs"),
        r4(col("n_docs") / col("tot")).as("doc_share"))
      .orderBy("copy_bucket")
  }

  /** N-gram Jaccard similarity on LSH candidates: same banding front
    * end, but scored with word-bigram Jaccard instead of shingle-hash
    * Jaccard (demonstrates the pluggable verify stage). */
  def qDedupNgramJaccard(s: SparkSession, d: String): DataFrame = {
    val corpus = corpusWithDups(s, d).select("doc_id", "text")
    minhashPairs(corpus, k = 2, threshold = 0.4)
      .withColumnRenamed("jaccard", "bigram_jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** Per-language corpus statistics (token/char counts) — the
    * canonical map-side-combinable text aggregation. */
  def qTextStats(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("n_tokens", size(tokens(col("text"))).cast("long"))
      .withColumn("n_chars_actual", length(col("text")).cast("long"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        round(avg("n_tokens"), 2).as("avg_tokens"),
        sum("n_chars_actual").as("total_chars"))
      .orderBy("lang")

  /** Tokenizer fertility per language: regex-piece tokens per
    * whitespace word and characters per token — the tokenizer-
    * coverage report a multilingual pipeline checks before fixing a
    * vocabulary (high fertility = the tokenizer shatters that
    * language; CJK shows it immediately since whitespace words and
    * char-level pieces diverge). Pure map-side projection into a
    * language-cardinality aggregate; ratios divide exact long sums
    * once at the end. Shares [[qTokenCount]]'s piece regex so the two
    * reports budget identically. */
  def qTokenizerFertility(s: SparkSession, d: String): DataFrame = {
    def r4(x: Column): Column = floor(x * 10000.0 + 0.5) / 10000.0
    documents(s, d)
      .select(col("lang"),
        size(tokens(col("text"))).cast("long").as("w"),
        regexp_count(col("text"),
          lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]")).cast("long").as("t"),
        length(col("text")).cast("long").as("ch"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("w").as("n_words"),
        sum("t").as("n_tokens"), sum("ch").as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_tokens"),
        r4(col("n_tokens") / col("n_words").cast("double")).as("fertility"),
        r4(col("n_chars") / col("n_tokens").cast("double")).as("chars_per_token"))
      .orderBy("lang")
  }

  /** Token counting two ways: whitespace tokens and a BPE-ish regex
    * count (word pieces + standalone punctuation), plus a chars/4
    * subword estimate — the triad a training-data pipeline budgets
    * with. */
  def qTokenCount(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(
      col("doc_id"),
      size(tokens(col("text"))).cast("long").as("ws_tokens"),
      regexp_count(col("text"), lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]")).cast("long").as("re_tokens"),
      ceil(length(col("text")) / 4.0).cast("long").as("subword_est"))
      .orderBy("doc_id")

  private val StopwordsEn = Seq("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")

  /** Document quality scoring: length, punctuation ratio, stopword
    * ratio, type-token diversity → composite score. Pure codegen'd
    * column arithmetic — scales linearly. All four outputs use
    * FLOOR-based rounding (⌊x·10⁴ + 0.5⌋/10⁴) instead of round():
    * Spark's round() goes through the SHORTEST-DECIMAL string of the
    * double (BigDecimal HALF_UP) while DuckDB rounds the binary
    * value, so a score whose shortest repr is exactly x.xxx5 rounds
    * DIFFERENTLY across engines (observed at sf0.1). floor of the
    * identical double is identical everywhere. */
  def qQualityScore(s: SparkSession, d: String): DataFrame = {
    def r4(x: Column): Column = floor(x * 10000.0 + 0.5) / 10000.0
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("double")
    val stopHits = size(filter(toks, t => t.isin(StopwordsEn: _*))).cast("double")
    val punct = regexp_count(col("text"), lit("[^A-Za-z0-9\\s]")).cast("double")
    documents(s, d).select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      r4(stopHits / nTok).as("stopword_ratio"),
      r4(punct / greatest(length(col("text")), lit(1)).cast("double")).as("punct_ratio"),
      r4(size(array_distinct(toks)).cast("double") / nTok).as("ttr"),
      r4(
        least(nTok / 100.0, lit(1.0)) * 0.4 +
          least(stopHits / nTok * 5.0, lit(1.0)) * 0.3 +
          (lit(1.0) - least(punct / greatest(length(col("text")), lit(1)).cast("double") * 10.0, lit(1.0))) * 0.3)
        .as("quality"))
      .orderBy("doc_id")
  }

  private val LangStopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans", "pour", "que"),
    "es" -> Seq("el", "la", "los", "y", "es", "un", "una", "en", "por", "que"))

  /** Heuristic language ID: stopword-profile scoring over the four
    * latin-script profiles plus a CJK-codepoint check — the n-gram
    * heuristic family, expressed as pure column arithmetic. Emits the
    * prediction alongside the labeled lang for agreement analysis. */
  def qLangId(s: SparkSession, d: String): DataFrame =
    langScored(s, d).orderBy("doc_id")

  /** One parquet copy of the lang-ID scored table per (JVM, sfDir) —
    * SIX queries consume it (q_lang_id, q_calibration,
    * q_confusion_matrix, q_cohen_kappa, q_brier, q_langid_eval), and
    * the scorer's four interpreted HOF filters per document are the
    * dominant cost of each, so the scoring pass runs once as table
    * prep under the same memoization contract as the graph family's
    * staged edge list. */
  private val langScoredCopies =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def langScored(s: SparkSession, d: String): DataFrame =
    Tables.parquetMemo(s, langScoredCopies.computeIfAbsent(d, _ => {
      val path = StagedPaths.tmp("graft_langid")
      langScoredFresh(s, d).write.mode("overwrite").parquet(path)
      path
    }))

  /** The un-staged lang-ID scorer (see [[langScored]]). */
  private def langScoredFresh(s: SparkSession, d: String): DataFrame = {
    val toks = tokens(lower(col("text")))
    val scores = LangStopwords.toSeq.sortBy(_._1).map { case (lang, sw) =>
      struct(
        (size(filter(toks, t => t.isin(sw: _*))).cast("double") /
          greatest(size(toks), lit(1)).cast("double")).as("score"),
        lit(lang).as("lang"))
    }
    val best = array_max(array(scores: _*))
    documents(s, d).select(
      col("doc_id"), col("lang").as("labeled_lang"),
      when(col("text").rlike("[\\u4e00-\\u9fff]"), lit("zh"))
        .when(best.getField("score") > 0, best.getField("lang"))
        .otherwise(lit("und")).as("predicted_lang"),
      round(best.getField("score"), 4).as("confidence"))
  }

  /** Confidence calibration of the language identifier: documents are
    * bucketed into FIXED-WIDTH confidence bins (0.05 wide — map-side
    * arithmetic, deliberately not quantiles: an ntile over the doc
    * table would funnel the corpus through one window partition at
    * scale) and each bin reports its mean confidence vs empirical
    * accuracy — the reliability-diagram input that tells a pipeline
    * whether "0.9 confident" means 90% right before it thresholds on
    * the score. One projection (the langid scorer) + one small-keyed
    * aggregate. */
  def qCalibration(s: SparkSession, d: String): DataFrame = {
    def r4(x: Column): Column = floor(x * 10000.0 + 0.5) / 10000.0
    val scored = langScored(s, d) // doc_id, labeled_lang, predicted_lang, confidence
    scored
      .select(
        least(floor(col("confidence") * 20).cast("long"), lit(19L)).as("bin"),
        col("confidence"),
        (col("predicted_lang") === col("labeled_lang")).cast("long").as("ok"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(round(col("confidence") * 10000).cast("long")).as("conf_sum"),
        sum("ok").as("n_correct"))
      .select(col("bin"),
        r4(col("bin") / 20.0).as("conf_lo"),
        col("n"),
        r4(col("conf_sum") / (col("n") * 10000.0)).as("mean_conf"),
        col("n_correct"),
        r4(col("n_correct") / col("n").cast("double")).as("accuracy"))
      .orderBy("bin")
  }

  /** Language-ID confusion matrix: (labeled, predicted) counts with
    * row shares — the error-analysis companion to the per-class
    * precision/recall of q_langid_eval (WHICH languages get confused
    * with which, not just how often). One scorer projection + one
    * two-key aggregate; the matrix is |langs|²-bounded. */
  def qConfusionMatrix(s: SparkSession, d: String): DataFrame = {
    def r4(x: Column): Column = floor(x * 10000.0 + 0.5) / 10000.0
    val wRow = org.apache.spark.sql.expressions.Window
      .partitionBy("labeled_lang")
    langScored(s, d)
      .groupBy("labeled_lang", "predicted_lang")
      .agg(count(lit(1)).as("n"))
      .withColumn("row_total", sum("n").over(wRow))
      .select(col("labeled_lang"), col("predicted_lang"), col("n"),
        r4(col("n") / col("row_total").cast("double")).as("row_share"))
      .orderBy("labeled_lang", "predicted_lang")
  }

  /** Cohen's kappa agreement between the lang-ID prediction and the
    * labeled language — chance-corrected accuracy, the one-number
    * companion to [[qConfusionMatrix]] (raw accuracy overstates
    * agreement when one class dominates). κ = (N·Σdiag − Σ_k r_k·c_k)
    * / (N² − Σ_k r_k·c_k), assembled ENTIRELY from exact integer
    * marginals of the |langs|² confusion matrix, so the only float
    * op is the final division (deterministic on identical exact
    * inputs, floor-rounded to 6dp both engines). One scorer
    * projection + one tiny two-key aggregate — matrix-sized state
    * from there on. */
  def qCohenKappa(s: SparkSession, d: String): DataFrame = {
    val m = langScored(s, d)
      .groupBy("labeled_lang", "predicted_lang")
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val rt = m.groupBy("labeled_lang").agg(sum("n").as("r"))
    val ct = m.groupBy("predicted_lang").agg(sum("n").as("c"))
    val pe = rt.join(ct, col("labeled_lang") === col("predicted_lang"))
      .agg(sum(col("r") * col("c")).as("pe_num"))
    val diag = m.agg(
      sum("n").as("n_docs"),
      sum(when(col("labeled_lang") === col("predicted_lang"), col("n"))
        .otherwise(0L)).as("n_agree"))
    diag.crossJoin(broadcast(pe))
      .select(col("n_docs"), col("n_agree"), col("pe_num"),
        (floor((col("n_docs") * col("n_agree") - col("pe_num")).cast("double")
          / (col("n_docs") * col("n_docs") - col("pe_num")).cast("double")
          * 1e6 + 0.5) / 1e6).as("kappa"))
  }

  /** Per-class Brier score of the lang-ID confidence — the proper
    * scoring rule companion to [[qCalibration]]'s reliability bins
    * (calibration bins can look fine while the score is poor; Brier
    * penalizes both miscalibration and low resolution). Each doc's
    * contribution (confidence − 1{correct})² is one deterministic
    * double expression (the confidence doubles are already
    * cross-engine identical — q_calibration sums them quantized),
    * floor-quantized to micro-units per doc, then integer-summed per
    * class, so accumulation order can't flap. The final mean is an
    * integer half-up division. */
  def qBrier(s: SparkSession, d: String): DataFrame =
    langScored(s, d)
      .select(col("labeled_lang"),
        (col("confidence") -
          when(col("predicted_lang") === col("labeled_lang"), 1.0d)
            .otherwise(0.0d)).as("e"))
      .select(col("labeled_lang"),
        floor(col("e") * col("e") * 1e6 + 0.5).cast("long").as("c_u"))
      .groupBy("labeled_lang")
      .agg(count(lit(1)).as("n_docs"), sum("c_u").as("sum_u"))
      .select(col("labeled_lang"), col("n_docs"),
        expr("(sum_u + n_docs DIV 2) DIV n_docs").as("brier_u"))
      .orderBy("labeled_lang")

  /** Sliding-window document chunking (training-data prep staple):
    * overlapping token windows of `chunkTokens` with `stride`,
    * exploded in place — fan-out happens on the executor holding the
    * document, no shuffle until a downstream op needs one. */
  def qDocChunking(s: SparkSession, d: String,
                   chunkTokens: Int = 20, stride: Int = 10): DataFrame = {
    val toks = tokens(col("text"))
    documents(s, d)
      .select(col("doc_id"), toks.as("toks"))
      .withColumn("chunk_id",
        explode(sequence(lit(0),
          greatest(ceil((size(col("toks")) - chunkTokens).cast("double") / stride), lit(0)).cast("long"))))
      .select(
        col("doc_id"), col("chunk_id"),
        array_join(slice(col("toks"), (col("chunk_id") * stride + 1).cast("int"),
          lit(chunkTokens)), " ").as("chunk_text"),
        least(size(col("toks")) - col("chunk_id") * stride, lit(chunkTokens))
          .cast("long").as("chunk_len"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Deterministic train/val/test split: assignment is a pure function
    * of content identity (first hex char of md5(doc_id)) — stable
    * across engines, runs and partitionings; no RNG state to
    * coordinate at 100 TB. 12/16 train, 2/16 val, 2/16 test. */
  def qDatasetSplit(s: SparkSession, d: String): DataFrame = {
    val h = substring(md5(col("doc_id").cast("string")), 1, 1)
    documents(s, d)
      .select(col("doc_id"),
        when(h.isin("0", "1"), "val")
          .when(h.isin("2", "3"), "test")
          .otherwise("train").as("split"))
      .orderBy("doc_id")
  }

  /** Text normalization for training corpora: lowercase, strip
    * non-alphanumerics, collapse whitespace — one codegen'd
    * regexp_replace chain. */
  def qTextClean(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(
        col("doc_id"),
        regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""),
          " +", " ").as("clean_text"))
      .withColumn("clean_len", length(col("clean_text")).cast("long"))
      .orderBy("doc_id")

  /** Stopword filtering: drop the profile's stopwords from each
    * document, keep the rest in order. A codegen'd higher-order
    * filter over the token array — no explode, no shuffle. */
  def qStopwordFilter(s: SparkSession, d: String): DataFrame = {
    val toks = tokens(col("text"))
    val kept = filter(toks, t => !t.isin(StopwordsEn: _*))
    documents(s, d).select(
      col("doc_id"),
      array_join(kept, " ").as("filtered_text"),
      (size(toks) - size(kept)).cast("long").as("n_removed"))
      .orderBy("doc_id")
  }

  /** RAKE keyword extraction (Rose et al. 2010): candidate phrases
    * are maximal stopword-free token runs (gaps-islands over the
    * stopword positions — the island id is a running stopword count),
    * each word scores deg/freq over ALL phrase occurrences (deg =
    * Σ phrase length, freq = occurrence count), and a phrase scores
    * the sum of its words' scores. Scores live in exact integer
    * micro-units via INTEGER division (deg·1e6 DIV freq), so phrase
    * sums are integers and the top-50 cut is engine-exact. Scale
    * shape: one posexplode (the only corpus-sized fan-out), one
    * doc-keyed window for islands, then everything aggregates to
    * vocabulary-/phrase-sized tables; reported phrases are the
    * 2–4-word candidates, deduped corpus-wide. */
  def qRakeKeywords(s: SparkSession, d: String, topK: Int = 50): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    // phrase length rides the SAME doc_id-keyed exchange as the island
    // window: count over (doc_id, isl) is satisfied by the
    // hashpartitioning(doc_id) the first window already established,
    // so the old plen aggregate + its two joins back (an extra
    // exchange and two join passes) disappear (guide §2.4: operations
    // keyed the same way share one exchange)
    val ph = documents(s, d)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "w")))
      .withColumn("stop", col("w").isin(StopwordsEn: _*))
      .withColumn("isl", sum(col("stop").cast("int")).over(w))
      .filter(!col("stop"))
      .withColumn("plen", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id", "isl")))
      .localCheckpoint(true)
    val wsc = ph
      .groupBy("w")
      .agg(count(lit(1)).as("freq"), sum("plen").as("deg"))
      .select(col("w"), expr("deg * 1000000L DIV freq").as("wu"))
    ph
      .filter(col("plen").between(2, 4))
      .join(wsc, "w")
      .groupBy("doc_id", "isl")
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("w")))),
          x => x("w"))).as("phrase"),
        sum("wu").as("score_u"))
      .groupBy("phrase")
      .agg(count(lit(1)).as("n_occurrences"), max("score_u").as("score_u"))
      .orderBy(col("score_u").desc, col("phrase"))
      .limit(topK)
  }

  /** Corpus-wide n-gram frequency: top-50 word bigrams. The bigram
    * fan-out happens executor-side (zip_with over adjacent token
    * slices, then explode); the count is map-side combinable, so the
    * shuffle carries (bigram, partial-count) pairs — vocabulary-sized,
    * not corpus-sized. Ties at the cut line break on the bigram text
    * for cross-engine determinism. */
  def qNgramFreq(s: SparkSession, d: String, topK: Int = 50): DataFrame = {
    graft.expressions.VectorExpressions.register(s)
    documents(s, d)
      .select(explode(call_function("graft_word_ngrams",
        tokens(col("text")), lit(2))).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram").asc)
      .limit(topK)
  }

  /** PII redaction: scrub emails and phone numbers with regex
    * replacement. The fixture corpus is synthetic word soup, so each
    * document is first augmented with DETERMINISTIC synthetic PII
    * derived from doc_id (both engines construct the same string);
    * the redaction pass itself is the production operator — one
    * codegen'd regexp_replace chain, embarrassingly parallel. */
  def qPiiRedact(s: SparkSession, d: String): DataFrame = {
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phoneRe = "555-[0-9]+"
    val aug = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.org phone 555-0"), (col("doc_id") % 10000).cast("string"))
    documents(s, d).select(
      col("doc_id"),
      regexp_replace(regexp_replace(aug, emailRe, "<EMAIL>"),
        phoneRe, "<PHONE>").as("redacted"),
      (regexp_count(aug, lit(emailRe)) +
        regexp_count(aug, lit(phoneRe))).cast("long").as("n_pii"))
      .orderBy("doc_id")
  }

  /** Sequence packing (training-batch prep): sliding-window chunks are
    * assigned to fixed token-budget packs by cumulative token offset
    * within each source shard — pack_id = floor(cum_tokens_before /
    * budget). Packing state is a window cumsum PER SOURCE partition,
    * so the sort is sharded, never global — the property that lets
    * packing run on 100 TB of chunks (a global greedy pack would
    * serialize). */
  def qSequencePack(s: SparkSession, d: String, budget: Int = 512,
                    chunkTokens: Int = 20, stride: Int = 10): DataFrame = {
    val toks = tokens(col("text"))
    val chunks = documents(s, d)
      .select(col("doc_id"), col("source"), toks.as("toks"))
      .withColumn("chunk_id",
        explode(sequence(lit(0),
          greatest(ceil((size(col("toks")) - chunkTokens).cast("double") / stride), lit(0)).cast("long"))))
      .select(col("doc_id"), col("source"), col("chunk_id"),
        least(size(col("toks")) - col("chunk_id") * stride, lit(chunkTokens))
          .cast("long").as("chunk_len"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id", "chunk_id")
    chunks
      .withColumn("pack_id",
        floor((sum("chunk_len").over(w) - col("chunk_len")) / budget).cast("long"))
      .groupBy("source", "pack_id")
      .agg(count(lit(1)).as("n_chunks"), sum("chunk_len").as("pack_tokens"))
      .orderBy("source", "pack_id")
  }

  /** TF-IDF top terms per document: tf = in-doc term count, idf =
    * smoothed ln((N+1)/(df+1)) + 1, top-3 terms per doc by score.
    * The document-frequency table is derived FROM tf (rows are already
    * distinct per (doc, term), so df is a plain count, not a
    * countDistinct over re-exploded raw terms) — the two aggregations
    * share one tokenize+explode+shuffle via Spark's ReuseExchange, and
    * the corpus text bytes are read once. The df join back to tf is a
    * plain shuffle join on term — vocabulary grows with corpus
    * (Heaps' law), so a forced broadcast OOMs executors at scale; AQE
    * converts it to broadcast at runtime when df genuinely fits (the
    * q_bm25 lesson, cf. MiningOps.qNaiveBayes). Ties break on the
    * term text. */
  def qTfidf(s: SparkSession, d: String, topK: Int = 3): DataFrame = {
    val terms = documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    // tf feeds the df rollup AND the scoring join — materialize once
    // instead of re-running the corpus tokenize per reference (r15)
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val df = tf.groupBy("term")
      .agg(count(lit(1)).as("df"))
    val n = documents(s, d).agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("score", round(
        col("tf") * (log((col("n_docs") + 1.0) / (col("df") + 1.0)) + 1.0), 4))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("term").asc)
    scored
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= topK)
      .select("doc_id", "rn", "term", "score")
      .orderBy("doc_id", "rn")
  }

  /** Inverted index (term → posting list): per-term document count,
    * corpus frequency, and the head of the sorted posting list. The
    * postings aggregate is two map-side-combinable groupBys sharing
    * the (term, doc_id) shuffle; the HAVING keeps output vocabulary-
    * bounded. At 100 TB the full posting list per common term is too
    * wide to collect — the capped head mirrors what a real index
    * shard materializes per segment (the tail lives in the next
    * aggregation level). */
  def qInvertedIndex(s: SparkSession, d: String, minDocs: Int = 20): DataFrame = {
    val terms = documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    terms.groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
      .groupBy("term")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("tf").as("total_tf"),
        array_join(slice(array_sort(collect_list("doc_id")), 1, 5), ",")
          .as("posting_head"))
      .filter(col("n_docs") >= minDocs)
      .orderBy("term")
  }

  /** C4-style corpus filter: per-document rule bitmask (too short /
    * too long / vowel-ratio outliers) instead of a bare boolean, so a
    * pipeline can report WHY each document was dropped (per-rule drop
    * counts are one groupBy over the mask). Single codegen'd
    * projection, no shuffle before the final sort — the shape of a
    * quality gate that must stream over a 100 TB corpus once. */
  def qCorpusFilter(s: SparkSession, d: String): DataFrame = {
    val nWords = size(tokens(col("text")))
    val vr = length(regexp_replace(col("text"), "[^aeiou]", "")) * 1.0 /
      length(col("text"))
    documents(s, d)
      .select(
        col("doc_id"),
        (when(nWords < 40, 1).otherwise(0) +
          when(nWords > 90, 2).otherwise(0) +
          when(vr < 0.27, 4).otherwise(0) +
          when(vr > 0.30, 8).otherwise(0)).cast("long").as("rule_mask"),
        nWords.cast("long").as("n_words"),
        round(vr, 4).as("vowel_ratio"))
      .orderBy("doc_id")
  }

  /** Stratified deterministic sampling: per-stratum rates (here
    * keep 1/4 of 'en', 1/2 of 'es', all others) applied through a
    * content-hash bucket, so the sample is reproducible across
    * engines, runs and partitionings — the downsample-the-majority-
    * language shape of corpus curation. No shuffle: the filter is a
    * codegen'd projection over the scan. */
  def qSampleStratified(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .filter(
        conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10)
          .cast("long") <
          when(col("lang") === "en", 64)
            .when(col("lang") === "es", 128)
            .otherwise(256))
      .select("doc_id", "lang")
      .orderBy("doc_id")

  /** Per-stratum exact-k cap (complement of qSampleStratified's rate
    * sampling): at most 5 documents per (lang, source) cell, chosen
    * by content-hash order so the cap is deterministic across runs
    * and partitionings — the per-class balancing step of training-set
    * assembly. One window shuffle on the stratum key. */
  def qGroupSample(s: SparkSession, d: String, k: Int = 5): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang", "source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    documents(s, d)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_sampled"),
        array_join(array_sort(collect_list(col("doc_id"))), ",").as("sample_ids"))
      .orderBy("lang", "source")
  }

  /** Benchmark decontamination: find corpus documents sharing any
    * 5-gram shingle with a held-out benchmark set (here the
    * deterministic doc_id % 97 slice) — the n-gram-overlap
    * test-set-contamination check every training pipeline runs before
    * a data release. The benchmark shingle table is a fraction of the
    * corpus, so it BROADCASTS and the corpus side never shuffles; at
    * 100 TB this is one scan + a broadcast hash probe per shingle.
    * Shingle hashes are md5-derived so the oracle replays them. */
  def qDecontaminate(s: SparkSession, d: String): DataFrame = {
    graft.expressions.VectorExpressions.register(s)
    val toks = documents(s, d)
      .select(col("doc_id"), (col("doc_id") % 97 === 0).as("is_bench"),
        tokens(col("text")).as("arr"))
      .filter(size(col("arr")) >= 5)
    val sh = toks.select(col("doc_id"), col("is_bench"),
      explode(array_distinct(transform(
        call_function("graft_word_ngrams", col("arr"), lit(5)),
        g => conv(substring(md5(g), 1, 15), 16, 10).cast("long")))).as("h"))
      // bench side AND probe side — shingle+hash the corpus once (r15)
      .localCheckpoint(true)
    val bench = sh.filter(col("is_bench"))
      .select(col("h"), col("doc_id").as("bench_doc"))
    sh.filter(!col("is_bench"))
      .join(broadcast(bench), "h")
      .groupBy("doc_id")
      .agg(countDistinct("h").as("n_shared"),
        min("bench_doc").as("first_bench_doc"))
      .orderBy("doc_id")
  }

  /** MinHash LSH near-dup detection, cross-engine-verifiable variant:
    * 8 md5-derived permutations, 4 bands of 2 — every hash is
    * replayable in the DuckDB oracle (md5 hex → 60-bit int), so the
    * full pipeline (shingle → signature → band → bucket join → pair)
    * is differentially TESTED, not just property-checked. The
    * xxhash-based q_dedup_minhash stays the fast production path;
    * this one proves the algorithm. Same scale shape: per-band
    * self-join on (band, sig) keys, candidate pairs deduped. */
  def qDedupMinhashMd5(s: SparkSession, d: String): DataFrame =
    md5MinhashPairs(s, d).orderBy("da", "db")

  /** The md5-minhash candidate-pair front end shared by
    * q_dedup_minhash_md5 (emits the pairs) and q_dedup_cluster
    * (resolves them into connected components). Returns distinct
    * (da, db) with da < db. */
  /** One parquet copy of the minhash candidate pairs per (JVM,
    * sfDir) — FOUR queries consume them (q_dedup_minhash_md5, the
    * two clustering variants, q_dedup_canonical), so the signature
    * pass + band self-join runs once as table prep under the same
    * memoization contract as the graph family's staged edge list. */
  private val minhashPairCopies =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  def md5MinhashPairs(s: SparkSession, d: String): DataFrame =
    Tables.parquetMemo(s, minhashPairCopies.computeIfAbsent(d, _ => {
      val path = StagedPaths.tmp("graft_mhpairs")
      md5MinhashPairsFresh(s, d).write.mode("overwrite").parquet(path)
      path
    }))

  /** Banded md5-MinHash signature rows (doc_id, band, sig) — 4 bands
    * of 2 concatenated 60-bit permutation minima per doc with ≥ 3
    * tokens. The full 8-value signature comes from ONE native pass per
    * document (graft_md5_minhash: 4 MD5 digests per shingle, two
    * 60-bit permutation values sliced from each — bit-identical to the
    * conv(substr(md5(…))) SQL the oracles replay). No shingle explode,
    * no groupBy: banding is purely map-side. Shared by the batch
    * candidate-pair pipeline ([[md5MinhashPairsFresh]]) and the
    * streaming ingest index ([[qStreamNeardupLsh]]). */
  private def md5Bands(df: DataFrame): DataFrame = {
    val toks = df
      .select(col("doc_id"), tokens(col("text")).as("arr"))
      .filter(size(col("arr")) >= 3)
    val sig8 = toks.select(col("doc_id"), md5Sig8(col("arr")).as("sig"))
    sig8.select(col("doc_id"), posexplode(array(bandSigs(col("sig")): _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "sig")
  }

  /** [[md5Bands]] before its explode, one row per input doc: `bands`
    * holds the doc's 4 band signatures (band = array position), null
    * for a doc with fewer than 3 tokens — no 3-gram, so no bands. */
  private def md5BandArrays(df: DataFrame): DataFrame = {
    val toks = df.select(col("doc_id"), tokens(col("text")).as("arr"))
    val sig8 = toks.select(col("doc_id"),
      when(size(col("arr")) >= 3, md5Sig8(col("arr"))).as("sig"))
    sig8.select(col("doc_id"),
      when(col("sig").isNotNull, array(bandSigs(col("sig")): _*)).as("bands"))
  }

  /** The 8-slot md5 minhash of a token array's distinct 3-grams. */
  private def md5Sig8(arr: Column): Column =
    call_function("graft_md5_minhash",
      array_distinct(call_function("graft_word_ngrams", arr, lit(3))))

  /** The 4 band signatures ("lo,hi" slot pairs) of an md5 minhash. */
  private def bandSigs(sig: Column): Seq[Column] =
    (0 until 4).map(b => concat_ws(",",
      element_at(sig, 2 * b + 1).cast("string"),
      element_at(sig, 2 * b + 2).cast("string")))

  /** The un-staged candidate-pair pipeline (see [[md5MinhashPairs]]).
    * The first shuffle in the whole plan is the band self-join. */
  private def md5MinhashPairsFresh(s: SparkSession, d: String): DataFrame = {
    graft.expressions.VectorExpressions.register(s)
    val sigs = md5Bands(documents(s, d))
    sigs.alias("a")
      .join(sigs.alias("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
  }

  /** Near-dup CLUSTERS from the minhash candidate pairs: connected
    * components by iterative min-label propagation. Each round
    * pushes every node's current component label across its edges
    * and keeps the minimum; convergence (no label decreased) is
    * checked with a scalar count through the driver — the standard
    * Spark shape for iterative graph algorithms (rounds bounded by
    * component diameter, here ≤ a few hops for dup clusters; a
    * billion-edge corpus would swap in alternating large-star/
    * small-star rounds [Kiveris et al., "Connected Components in
    * MapReduce and Beyond"] and checkpoint lineage every few
    * rounds — the loop below already truncates lineage per round
    * via localCheckpoint). Output: every clustered doc with its
    * component id (min doc_id in the component) and cluster size. */
  def qDedupCluster(s: SparkSession, d: String): DataFrame = {
    val labels = clusterLabels(s, d)
    // sizes is component-count-sized — order of the node count on a
    // 100 TB dup graph — so no broadcast hint: plain shuffle join on
    // comp, and AQE broadcasts at runtime only when it actually fits.
    val sizes = labels.groupBy("comp").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "comp")
      .select(col("node").as("doc_id"), col("comp"), col("cluster_size"))
      .orderBy("doc_id")
  }

  /** Connected-component labels (node → min-doc_id component) of the
    * minhash candidate-pair graph — the label-propagation loop shared
    * by [[qDedupCluster]] and [[qDedupCanonical]]. Only docs that
    * appear in at least one candidate pair are present. */
  private def clusterLabels(s: SparkSession, d: String): DataFrame = {
    val pairs = md5MinhashPairs(s, d)
    val edges = pairs.select(col("da").as("a"), col("db").as("b"))
      .union(pairs.select(col("db").as("a"), col("da").as("b")))
      .localCheckpoint(true)
    var labels = edges.select(col("a").as("node")).distinct()
      .withColumn("comp", col("node"))
      .localCheckpoint(true)
    def labelSum(df: DataFrame): Long =
      df.agg(sum("comp")).first() match {
        case r if r.isNullAt(0) => 0L
        case r                  => r.getLong(0)
      }
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = prevSum == 0L
    while (!converged && iter < 20) {
      val next = edges.join(labels, edges("a") === labels("node"))
        .select(col("b").as("node"), col("comp"))
        .union(labels)
        .groupBy("node").agg(min("comp").as("comp"))
        .localCheckpoint(true)
      // labels only ever decrease, so the label sum is strictly
      // monotone until the fixpoint — an O(1)-driver convergence
      // check with no join against the previous round
      val s2 = labelSum(next)
      labels = next
      converged = s2 == prevSum
      prevSum = s2
      iter += 1
    }
    labels
  }

  /** Canonical-document selection — the pipeline stage after
    * clustering: every document joins its near-dup component (docs
    * with no candidate pair form singleton components), and within
    * each component the highest-quality document (composite quality
    * score of [[qQualityScore]], doc_id tie-break) is elected
    * canonical; the rest are the rows a training-data pipeline
    * drops. Quality is a map-side projection; the election is one
    * keyed window over the component key — corpus-sized but fully
    * distributed (components are tiny), no global window anywhere. */
  def qDedupCanonical(s: SparkSession, d: String): DataFrame = {
    def r4(x: Column): Column = floor(x * 10000.0 + 0.5) / 10000.0
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("double")
    val stopHits = size(filter(toks, t => t.isin(StopwordsEn: _*))).cast("double")
    val punct = regexp_count(col("text"), lit("[^A-Za-z0-9\\s]")).cast("double")
    val q = documents(s, d).select(
      col("doc_id"),
      r4(
        least(nTok / 100.0, lit(1.0)) * 0.4 +
          least(stopHits / nTok * 5.0, lit(1.0)) * 0.3 +
          (lit(1.0) - least(punct / greatest(length(col("text")), lit(1)).cast("double") * 10.0, lit(1.0))) * 0.3)
        .as("quality"))
    val labels = clusterLabels(s, d)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("comp")
      .orderBy(col("quality").desc, col("doc_id").asc)
    q.join(labels, q("doc_id") === labels("node"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("comp"),
        col("quality"))
      .withColumn("canonical_doc_id", first("doc_id").over(w))
      .select(col("doc_id"), col("comp"), col("quality"),
        col("canonical_doc_id"),
        (col("doc_id") === col("canonical_doc_id")).cast("int").as("keep"))
      .orderBy("doc_id")
  }

  /** Cross-document duplicated-substring audit (the document-level
    * signal of exact-substring dedup, Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): every 5-token
    * window of every document, the fraction of a document's windows
    * that also occur verbatim in ANOTHER document. Window
    * generation is a native per-row expression (no token explode);
    * the corpus-wide work is one shuffle keyed by the window string
    * (count distinct docs per window) plus a semi-join of positions
    * against the duplicated windows — both linear in total windows,
    * the suffix-array-free approximation that scales to 100 TB.
    * flag_dup marks documents above 20% duplicated windows. */
  def qDupSubstring(s: SparkSession, d: String): DataFrame = {
    graft.expressions.VectorExpressions.register(s)
    def r4(x: Column): Column = floor(x * 10000.0 + 0.5) / 10000.0
    val base = documents(s, d)
      .select(col("doc_id"),
        call_function("graft_word_ngrams", tokens(col("text")), lit(5)).as("w"))
      .filter(size(col("w")) > 0)
    val wins = base.select(col("doc_id"), explode(col("w")).as("g"))
    val dupGrams = wins.groupBy("g")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 2)
      .select("g")
    val dupPos = wins.join(dupGrams, Seq("g"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
    base.select(col("doc_id"), size(col("w")).cast("long").as("n_windows"))
      .join(dupPos, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup_windows"),
        r4(coalesce(col("n_dup"), lit(0L)).cast("double") /
          col("n_windows").cast("double")).as("dup_frac"))
      .withColumn("flag_dup", (col("dup_frac") >= 0.2).cast("int"))
      .orderBy("doc_id")
  }

  /** Maximal duplicated-SPAN extraction (the Lee et al. 2022
    * completion of [[qDupSubstring]], which only scores the
    * duplicated-window FRACTION): the actual token spans a curation
    * pipeline would cut, per document pair. Positions of every
    * 5-token window meet in a window-keyed join (valved: windows in
    * ≥ 2 docs with ≤ 64 total occurrences — the stop-gram valve that
    * keeps boilerplate windows from quadratic pair blow-up; a valve-
    * dropped window can split one long boilerplate span in two, the
    * documented price of scale, identical in both engines), then
    * matching positions group into maximal runs by the classic
    * gaps-and-islands move ON THE DIAGONAL: a match (pa, pb)
    * continues (pa+1, pb+1), so runs live at constant pa − pb and
    * `pa − row_number() over (pair, diagonal order by pa)` is
    * constant exactly along a maximal run. A run of L windows is a
    * duplicated span of L + 4 tokens; the top-50 spans under a total
    * order rejoin the source token array to emit the span text
    * itself (120-char preview). Everything is linear in total
    * windows except the valve-bounded pair join; the island window
    * partitions by (pair, diagonal) — plentiful small partitions, no
    * global sort. */
  def qDupSpans(s: SparkSession, d: String): DataFrame = {
    graft.expressions.VectorExpressions.register(s)
    import org.apache.spark.sql.expressions.Window
    // tokenize + window generation runs ONCE: base feeds the window
    // explode AND the final span-text join, and without the checkpoint
    // the self-join below re-derives it per reference (4 tokenizer
    // passes measured in the plan). Windows collapse to xxhash64 keys
    // before any shuffle — every groupBy/join moves 8-byte longs
    // instead of ~30-byte 5-gram strings (the qContainmentDedup move;
    // counts are hash-blind, a 2^-64 collision is the only way results
    // could differ), and g never reaches the output.
    val base = documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("arr"))
      .withColumn("w", call_function("graft_word_ngrams", col("arr"), lit(5)))
      .filter(size(col("w")) > 0)
      .localCheckpoint(true)
    val wins = base
      .select(col("doc_id"), posexplode(col("w")).as(Seq("p0", "g0")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"),
        xxhash64(col("g0")).as("g"))
    val valve = wins.groupBy("g")
      .agg(countDistinct("doc_id").as("nd"), count(lit(1)).as("no"))
      .filter(col("nd") >= 2 && col("no") <= 64)
      .select("g")
    // the valved positions feed BOTH sides of the pair self-join:
    // materialize once
    val dup = wins.join(valve, Seq("g"), "left_semi")
      .localCheckpoint(true)
    val pairs = dup
      .select(col("g"), col("doc_id").as("doc_a"), col("pos").as("pa"))
      .join(dup.select(col("g"), col("doc_id").as("doc_b"),
        col("pos").as("pb")), "g")
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "pa", "pb")
    val wIsl = Window
      .partitionBy(col("doc_a"), col("doc_b"), col("pa") - col("pb"))
      .orderBy("pa")
    val spans = pairs
      .withColumn("island", col("pa") - row_number().over(wIsl))
      .groupBy(col("doc_a"), col("doc_b"),
        (col("pa") - col("pb")).as("diag"), col("island"))
      .agg(min("pa").as("start_a"), min("pb").as("start_b"),
        count(lit(1)).as("n_windows"))
      .withColumn("span_tokens", col("n_windows") + 4L)
      .orderBy(col("span_tokens").desc, col("doc_a"), col("doc_b"),
        col("start_a"), col("start_b"))
      .limit(50)
    spans
      .join(base.select(col("doc_id").as("doc_a"), col("arr")), "doc_a")
      .select(col("doc_a"), col("doc_b"), col("start_a"), col("start_b"),
        col("n_windows"), col("span_tokens"),
        substring(concat_ws(" ",
          slice(col("arr"), col("start_a").cast("int"),
            col("span_tokens").cast("int"))), 1, 120).as("span_preview"))
      .orderBy(col("span_tokens").desc, col("doc_a"), col("doc_b"),
        col("start_a"), col("start_b"))
  }

  /** DuckDB oracle for [[qDupSpans]]: identical valve, diagonal
    * islands, and span-text slice — span-BOUNDARY exactness is pinned
    * because start/length feed the text slice, so an off-by-one in
    * either engine's island arithmetic changes span_preview and
    * fails the hash. */
  val dupSpansOracleSql: String =
    """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
      |              FROM documents),
      |base AS (SELECT doc_id, arr,
      |           list_transform(range(1, len(arr) - 3),
      |             i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] || ' ' ||
      |                  arr[i+3] || ' ' || arr[i+4]) AS w
      |         FROM toks WHERE len(arr) >= 5),
      |wins AS (SELECT doc_id, pr.pos AS pos, pr.g AS g
      |         FROM (SELECT doc_id,
      |                 UNNEST(list_transform(generate_series(1, len(w)),
      |                   i -> {'pos': i, 'g': w[i]})) AS pr
      |               FROM base)),
      |valve AS (SELECT g FROM (
      |            SELECT g, COUNT(DISTINCT doc_id) AS nd, COUNT(*) AS nocc
      |            FROM wins GROUP BY g)
      |          WHERE nd >= 2 AND nocc <= 64),
      |dup AS (SELECT wins.* FROM wins JOIN valve USING (g)),
      |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |                 a.pos AS pa, b.pos AS pb
      |          FROM dup a JOIN dup b
      |            ON a.g = b.g AND a.doc_id < b.doc_id),
      |isl AS (SELECT *, pa - ROW_NUMBER() OVER (
      |          PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS island
      |        FROM pairs),
      |spans AS (SELECT doc_a, doc_b, pa - pb AS diag, island,
      |            CAST(MIN(pa) AS BIGINT) AS start_a,
      |            CAST(MIN(pb) AS BIGINT) AS start_b,
      |            CAST(COUNT(*) AS BIGINT) AS n_windows,
      |            CAST(COUNT(*) + 4 AS BIGINT) AS span_tokens
      |          FROM isl GROUP BY 1, 2, 3, 4),
      |topn AS (SELECT * FROM spans
      |         ORDER BY span_tokens DESC, doc_a, doc_b, start_a, start_b
      |         LIMIT 50)
      |SELECT t.doc_a, t.doc_b, t.start_a, t.start_b, t.n_windows,
      |       t.span_tokens,
      |       substr(array_to_string(
      |         b2.arr[CAST(t.start_a AS INTEGER) :
      |                CAST(t.start_a + t.span_tokens - 1 AS INTEGER)], ' '),
      |         1, 120) AS span_preview
      |FROM topn t JOIN base b2 ON b2.doc_id = t.doc_a
      |ORDER BY span_tokens DESC, doc_a, doc_b, start_a, start_b""".stripMargin

  /** Late-interaction retrieval scoring (the ColBERT MaxSim shape,
    * Khattab & Zaharia 2020) — the ranking family's third member
    * beyond bag-of-words ([[qBm25]]) and single-vector cosine
    * (q_vector_topk): every QUERY token keeps its own vector and
    * scores against the doc's best-matching TOKEN, so multi-aspect
    * queries don't collapse into one averaged direction:
    * score(q, d) = Σ_{i ∈ q} max_{j ∈ d} sim(qᵢ, dⱼ). Token vectors
    * are the honest stub (the container has no trained encoder):
    * 16-dim ±1 vectors from the first 16 md5 bits of the token —
    * which makes the similarity EXACT INTEGER arithmetic via the
    * Hamming identity dot(a, b) = 16 − 2·popcount(bits_a XOR bits_b),
    * so no engine ever materializes a vector, compares a float, or
    * runs anything but bit_count on the hot path. Swapping in real
    * token embeddings replaces one column expression; what this query
    * pins is the late-interaction PLAN at 100 TB: distinct (doc,
    * token) table × broadcast 4-token query, one (doc, query-token)
    * max aggregate, one doc sum — per-doc cost linear in distinct
    * tokens, query-side fan-out bounded by the query length, no
    * vocabulary table, no all-pairs. */
  def qLateInteraction(s: SparkSession, d: String): DataFrame = {
    val queryToks = Seq("fast", "query", "stream", "vector")
    def bits16(c: Column): Column =
      conv(substring(md5(c), 1, 4), 16, 10).cast("long")
    val qt = s.range(1)
      .select(explode(array(queryToks.map(lit): _*)).as("qtok"))
      .select(col("qtok"), bits16(col("qtok")).as("qbits"))
    val dt = documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .distinct()
      .select(col("doc_id"), bits16(col("w")).as("wbits"))
    val maxsim = dt.crossJoin(broadcast(qt))
      .select(col("doc_id"), col("qtok"),
        (lit(16L) - lit(2L) * bit_count(col("qbits")
          .bitwiseXOR(col("wbits"))).cast("long")).as("dot"))
      .groupBy("doc_id", "qtok").agg(max("dot").as("ms"))
    val pivots = queryToks.map(t =>
      max(when(col("qtok") === t, col("ms"))).as(s"ms_$t"))
    val aggs = sum("ms").as("score") +: pivots
    maxsim.groupBy("doc_id")
      .agg(aggs.head, aggs.tail: _*)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
  }

  /** DuckDB oracle for [[qLateInteraction]]: same md5 16-bit token
    * codes, Hamming-identity dots, max-per-query-token and doc sum. */
  lazy val lateInteractionOracleSql: String = {
    val queryToks = Seq("fast", "query", "stream", "vector")
    val qtList = queryToks.map(t => s"'$t'").mkString(", ")
    val pivots = queryToks.map(t =>
      s"MAX(CASE WHEN qtok = '$t' THEN ms END) AS ms_$t").mkString(",\n       ")
    s"""WITH qt AS (SELECT qtok,
       |        ('0x' || substr(md5(qtok), 1, 4))::BIGINT AS qbits
       |      FROM (SELECT UNNEST([$qtList]) AS qtok)),
       |dt AS (SELECT DISTINCT doc_id, w FROM (
       |        SELECT doc_id,
       |               UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS w
       |        FROM documents)),
       |db AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 4))::BIGINT AS wbits
       |       FROM dt),
       |ms AS (SELECT doc_id, qtok,
       |         CAST(MAX(16 - 2 * bit_count(xor(qbits, wbits))) AS BIGINT) AS ms
       |       FROM db CROSS JOIN qt GROUP BY 1, 2)
       |SELECT doc_id, CAST(SUM(ms) AS BIGINT) AS score,
       |       $pivots
       |FROM ms GROUP BY doc_id
       |ORDER BY score DESC, doc_id
       |LIMIT 20""".stripMargin
  }

  /** Okapi BM25 (k1 = 1.2, b = 0.75) top terms per document — the
    * ranking-grade upgrade of q_tfidf. Document length and term
    * frequency come out of ONE (doc, term) aggregation (dl is derived
    * from tf, so ReuseExchange shares the tokenize+explode shuffle);
    * the 1-row corpus stats are broadcast, but the document-frequency
    * table is vocabulary-sized, so it joins on its `term` key with NO
    * broadcast hint — at 100 TB a vocab broadcast is a multi-GB OOM
    * risk, while AQE still picks broadcast when df actually fits.
    * Scores are ordered unrounded (identical doubles in both engines)
    * and rounded only for output. */
  def qBm25(s: SparkSession, d: String, topK: Int = 3): DataFrame = {
    val terms = documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    // tf feeds doc lengths, document frequencies AND the scoring join —
    // materialize the (doc, term) table once instead of re-running the
    // corpus tokenize per reference (4 document scans -> 1, r15)
    val tf = terms.groupBy("doc_id", "term")
      .agg(count(lit(1)).cast("double").as("tf"))
      .localCheckpoint(true)
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("len"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      (sum("len") / count(lit(1))).as("avgdl"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val scored = tf
      .join(dl, "doc_id")
      .join(dfreq, "term")
      .crossJoin(broadcast(stats))
      .withColumn("score",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          (col("tf") * 2.2) /
          (col("tf") + (lit(0.25) + lit(0.75) * col("len") / col("avgdl")) * 1.2))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("term").asc)
    scored
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= topK)
      .select(col("doc_id"), col("rn"), col("term"), round(col("score"), 4).as("score"))
      .orderBy("doc_id", "rn")
  }

  /** Content-defined fingerprint: min-of-shingle-hashes (winnowing
    * flavor) + a position-weighted order-sensitive hash. Stable
    * document identity for incremental dedup at scale. Both hashes
    * are md5-derived so the DuckDB oracle replays every value (the
    * winnow fp is permutation 0 of graft_md5_minhash — one native
    * pass shared with q_dedup_minhash_md5's signature); documents
    * under 3 tokens get the -1 sentinel. The order hash is
    * Σ (h(tok_i) mod P)·(i+1) mod P — order-sensitive (catches
    * shuffled-token near-dups the bag-of-shingles min misses), and
    * SQL-expressible unlike a sequential rolling hash. */
  def qDocFingerprint(s: SparkSession, d: String): DataFrame = {
    graft.expressions.VectorExpressions.register(s)
    val P = 1000000007L
    documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("arr"))
      .select(
        col("doc_id"),
        coalesce(try_element_at(
          call_function("graft_md5_minhash",
            array_distinct(call_function("graft_word_ngrams", col("arr"), lit(3)))),
          lit(1)), lit(-1L)).as("winnow_fp"),
        (aggregate(
          transform(col("arr"), (x, i) =>
            (conv(substring(md5(x), 1, 15), 16, 10).cast("long") % P) * (i + 1)),
          lit(0L), (acc, x) => acc + x) % P).as("order_fp"))
      .orderBy("doc_id")
  }

  /** Regex extraction/replacement over the corpus: first match,
    * character-class scrub, and a literal-substring occurrence count
    * (the length-difference trick — no regex needed on the hot path).
    * All three are codegen'd string builtins in one projection; at
    * corpus scale the cost is one pass over the text bytes with no
    * shuffle. Patterns stay in the RE2 ∩ java.util.regex common
    * subset so engines agree. */
  def qRegexExtract(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(
        col("doc_id"),
        regexp_extract(col("text"), "s[a-z]+", 0).as("first_s_word"),
        regexp_replace(substring(col("text"), 1, 40), "[aeiou]", "").as("devoweled"),
        ((length(col("text")) -
          length(replace(col("text"), lit("table"), lit("")))) / 5)
          .cast("long").as("n_table"))
      .orderBy("doc_id")

  /** Higher-order array functions end-to-end (filter / transform /
    * aggregate / exists over the token array): all four run inside
    * one codegen'd projection with NO explode — the per-row array
    * stays an array, so a 100 TB corpus never fans out to a
    * token-level shuffle just to compute per-doc features. */
  def qHigherOrderFuncs(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        size(filter(col("toks"), t => length(t) > 4)).cast("long").as("n_long"),
        aggregate(transform(col("toks"), t => length(t)),
          lit(0), (acc, x) => acc + x).cast("long").as("total_len"),
        array_contains(col("toks"), "the").cast("int").as("has_the"),
        array_join(transform(slice(col("toks"), 1, 3), t => upper(t)), " ")
          .as("first3_upper"))
      .orderBy("doc_id")

  /** Positional explode (posexplode = UNNEST WITH ORDINALITY): the
    * first 10 tokens of each small-id doc with their positions. The
    * generate multiplies rows 10×; at scale you bound the slice (as
    * here) or the fan-out IS the product (q_doc_chunking). */
  def qPosexplode(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .filter(col("doc_id") < 50)
      .select(col("doc_id"), posexplode(slice(tokens(col("text")), 1, 10)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("token"))
      .orderBy("doc_id", "pos")

  /** Corpus-wide character-trigram frequency (the language-ID /
    * domain-fingerprint feature): normalize like qTextClean, expand
    * each doc to its trigrams with the native graft_char_ngrams pass
    * (one O(bytes) loop per doc — the transform(sequence, substring)
    * HOF formulation paid an interpreted lambda + substring scan per
    * gram, 3.4× slower at sf0.1), then partial-agg before the single
    * shuffle on gram. */
  def qCharNgram(s: SparkSession, d: String): DataFrame = {
    graft.expressions.VectorExpressions.register(s)
    documents(s, d)
      .select(
        regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""),
          " +", " ").as("ct"))
      .select(explode(call_function("graft_char_ngrams", col("ct"), lit(3)))
        .as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram")).limit(30)
  }

  /** Per-row array set operations (intersect/except/union against a
    * literal vocabulary) — the no-explode form of vocabulary checks:
    * each doc's distinct tokens stay one array cell, so there is no
    * token-level fan-out and no shuffle. */
  def qArraySetops(s: SparkSession, d: String): DataFrame = {
    val sw = array(StopwordsEn.map(lit): _*)
    documents(s, d)
      .select(col("doc_id"), array_distinct(tokens(col("text"))).as("toks"))
      .select(
        col("doc_id"),
        array_join(array_sort(array_intersect(col("toks"), sw)), ",").as("common"),
        size(array_intersect(col("toks"), sw)).cast("long").as("n_common"),
        size(array_except(col("toks"), sw)).cast("long").as("n_only_doc"),
        size(array_union(col("toks"), sw)).cast("long").as("n_union"))
      .orderBy("doc_id")
  }

  /** Classifier evaluation of the lang-ID heuristic against the
    * labeled lang column: per class — support, predictions, true
    * positives, precision/recall/F1. The metrics every training
    * pipeline computes after a model pass, here entirely in-engine:
    * two tiny aggregates of the prediction table (by label, by
    * prediction) full-outer-joined on the class. Ratios use
    * floor-rounding (both engines floor the identical double —
    * Spark's round() string-vs-binary divergence cannot fire). */
  def qLangidEval(s: SparkSession, d: String): DataFrame = {
    def r4(x: Column): Column = floor(x * 10000.0 + 0.5) / 10000.0
    val pred = langScored(s, d).select(col("labeled_lang"), col("predicted_lang"))
    val byLabel = pred.groupBy(col("labeled_lang").as("lang")).agg(
      count(lit(1)).as("n_labeled"),
      sum(when(col("labeled_lang") === col("predicted_lang"), 1L).otherwise(0L)).as("tp"))
    val byPred = pred.groupBy(col("predicted_lang").as("lang")).agg(
      count(lit(1)).as("n_predicted"))
    byLabel.join(byPred, Seq("lang"), "full_outer")
      .na.fill(0L, Seq("n_labeled", "tp", "n_predicted"))
      .withColumn("precision",
        when(col("n_predicted") > 0, r4(col("tp") / col("n_predicted"))).otherwise(lit(0.0)))
      .withColumn("recall",
        when(col("n_labeled") > 0, r4(col("tp") / col("n_labeled"))).otherwise(lit(0.0)))
      .withColumn("f1",
        when(col("precision") + col("recall") > 0,
          r4(lit(2.0) * col("precision") * col("recall") /
            (col("precision") + col("recall")))).otherwise(lit(0.0)))
      .select("lang", "n_labeled", "n_predicted", "tp", "precision", "recall", "f1")
      .orderBy("lang")
  }

  /** Unigram-LM perplexity proxy (the CCNet-style quality filter):
    * score every document by the mean log-probability of its tokens
    * under the corpus's own unigram distribution, and surface the
    * 100 most-surprising (lowest-scoring) documents — the gibberish/
    * boilerplate end a curation pass drops first. ONE tokenize pass:
    * tokens collapse immediately to (doc,term) counts (the only
    * corpus-sized shuffle); the vocabulary marginal is a window sum
    * over that aggregate partitioned by term — no token-level join,
    * no vocabulary broadcast. The final ranking is a distributed
    * top-k on the ROUNDED score so both engines cut the same
    * boundary. */
  def qUnigramLogprob(s: SparkSession, d: String): DataFrame = {
    val dwc = documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true) // total + scoring window — tokenize once (r15)
    val tot = dwc.agg(sum("cnt").cast("double").as("n"))
    dwc.withColumn("c", sum("cnt").over(
        org.apache.spark.sql.expressions.Window.partitionBy("w")))
      .crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(sum("cnt").cast("long").as("n_tok"),
        sum(col("cnt") * log(col("c") / col("n"))).as("s"))
      .select(col("doc_id"), col("n_tok"),
        round(col("s") / col("n_tok"), 4).as("avg_logprob"))
      .orderBy(col("avg_logprob").asc, col("doc_id"))
      .limit(100)
  }

  /** Prefix-fingerprint duplicate groups: md5 of the first 8 tokens.
    * Boilerplate (license headers, templated intros) shows up as
    * shared prefixes long before full-document hashes match — this is
    * the cheap first pass before MinHash. One tokenize projection,
    * one fingerprint-keyed aggregate; the report is the top-50 dup
    * groups, a distributed top-k. */
  def qPrefixDedup(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        md5(concat_ws(" ", slice(tokens(col("text")), 1, 8))).as("prefix_fp"))
      .groupBy("prefix_fp")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("canonical_id"))
      .filter(col("n_docs") > 1)
      .orderBy(col("n_docs").desc, col("prefix_fp"))
      .limit(50)

  /** First BPE merge iteration: the corpus-wide frequency of every
    * adjacent character pair inside words — the statistic a BPE
    * tokenizer trainer maximizes at each merge step (Sennrich et al.,
    * "Neural Machine Translation of Rare Words with Subword Units").
    * Words explode ×(len−1) into pairs (linear fan-out, bounded by
    * corpus bytes), then one aggregate + distributed top-20. A full
    * trainer iterates this with the chosen merge applied; one step is
    * the differentially-testable unit. */
  def qBpeMerge(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")) >= 2)
      .select(col("word"),
        explode(sequence(lit(1), length(col("word")) - 1)).as("i"))
      .select(expr("substring(word, i, 2)").as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(20)

  /** One BPE merge APPLIED — the training step [[qBpeMerge]]'s
    * frequency table exists for: the corpus-wide most frequent
    * adjacent character pair (tie-break: pair asc) becomes one
    * symbol in every vocabulary word's symbol sequence. Words are
    * spaced single-char symbols, so a left-to-right `replace` of
    * "x y" → "xy" is exactly the BPE merge (single-char symbols make
    * every substring match boundary-aligned, and both engines
    * replace left-to-right non-overlapping). The vocabulary is the
    * bounded table; the merge is one broadcast of a 1-row pair.
    * Output: the top-30 words by frequency with their post-merge
    * segmentations — the tokenizer-construction loop's inner step as
    * a query. */
  def qBpeApply(s: SparkSession, d: String): DataFrame = {
    val vocab = documents(s, d)
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val top = vocab
      .filter(length(col("word")) >= 2)
      .select(col("word"), col("freq"),
        explode(sequence(lit(1), length(col("word")) - 1)).as("i"))
      .select(expr("substring(word, i, 2)").as("pair"), col("freq"))
      .groupBy("pair").agg(sum("freq").as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(1)
      .select(col("pair"),
        concat(substring(col("pair"), 1, 1), lit(" "),
          substring(col("pair"), 2, 1)).as("spaced"))
    vocab
      .crossJoin(broadcast(top))
      .withColumn("symbols",
        concat_ws(" ", split(col("word"), "")))
      .withColumn("symbols_after",
        expr("replace(symbols, spaced, pair)"))
      .select(col("word"), col("freq"), col("pair").as("merge_pair"),
        col("symbols_after"),
        (col("symbols_after") =!= col("symbols")).cast("int").as("changed"))
      .orderBy(col("freq").desc, col("word"))
      .limit(30)
  }

  /** Number of merges [[qBpeTrain]] learns — small enough to unroll
    * as oracle CTE stages, large enough that later merges build on
    * earlier merged symbols (multi-char pairs appear by step ~3 on
    * the fixture). */
  private val BpeTrainSteps = 8

  /** Multi-iteration BPE TRAINER (Sennrich et al. 2016) — the full
    * loop [[qBpeMerge]] (one count) and [[qBpeApply]] (one merge)
    * stop short of: k = [[BpeTrainSteps]] merges learned end to end,
    * then the corpus tokenized with the learned table. Symbols ride
    * an individually-wrapped encoding `|a||b||c|` so one string
    * `replace` IS the exact left-to-right non-overlapping BPE merge
    * at every step, including after symbols grow multi-char: the
    * pattern `|pa||pb|` can never match inside another symbol (its
    * interior `||` only occurs at symbol boundaries) and the
    * replacement re-emits both wrappers, so adjacent disjoint
    * occurrences all merge in one pass — the failure modes of
    * space-separated encodings (boundary false-positives, delimiter
    * consumption between back-to-back matches) are impossible by
    * construction. Training is vocab-frequency-weighted (equivalent
    * to corpus-occurrence counts), restricted to purely alphabetic
    * tokens so the wrapper char is collision-free. Distributed
    * shape: ONE corpus tokenize builds the Heaps-bounded (word,
    * freq) vocab, localCheckpointed; each of the k rounds is a
    * pair-count aggregate + broadcast 1-row argmax + map-side
    * replace over that small table (the q_ann_ivf Lloyd discipline —
    * checkpoint per round keeps lineage flat). Output: one row per
    * merge step with the chosen pair, its weighted count, and the
    * post-merge vocabulary state (distinct symbol types, total
    * corpus token count, compression vs character-level) — the
    * curve a tokenizer trainer tunes k against. */
  def qBpeTrain(s: SparkSession, d: String): DataFrame = {
    def r4(x: Column): Column = floor(x * 10000.0 + 0.5) / 10000.0
    val v0 = documents(s, d)
      .select(explode(tokens(col("text"))).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("sym", regexp_replace(col("word"), "(.)", "|$1|"))
      .localCheckpoint(true)
    val chars = v0
      .agg(sum(col("freq") * length(col("word"))).as("chars"))
    def symList(df: DataFrame): DataFrame = df.withColumn("l",
      split(expr("trim(BOTH '|' FROM sym)"), "\\|\\|"))
    var cur = v0
    val stepRows = (1 to BpeTrainSteps).map { i =>
      val top = symList(cur)
        .filter(size(col("l")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(l) - 1)," +
            " j -> struct(element_at(l, j) AS pa," +
            " element_at(l, j + 1) AS pb))")).as("p"))
        .groupBy("p.pa", "p.pb").agg(sum("freq").as("n"))
        .orderBy(col("n").desc, col("pa"), col("pb"))
        .limit(1)
        .localCheckpoint(true)
      cur = cur.crossJoin(broadcast(top))
        .withColumn("sym", expr(
          "replace(sym, concat('|', pa, '||', pb, '|')," +
            " concat('|', pa, pb, '|'))"))
        .select("word", "freq", "sym")
        .localCheckpoint(true)
      // one stats pass instead of two: over the exploded symbol
      // stream, sum(freq) ≡ Σ freq·|l| (each word contributes freq
      // once per symbol) — so tokens_total and n_symbols come out of
      // ONE aggregate over ONE explode, halving the per-round stat
      // jobs and broadcasts (guide §1.2: fewer passes)
      val stats = symList(cur)
        .select(col("freq"), explode(col("l")).as("u"))
        .agg(countDistinct("u").as("n_symbols"),
          sum("freq").as("tokens_total"))
      top.select(lit(i).cast("long").as("step"),
          concat(col("pa"), col("pb")).as("merge_pair"),
          col("n").as("pair_n"))
        .crossJoin(broadcast(stats))
    }
    stepRows.reduce(_ unionByName _)
      .crossJoin(broadcast(chars))
      .select(col("step"), col("merge_pair"), col("pair_n"),
        col("n_symbols"), col("tokens_total"),
        r4(col("tokens_total").cast("double") / col("chars"))
          .as("compression_ratio"))
      .orderBy("step")
  }

  /** DuckDB oracle for [[qBpeTrain]]: the k training rounds unrolled
    * as CTE stages (count → argmax → replace → stats per stage), one
    * generated template per step — a divergence at ANY round (tie
    * broken differently, a merge applied to a boundary-crossing
    * match, a stat off by one symbol) cascades into every later
    * round's chosen pair and fails the hash. */
  lazy val bpeTrainOracleSql: String = {
    val stages = (1 to BpeTrainSteps).map { i =>
      s"""l$i AS (SELECT freq, string_split(trim(BOTH '|' FROM sym), '||') AS l
         |  FROM v${i - 1}),
         |p$i AS (SELECT pr.pa AS pa, pr.pb AS pb, CAST(SUM(freq) AS BIGINT) AS n
         |  FROM (SELECT freq,
         |          UNNEST(list_transform(generate_series(1, len(l) - 1),
         |            j -> {'pa': l[j], 'pb': l[j + 1]})) AS pr
         |        FROM l$i WHERE len(l) >= 2)
         |  GROUP BY 1, 2),
         |b$i AS (SELECT pa, pb, n FROM p$i ORDER BY n DESC, pa, pb LIMIT 1),
         |v$i AS (SELECT word, freq,
         |    replace(sym, '|' || pa || '||' || pb || '|',
         |            '|' || pa || pb || '|') AS sym
         |  FROM v${i - 1} CROSS JOIN b$i),
         |t$i AS (SELECT CAST(SUM(freq *
         |    len(string_split(trim(BOTH '|' FROM sym), '||'))) AS BIGINT)
         |    AS tokens_total FROM v$i),
         |s$i AS (SELECT CAST(COUNT(DISTINCT u) AS BIGINT) AS n_symbols
         |  FROM (SELECT UNNEST(string_split(trim(BOTH '|' FROM sym), '||')) AS u
         |        FROM v$i)),
         |r$i AS (SELECT CAST($i AS BIGINT) AS step, pa || pb AS merge_pair,
         |    n AS pair_n, n_symbols, tokens_total
         |  FROM b$i CROSS JOIN s$i CROSS JOIN t$i)""".stripMargin
    }.mkString(",\n")
    val unions = (1 to BpeTrainSteps).map(i => s"SELECT * FROM r$i")
      .mkString(" UNION ALL ")
    s"""WITH v0 AS (
       |  SELECT word, freq, regexp_replace(word, '(.)', '|\\1|', 'g') AS sym
       |  FROM (SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
       |          SELECT UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS w
       |          FROM documents)
       |        WHERE regexp_matches(w, '^[a-z]+$$') GROUP BY 1)),
       |$stages,
       |chars AS (SELECT CAST(SUM(freq * len(word)) AS BIGINT) AS chars FROM v0)
       |SELECT step, merge_pair, pair_n, n_symbols, tokens_total,
       |       FLOOR(CAST(tokens_total AS DOUBLE) / chars * 10000.0 + 0.5)
       |         / 10000.0 AS compression_ratio
       |FROM ($unions) CROSS JOIN chars
       |ORDER BY step""".stripMargin
  }

  /** fastText-style linear quality classifier inference (Joulin et
    * al., "Bag of Tricks for Efficient Text Classification"): score
    * every document as Σ w(feature) over unigram + word-bigram
    * features, keep if the score is positive. The hashing trick is
    * the real fastText mechanism — features never materialize a
    * vocabulary table; each feature hashes straight to its weight
    * slot — so inference is one explode (linear in tokens) + one
    * aggregate, with NO weight-table join or broadcast at any corpus
    * size. The weights themselves are the honest stub: md5-derived
    * integers in [-1000, 1000] standing in for a trained model (the
    * container has no trained classifier), which keeps every score
    * integer-exact and SQL-replayable. Swapping in real weights =
    * replacing one column expression; the distributed shape is what
    * this query pins.
    *
    * The whole score is ONE native expression over the token array
    * (graft_md5_linear_score, bit-identical hash math) — inference is
    * a pure map over the corpus with ZERO shuffle, which is exactly
    * how a classifier filter should run at 100 TB (the first explode
    * + per-feature md5 + groupBy draft measured 7.0 s at sf0.1; this
    * runs sub-second). */
  def qQualityClassifier(s: SparkSession, d: String): DataFrame = {
    graft.expressions.VectorExpressions.register(s)
    documents(s, d)
      .select(col("doc_id"),
        call_function("graft_md5_linear_score", tokens(col("text"))).as("sc"))
      .select(col("doc_id"),
        element_at(col("sc"), 1).as("n_feats"),
        element_at(col("sc"), 2).as("score_sum"))
      .select(col("doc_id"), col("n_feats"), col("score_sum"),
        (col("score_sum") > 0).cast("int").as("keep"))
      .orderBy("doc_id")
  }

  /** MinHash estimator-quality audit: for every LSH candidate pair,
    * the Jaccard ESTIMATE from 8-permutation signature agreement
    * (matching positions / 8 — the unbiased MinHash estimator,
    * Broder 1997) against the EXACT shingle-set Jaccard, with the
    * absolute error. This is the audit that justifies a sketch
    * parameter choice before running it over 100 TB — the same
    * exact-vs-sketch comparison shape as q_countmin's audit, here
    * for the dedup family. Signatures and shingle-hash sets are
    * md5-derived (one native pass, shared machinery with
    * q_dedup_minhash_md5), so the DuckDB oracle replays every value;
    * the exact Jaccard runs only on CANDIDATE pairs (already
    * LSH-blocked), never all pairs. */
  def qMinhashJaccardEst(s: SparkSession, d: String): DataFrame = {
    graft.expressions.VectorExpressions.register(s)
    val base = documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("arr"))
      .filter(size(col("arr")) >= 3)
      .select(col("doc_id"),
        array_distinct(call_function("graft_word_ngrams", col("arr"), lit(3)))
          .as("shg"))
      .select(col("doc_id"),
        call_function("graft_md5_minhash", col("shg")).as("sig"),
        sort_array(array_distinct(transform(col("shg"),
          g => conv(substring(md5(g), 1, 15), 16, 10).cast("long")))).as("hs"))
    md5MinhashPairs(s, d)
      .join(base.select(col("doc_id").as("da"),
        col("sig").as("sig_a"), col("hs").as("hs_a")), Seq("da"))
      .join(base.select(col("doc_id").as("db"),
        col("sig").as("sig_b"), col("hs").as("hs_b")), Seq("db"))
      .select(col("da"), col("db"),
        aggregate(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (a, x) => a + x).as("n_match"),
        round(call_function("graft_jaccard_sorted", col("hs_a"), col("hs_b")), 4)
          .as("exact_jaccard"))
      .withColumn("est_jaccard", col("n_match") / lit(8.0))
      .withColumn("abs_err",
        round(abs(col("est_jaccard") - col("exact_jaccard")), 4))
      .select("da", "db", "n_match", "est_jaccard", "exact_jaccard", "abs_err")
      .orderBy("da", "db")
  }

  /** LSH recall/precision audit — the measurement that justifies (or
    * indicts) every banded-minhash dedup deployment: on a bounded
    * ground-truth sample (doc_id < 200 — all-pairs exact Jaccard is
    * only computable on a sample, which is exactly how production
    * audits run), compare the band-collision candidate set against
    * the true ≥τ pair set for a τ grid. Recall says what the banding
    * misses (the S-curve's left tail); precision says what the
    * verify stage must filter. Same 8-hash md5 signature and 4×2
    * banding as the production q_dedup_minhash_md5 path, so the audit
    * measures THE deployed configuration; exact Jaccards quantize to
    * 1e-4 longs before every τ comparison (no float boundary flap),
    * and the all-pairs join broadcasts the 200-row side (bounded by
    * contract, never corpus-scaled). */
  def qLshRecallAudit(s: SparkSession, d: String, sample: Int = 200): DataFrame = {
    graft.expressions.VectorExpressions.register(s)
    def r4(x: Column): Column = floor(x * 10000.0 + 0.5) / 10000.0
    val base = documents(s, d).filter(col("doc_id") < sample)
      .select(col("doc_id"), tokens(col("text")).as("arr"))
      .filter(size(col("arr")) >= 3)
      .select(col("doc_id"),
        array_distinct(call_function("graft_word_ngrams", col("arr"), lit(3)))
          .as("shg"))
      .select(col("doc_id"),
        call_function("graft_md5_minhash", col("shg")).as("sig"),
        sort_array(array_distinct(transform(col("shg"),
          g => conv(substring(md5(g), 1, 15), 16, 10).cast("long")))).as("hs"))
      .localCheckpoint(true)
    val a = base.select(col("doc_id").as("da"), col("sig").as("sig_a"),
      col("hs").as("hs_a"))
    val b = base.select(col("doc_id").as("db"), col("sig").as("sig_b"),
      col("hs").as("hs_b"))
    val cand = (0 until 4).map { k =>
      element_at(col("sig_a"), 2 * k + 1) === element_at(col("sig_b"), 2 * k + 1) &&
        element_at(col("sig_a"), 2 * k + 2) === element_at(col("sig_b"), 2 * k + 2)
    }.reduce(_ || _)
    val scored = a.join(broadcast(b), col("da") < col("db"))
      .select(col("da"), col("db"), cand.cast("long").as("cand"),
        floor(call_function("graft_jaccard_sorted", col("hs_a"), col("hs_b"))
          * 10000.0 + 0.5).cast("long").as("ju"))
    val grid = s.range(4).select(((col("id") + 1) * 2000L).as("tau_u"))
    scored.crossJoin(broadcast(grid))
      .groupBy("tau_u")
      .agg(sum((col("ju") >= col("tau_u")).cast("long")).as("n_true"),
        sum("cand").as("n_cand"),
        sum((col("cand") === 1 && col("ju") >= col("tau_u")).cast("long")).as("tp"))
      .withColumn("recall",
        when(col("n_true") === 0, lit(1.0))
          .otherwise(r4(col("tp") / col("n_true").cast("double"))))
      .withColumn("precision",
        when(col("n_cand") === 0, lit(1.0))
          .otherwise(r4(col("tp") / col("n_cand").cast("double"))))
      .orderBy("tau_u")
  }

  /** DuckDB oracle for [[qLshRecallAudit]]: the md5 signature, band
    * collisions, exact Jaccards, and τ-grid classification replayed
    * from scratch. */
  val lshRecallAuditOracleSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
      |  FROM documents WHERE doc_id < 200),
      |shd AS (
      |  SELECT DISTINCT doc_id,
      |    UNNEST(list_transform(range(1, len(arr) - 1),
      |      i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2])) AS shingle
      |  FROM toks WHERE len(arr) >= 3),
      |hset AS (
      |  SELECT doc_id, list_sort(list(DISTINCT
      |    ('0x' || substr(md5(shingle), 1, 15))::BIGINT)) AS hl
      |  FROM shd GROUP BY doc_id),
      |mh AS (
      |  SELECT doc_id, p,
      |    min(('0x' || substr(md5(CAST(p // 2 AS VARCHAR) || ':' || shingle),
      |                        CAST(1 + 15 * (p % 2) AS INTEGER), 15))::BIGINT) AS mv
      |  FROM shd, range(8) t(p) GROUP BY doc_id, p),
      |sig AS (SELECT doc_id, list(mv ORDER BY p) AS sg FROM mh GROUP BY doc_id),
      |sc AS (
      |  SELECT sa.doc_id AS da, sb.doc_id AS db,
      |    CASE WHEN (sa.sg[1] = sb.sg[1] AND sa.sg[2] = sb.sg[2])
      |           OR (sa.sg[3] = sb.sg[3] AND sa.sg[4] = sb.sg[4])
      |           OR (sa.sg[5] = sb.sg[5] AND sa.sg[6] = sb.sg[6])
      |           OR (sa.sg[7] = sb.sg[7] AND sa.sg[8] = sb.sg[8])
      |         THEN 1 ELSE 0 END AS cand,
      |    CAST(FLOOR(CAST(len(list_intersect(ha.hl, hb.hl)) AS DOUBLE) /
      |          (len(ha.hl) + len(hb.hl) - len(list_intersect(ha.hl, hb.hl)))
      |          * 10000.0 + 0.5) AS BIGINT) AS ju
      |  FROM sig sa JOIN sig sb ON sa.doc_id < sb.doc_id
      |  JOIN hset ha ON ha.doc_id = sa.doc_id
      |  JOIN hset hb ON hb.doc_id = sb.doc_id),
      |grid AS (SELECT CAST(UNNEST([2000, 4000, 6000, 8000]) AS BIGINT) AS tau_u)
      |SELECT g.tau_u,
      |  CAST(SUM(CASE WHEN ju >= g.tau_u THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
      |  CAST(SUM(cand) AS BIGINT) AS n_cand,
      |  CAST(SUM(CASE WHEN cand = 1 AND ju >= g.tau_u THEN 1 ELSE 0 END)
      |       AS BIGINT) AS tp,
      |  CASE WHEN SUM(CASE WHEN ju >= g.tau_u THEN 1 ELSE 0 END) = 0 THEN 1.0
      |       ELSE FLOOR(SUM(CASE WHEN cand = 1 AND ju >= g.tau_u THEN 1 ELSE 0 END)
      |         / CAST(SUM(CASE WHEN ju >= g.tau_u THEN 1 ELSE 0 END) AS DOUBLE)
      |         * 10000.0 + 0.5) / 10000.0 END AS recall,
      |  CASE WHEN SUM(cand) = 0 THEN 1.0
      |       ELSE FLOOR(SUM(CASE WHEN cand = 1 AND ju >= g.tau_u THEN 1 ELSE 0 END)
      |         / CAST(SUM(cand) AS DOUBLE) * 10000.0 + 0.5) / 10000.0 END AS precision
      |FROM sc CROSS JOIN grid g GROUP BY g.tau_u ORDER BY tau_u""".stripMargin

  /** Maximum document frequency for a shingle to participate in
    * containment blocking (see [[qContainmentDedup]]): a shingle
    * shared by more than this many docs is boilerplate (licence
    * headers, navigation chrome) and would put a df² candidate burst
    * on one join key — the same stop-key valve the LSH family applies
    * to oversized buckets. */
  val ContainmentMaxDf = 64

  /** Shingle width for containment dedup: 5 words. Wider than the
    * trigram ops on purpose — the candidate fan-out is Σ df² over
    * shingles, and df falls geometrically with width; 3-shingles on
    * a small vocabulary are near-stopwords (df ~ corpus size, ~100M
    * candidate pairs at sf0.1) while 5-shingles block the same
    * lifted-paragraph duplicates at a fraction of the df. Broder's
    * resemblance work uses 4-10-word shingles for exactly this
    * selectivity reason. */
  val ContainmentShingleW = 5

  /** Shingle-CONTAINMENT dedup (Broder 1997's other resemblance
    * measure): C(A→B) = |S(A) ∩ S(B)| / |S(A)| over distinct
    * [[ContainmentShingleW]]-word shingles. Jaccard misses sub-document duplication — a paragraph
    * wholly lifted into a larger page scores low Jaccard but
    * containment 1.0 — so pipelines run BOTH (Jaccard for mirror
    * pages, containment for quote/aggregator pages). Candidate
    * generation collects each shingle bucket's doc list (bounded by
    * the [[ContainmentMaxDf]] stop-shingle valve) and explodes
    * ordered pairs map-side, so the pair stream is Σ df² over
    * surviving shingles (never all-pairs) and the intersection size
    * falls out of one pair count — no re-scoring pass, no self-join. Per-doc shingle-set sizes ride the pair via
    * two dimension joins on the doc key. Directed: reported for the
    * SMALLER side (the contained doc), both orders kept when sizes
    * tie. */
  def qContainmentDedup(s: SparkSession, d: String): DataFrame = {
    graft.expressions.VectorExpressions.register(s)
    def r4(x: Column): Column = floor(x * 10000.0 + 0.5) / 10000.0
    // the tokenize+shingle explode feeds FOUR consumers (sizes, the
    // df filter, and both sides of the candidate self-join); eager
    // localCheckpoint materializes it once — same reuse pattern as
    // qDedupCluster's edge list. Shingles collapse to xxhash64 keys
    // BEFORE the checkpoint: every downstream groupBy/join shuffles
    // and compares 8-byte longs instead of ~40-byte shingle strings
    // (the counts are hash-blind — a 2^-64 collision is the only way
    // results could differ), and the materialized table shrinks ~5×.
    val sh = corpusWithDupsToks(s, d)
      .select(col("doc_id"), explode(array_distinct(
        call_function("graft_word_ngrams", col("arr"),
          lit(ContainmentShingleW)))).as("gs"))
      .select(col("doc_id"), xxhash64(col("gs")).as("g"))
      .localCheckpoint(true)
    // referenced by both containment-side joins — materialize the
    // doc-count-sized table once instead of re-aggregating sh per
    // reference (r15)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
      .localCheckpoint(true)
    // IN-BUCKET pair generation: one groupBy on the shingle key
    // collects each bucket's doc list, the df valve drops boilerplate
    // buckets, and the ordered-pair fan-out happens MAP-SIDE from the
    // bounded (≤ ContainmentMaxDf) lists — no df-filter join, no
    // two-sided self-join, no second checkpoint. Same Σ df² candidate
    // stream, two shuffles total (bucket build + pair count).
    val inter = sh.groupBy("g").agg(collect_list(col("doc_id")).as("ds"))
      .filter(size(col("ds")).between(2, ContainmentMaxDf))
      .select(explode(col("ds")).as("da"), col("ds"))
      .select(col("da"), explode(col("ds")).as("db"))
      .filter(col("da") =!= col("db"))
      .groupBy("da", "db").agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.select(col("doc_id").as("da"), col("n_sh").as("n_a")), "da")
      .join(sizes.select(col("doc_id").as("db"), col("n_sh").as("n_b")), "db")
      .filter(col("n_a") <= col("n_b"))
      .withColumn("containment", r4(col("n_common") / col("n_a").cast("double")))
      .filter(col("containment") >= 0.8)
      .select("da", "db", "n_a", "n_b", "n_common", "containment")
      .orderBy("da", "db")
  }

  /** Exact-band df cap for [[qContainmentHybrid]]: shingles shared by
    * at most this many docs carry their containment evidence exactly;
    * deeper shingles route their docs to the MinHash estimate. 3 = the
    * corpusWithDups within-family duplication depth, so the designed
    * duplicates stay exact at fixture scale while corpus-growth-
    * inflated shingles (the ×10 sweep multiplies cross-replica df by
    * the replication factor) migrate to the estimate path. */
  val HybridExactMaxDf = 3

  /** HYBRID containment dedup — the escape hatch SURVEY §6.1 documents
    * for [[qContainmentDedup]]'s one measured super-linear band,
    * shipped as code: the exact path's Σ df² candidate stream is
    * intrinsically quadratic in duplication depth inside the open band
    * below the df valve (measured exponent 1.37–1.49 at ×10), so the
    * hybrid ROUTES by df — shingles with df ≤ [[HybridExactMaxDf]]
    * keep the exact in-bucket pair counting (burst ≤ df² ≤ 9 per
    * shingle, and corpus growth pushes shingles OUT of this band
    * rather than inflating it), while docs holding any deeper shingle
    * form a sub-corpus deduped by banded md5-MinHash (4 bands × 2 of 8
    * permutations — one signature per doc, band buckets stop-valved at
    * 64: cost linear in docs, never Σ df²). One result table, tagged
    * by path: exact rows score true containment on the shallow-shingle
    * evidence; minhash rows score the unbiased Jaccard estimate
    * (matches/8 ≥ 0.5). The semantic trade is explicit: a pair whose
    * shared shingles are all DEEP scores no exact containment and is
    * caught (as resemblance, not containment) by the estimate path —
    * that is the price of killing the quadratic band, and the reason
    * production pipelines run banding + verify rather than exact
    * intersection once duplication depth grows. Both paths are fully
    * DuckDB-replayable (string shingles for df, md5 permutations for
    * signatures), and both are LIVE at fixture scale (df ≤ 3 exact
    * mass, ~200 deep docs) — the differential gates real code, not a
    * dormant branch. Bounded collects only: df/bucket counts come
    * FIRST, collect_list happens after the ≤ df-cap / ≤ 64 joins. */
  def qContainmentHybrid(s: SparkSession, d: String): DataFrame = {
    graft.expressions.VectorExpressions.register(s)
    def r4(x: Column): Column = floor(x * 10000.0 + 0.5) / 10000.0
    val corpus = corpusWithDupsToks(s, d)
    val sh = corpus
      .select(col("doc_id"), explode(array_distinct(
        call_function("graft_word_ngrams", col("arr"),
          lit(ContainmentShingleW)))).as("gs"))
      .select(col("doc_id"), xxhash64(col("gs")).as("g"))
      .localCheckpoint(true)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
      .localCheckpoint(true) // two n_sh joins — aggregate sh once (r15)
    val dfs = sh.groupBy("g").agg(count(lit(1)).as("dfg"))
      .localCheckpoint(true) // feeds the exact-band filter AND deep routing
    // EXACT band: count-first, then the bounded (≤ HybridExactMaxDf)
    // collect — no unbounded bucket list ever materializes
    val exact = sh
      .join(dfs.filter(col("dfg").between(2, HybridExactMaxDf)).select("g"), "g")
      .groupBy("g").agg(collect_list(col("doc_id")).as("ds"))
      .select(explode(col("ds")).as("da"), col("ds"))
      .select(col("da"), explode(col("ds")).as("db"))
      .filter(col("da") =!= col("db"))
      .groupBy("da", "db").agg(count(lit(1)).as("evidence"))
      .join(sizes.select(col("doc_id").as("da"), col("n_sh").as("n_a")), "da")
      .join(sizes.select(col("doc_id").as("db"), col("n_sh").as("n_b")), "db")
      .filter(col("n_a") <= col("n_b"))
      .withColumn("score", r4(col("evidence") / col("n_a").cast("double")))
      .filter(col("score") >= 0.8)
      .select(col("da"), col("db"), lit("exact").as("path"),
        col("evidence"), col("score"))
    // DEEP sub-corpus: any shingle above the exact cap routes the doc
    // to signature-based estimation (cost: one signature per doc)
    val deepDocs = sh
      .join(dfs.filter(col("dfg") > HybridExactMaxDf).select("g"), "g")
      .select("doc_id").distinct()
    val sigs = corpus.join(deepDocs, "doc_id")
      .filter(size(col("arr")) >= ContainmentShingleW)
      .select(col("doc_id"), call_function("graft_md5_minhash",
        array_distinct(call_function("graft_word_ngrams", col("arr"),
          lit(ContainmentShingleW)))).as("sig"))
      .localCheckpoint(true) // feeds banding and both pair-score joins
    val bands = sigs.select(col("doc_id"), posexplode(array(
        (0 until 4).map(b => concat_ws(",",
          element_at(col("sig"), 2 * b + 1).cast("string"),
          element_at(col("sig"), 2 * b + 2).cast("string"))): _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bsig")
    val bcount = bands.groupBy("band", "bsig").agg(count(lit(1)).as("bc"))
    val est = bands
      .join(bcount.filter(col("bc").between(2, 64)).select("band", "bsig"),
        Seq("band", "bsig"))
      .groupBy("band", "bsig").agg(collect_list(col("doc_id")).as("ds"))
      .select(explode(col("ds")).as("da"), col("ds"))
      .select(col("da"), explode(col("ds")).as("db"))
      .filter(col("da") < col("db"))
      .select("da", "db").distinct()
      .join(sigs.select(col("doc_id").as("da"), col("sig").as("sig_a")), "da")
      .join(sigs.select(col("doc_id").as("db"), col("sig").as("sig_b")), "db")
      .select(col("da"), col("db"),
        aggregate(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (a, x) => a + x).as("evidence"))
      .filter(col("evidence") >= 4)
      .withColumn("score", col("evidence") / lit(8.0))
      .select(col("da"), col("db"), lit("minhash").as("path"),
        col("evidence"), col("score"))
    exact.unionByName(est).orderBy("path", "da", "db")
  }

  /** DuckDB oracle for [[qContainmentHybrid]]: both routes replayed —
    * string shingles for the df bands and exact counts, the md5
    * permutation minimums for signatures/banding/estimates. */
  val containmentHybridOracleSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 1000000, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 2000000,
      |         array_to_string(arr[1:GREATEST(len(arr) - 1, 1)], ' ')
      |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
      |        FROM documents) t),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    UNNEST(list_transform(range(1, len(arr) - 3),
      |      i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] || ' ' ||
      |           arr[i+3] || ' ' || arr[i+4])) AS g
      |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
      |        FROM corpus) t2
      |  WHERE len(arr) >= 5),
      |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
      |dfs AS (SELECT g, COUNT(*) AS dfg FROM sh GROUP BY 1),
      |ex0 AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS evidence
      |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id <> b.doc_id
      |  JOIN dfs ON dfs.g = a.g AND dfs.dfg BETWEEN 2 AND 3
      |  GROUP BY 1, 2),
      |ex AS (
      |  SELECT da, db, 'exact' AS path, CAST(evidence AS BIGINT) AS evidence,
      |         FLOOR(evidence / CAST(sa.n_sh AS DOUBLE) * 10000.0 + 0.5)
      |           / 10000.0 AS score
      |  FROM ex0 JOIN sizes sa ON sa.doc_id = da
      |  JOIN sizes sb ON sb.doc_id = db
      |  WHERE sa.n_sh <= sb.n_sh
      |    AND FLOOR(evidence / CAST(sa.n_sh AS DOUBLE) * 10000.0 + 0.5)
      |        / 10000.0 >= 0.8),
      |deep AS (SELECT DISTINCT sh.doc_id FROM sh
      |         JOIN dfs ON sh.g = dfs.g AND dfs.dfg > 3),
      |mh AS (
      |  SELECT sh.doc_id, p,
      |    min(('0x' || substr(md5(CAST(p // 2 AS VARCHAR) || ':' || g),
      |                        CAST(1 + 15 * (p % 2) AS INTEGER), 15))::BIGINT)
      |      AS mv
      |  FROM sh JOIN deep USING (doc_id), range(8) t(p)
      |  GROUP BY sh.doc_id, p),
      |bnd AS (
      |  SELECT doc_id, p // 2 AS band,
      |    string_agg(CAST(mv AS VARCHAR), ',' ORDER BY p) AS bsig
      |  FROM mh GROUP BY doc_id, p // 2),
      |ok AS (SELECT band, bsig FROM bnd GROUP BY 1, 2
      |       HAVING COUNT(*) BETWEEN 2 AND 64),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      |  FROM bnd a JOIN bnd b ON a.band = b.band AND a.bsig = b.bsig
      |    AND a.doc_id < b.doc_id
      |  JOIN ok ON ok.band = a.band AND ok.bsig = a.bsig),
      |est AS (
      |  SELECT c.da, c.db, 'minhash' AS path,
      |         CAST(SUM(CASE WHEN ma.mv = mb.mv THEN 1 ELSE 0 END) AS BIGINT)
      |           AS evidence,
      |         CAST(SUM(CASE WHEN ma.mv = mb.mv THEN 1 ELSE 0 END) AS DOUBLE)
      |           / 8 AS score
      |  FROM cand c
      |  JOIN mh ma ON ma.doc_id = c.da
      |  JOIN mh mb ON mb.doc_id = c.db AND mb.p = ma.p
      |  GROUP BY 1, 2
      |  HAVING SUM(CASE WHEN ma.mv = mb.mv THEN 1 ELSE 0 END) >= 4)
      |SELECT * FROM ex UNION ALL SELECT * FROM est
      |ORDER BY path, da, db""".stripMargin

  /** N-gram novelty curve: per document (in doc_id order), the share
    * of its distinct trigrams never seen in any EARLIER document —
    * the diminishing-returns signal that tells a curation pipeline
    * when additional data from a source stops adding information.
    * "First seen" is the min doc_id over each gram's occurrences, so
    * the whole curve is two aggregates over the distinct doc-gram
    * table — per-doc gram counts, and per-gram min-doc rolled up by
    * its minimizing doc — joined on the (corpus-cardinality-bounded)
    * doc key. No window (a gram-partitioned window would SORT the
    * full pair table; the min-agg needs only a hash), no cross-doc
    * self-join, no iteration. The pair table feeds both aggregates,
    * so it is eagerly localCheckpoint'd once. At 100 TB the
    * gram-keyed shuffle is the cost; the standard valve is hashing
    * grams to 64-bit and accepting collision noise (the count is
    * statistical anyway). */
  def qGramNovelty(s: SparkSession, d: String): DataFrame = {
    def r4(x: Column): Column = floor(x * 10000.0 + 0.5) / 10000.0
    // sequence(0, n) DESCENDS when n < 0 (unlike DuckDB's empty
    // range), so sub-trigram docs are filtered out up front — they
    // contribute no grams either way. Tokenize in its OWN projection:
    // splicing the split() into every lambda slot would re-run the
    // regex per array element instead of once per row.
    val grams = documents(s, d)
      .select(col("doc_id"), expr(tokenExpr).as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(tk) - 3), " +
          "i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))")).as("g"))
      .distinct()
      .localCheckpoint(true)
    val perDoc = grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val novel = grams.groupBy("g").agg(min("doc_id").as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
    perDoc.join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        r4(coalesce(col("n_novel"), lit(0L)) /
          col("n_grams").cast("double")).as("novelty"))
      .orderBy("doc_id")
  }

  private val tokenExpr = "split(trim(text), '\\\\s+')"

  /** Bigram-LM document scoring: mean log P(w_i | w_{i-1}) per
    * document under the corpus's own (unsmoothed) bigram model — the
    * perplexity-proxy one notch above [[qUnigramLogprob]]; low
    * scorers are boilerplate/garbled, suspiciously high scorers are
    * near-duplicates of the corpus mode. Every bigram in scoring
    * also occurs in the model (it came from the corpus), so the
    * unsmoothed conditional is always finite. One tokenize+explode
    * builds per-doc bigram counts (localCheckpoint'd — it feeds both
    * the model build and the scoring join); the MODEL is that table
    * rolled up to vocabulary-squared-bounded (bigram, count) with
    * the left-word total attached by a model-sized self-aggregate
    * join, so scoring is ONE join of the per-doc table against the
    * small model (AQE broadcasts it when it fits — the window
    * formulation would instead sort-shuffle the full per-doc table
    * twice, once per key, with the hot-left-word skew landing on
    * single window partitions). */
  /** One parquet copy of the per-doc bigram counts per (JVM, sfDir)
    * — the corpus tokenize + window + explode both bigram-LM queries
    * (q_bigram_logprob, q_heldout_perplexity) start from, staged
    * once under the staged-table contract. */
  private val bigramCopies =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def docBigrams(s: SparkSession, d: String): DataFrame =
    Tables.parquetMemo(s, bigramCopies.computeIfAbsent(d, _ => {
      val path = StagedPaths.tmp("graft_bigrams")
      documents(s, d)
        .select(col("doc_id"), expr(tokenExpr).as("tk"))
        .filter(size(col("tk")) >= 2) // sequence() descends below 2
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(tk) - 2), " +
            "i -> struct(tk[i] as w1, tk[i+1] as w2))")).as("b"))
        .groupBy(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
        .agg(count(lit(1)).as("cnt"))
        .write.mode("overwrite").parquet(path)
      path
    }))

  /** Kneser–Ney smoothed bigram scoring — the LM-quality notch above
    * [[qBigramLogprob]]'s unsmoothed conditional and
    * [[qHeldoutPerplexity]]'s stupid-backoff: interpolated KN with
    * the standard D = 0.75 discount redistributes mass to the
    * CONTINUATION distribution (how many distinct contexts a word
    * follows — "Francisco" is frequent but only ever follows "San").
    * With D = 3/4 every probability is an exact quarter-unit
    * rational: P_KN = ((4c − 3)·N₁₊(··) + 3·N₁₊(w₁·)·N₁₊(·w₂)) /
    * (4·c(w₁·)·N₁₊(··)) — numerator and denominator assembled in
    * double (the n⁴-product rule: c·N₁₊(··) wraps long past ~3·10⁹
    * bigram types) in the same operation order both engines, one ln.
    * Model tables (bigram / left-context / continuation counts) are
    * all vocabulary-bounded aggregates of the staged per-doc bigram
    * table; scoring is one join chain against them. Emits the 100
    * most-surprising docs under the smoothed model. */
  def qKneserNey(s: SparkSession, d: String): DataFrame = {
    def r4(x: Column): Column = floor(x * 10000.0 + 0.5) / 10000.0
    val bg = docBigrams(s, d)
    val model = bg.groupBy("w1", "w2").agg(sum("cnt").as("cb"))
      .localCheckpoint(true) // feeds 3 aggregates + the scoring join
    val left = model.groupBy("w1")
      .agg(sum("cb").as("cl"), count(lit(1)).as("nl"))
    val right = model.groupBy("w2").agg(count(lit(1)).as("nc"))
    val tot = model.agg(count(lit(1)).as("nbt"))
    bg.join(model, Seq("w1", "w2")).join(left, "w1").join(right, "w2")
      .crossJoin(broadcast(tot))
      .withColumn("lp", log(
        ((lit(4.0) * col("cb") - 3.0) * col("nbt") +
          lit(3.0) * col("nl") * col("nc")) /
          (lit(4.0) * col("cl") * col("nbt"))))
      .groupBy("doc_id")
      .agg(sum("cnt").cast("long").as("n_bigrams"),
        sum(col("cnt") * col("lp")).as("sl"))
      .select(col("doc_id"), col("n_bigrams"),
        r4(col("sl") / col("n_bigrams")).as("avg_kn_logprob"))
      .orderBy(col("avg_kn_logprob").asc, col("doc_id"))
      .limit(100)
  }

  /** Dunning log-likelihood-ratio collocations (Dunning 1993, the
    * standard significance test for "these two words belong
    * together") — the notch above [[qPmi]]'s raw ratio: G² compares
    * the 2×2 contingency table of (w₁ leads, w₂ follows) against
    * independence via G² = 2·(Σ k·ln k over cells − row sums − col
    * sums + N·ln N), robust at low counts where PMI explodes. Model
    * tables are the vocabulary-bounded rollups of the staged per-doc
    * bigram table ([[docBigrams]] — one corpus tokenize, shared with
    * the LM family); the G² assembly is per-bigram arithmetic in the
    * SAME operation order both engines (x·ln x terms left-to-right),
    * quantized to 1e-4 before the top-25 cut, ties on the words. */
  def qCollocationG2(s: SparkSession, d: String): DataFrame = {
    def r4(x: Column): Column = floor(x * 10000.0 + 0.5) / 10000.0
    def xlx(c: Column): Column =
      when(c > 0, c.cast("double") * log(c.cast("double"))).otherwise(lit(0.0))
    val m = docBigrams(s, d).groupBy("w1", "w2")
      .agg(sum("cnt").cast("long").as("k11"))
      .localCheckpoint(true) // feeds 3 rollups + the scoring join
    val c1 = m.groupBy("w1").agg(sum("k11").as("c1"))
    val c2 = m.groupBy("w2").agg(sum("k11").as("c2"))
    val n = m.agg(sum("k11").as("nn"))
    m.filter(col("k11") >= 5)
      .join(c1, "w1").join(c2, "w2").crossJoin(broadcast(n))
      .withColumn("k12", col("c1") - col("k11"))
      .withColumn("k21", col("c2") - col("k11"))
      .withColumn("k22", col("nn") - col("c1") - col("c2") + col("k11"))
      .withColumn("g2", r4(lit(2.0) * (
        xlx(col("k11")) + xlx(col("k12")) + xlx(col("k21")) + xlx(col("k22"))
          - xlx(col("c1")) - xlx(col("nn") - col("c1"))
          - xlx(col("c2")) - xlx(col("nn") - col("c2"))
          + xlx(col("nn")))))
      .select(col("w1"), col("w2"), col("k11").as("n_pair"), col("g2"))
      .orderBy(col("g2").desc, col("w1"), col("w2"))
      .limit(25)
  }

  /** DuckDB oracle for [[qCollocationG2]]: the same bigram rollups
    * and the identical left-to-right G² assembly. */
  val collocationG2OracleSql: String =
    """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
      |           FROM documents),
      |b0 AS (SELECT doc_id,
      |              UNNEST(list_transform(generate_series(1, len(tk) - 1),
      |                i -> {'w1': tk[i], 'w2': tk[i+1]})) AS bg
      |       FROM t WHERE len(tk) >= 2),
      |m AS (SELECT bg.w1 AS w1, bg.w2 AS w2, CAST(COUNT(*) AS BIGINT) AS k11
      |      FROM b0 GROUP BY 1, 2),
      |c1 AS (SELECT w1, CAST(SUM(k11) AS BIGINT) AS c1 FROM m GROUP BY 1),
      |c2 AS (SELECT w2, CAST(SUM(k11) AS BIGINT) AS c2 FROM m GROUP BY 1),
      |n AS (SELECT CAST(SUM(k11) AS BIGINT) AS nn FROM m),
      |sc AS (SELECT m.w1, m.w2, m.k11,
      |         c1.c1 - m.k11 AS k12, c2.c2 - m.k11 AS k21,
      |         n.nn - c1.c1 - c2.c2 + m.k11 AS k22,
      |         c1.c1 AS c1v, c2.c2 AS c2v, n.nn AS nnv
      |       FROM m JOIN c1 ON c1.w1 = m.w1 JOIN c2 ON c2.w2 = m.w2
      |       CROSS JOIN n WHERE m.k11 >= 5)
      |SELECT w1, w2, k11 AS n_pair,
      |  FLOOR(2.0 * (
      |    (CASE WHEN k11 > 0 THEN CAST(k11 AS DOUBLE) * ln(CAST(k11 AS DOUBLE)) ELSE 0.0 END)
      |    + (CASE WHEN k12 > 0 THEN CAST(k12 AS DOUBLE) * ln(CAST(k12 AS DOUBLE)) ELSE 0.0 END)
      |    + (CASE WHEN k21 > 0 THEN CAST(k21 AS DOUBLE) * ln(CAST(k21 AS DOUBLE)) ELSE 0.0 END)
      |    + (CASE WHEN k22 > 0 THEN CAST(k22 AS DOUBLE) * ln(CAST(k22 AS DOUBLE)) ELSE 0.0 END)
      |    - (CASE WHEN c1v > 0 THEN CAST(c1v AS DOUBLE) * ln(CAST(c1v AS DOUBLE)) ELSE 0.0 END)
      |    - (CASE WHEN nnv - c1v > 0 THEN CAST(nnv - c1v AS DOUBLE) * ln(CAST(nnv - c1v AS DOUBLE)) ELSE 0.0 END)
      |    - (CASE WHEN c2v > 0 THEN CAST(c2v AS DOUBLE) * ln(CAST(c2v AS DOUBLE)) ELSE 0.0 END)
      |    - (CASE WHEN nnv - c2v > 0 THEN CAST(nnv - c2v AS DOUBLE) * ln(CAST(nnv - c2v AS DOUBLE)) ELSE 0.0 END)
      |    + (CASE WHEN nnv > 0 THEN CAST(nnv AS DOUBLE) * ln(CAST(nnv AS DOUBLE)) ELSE 0.0 END)
      |  ) * 10000.0 + 0.5) / 10000.0 AS g2
      |FROM sc ORDER BY g2 DESC, w1, w2 LIMIT 25""".stripMargin

  /** Posting-list delta + varint compression audit — the
    * storage-layout measurement behind every inverted index at scale
    * (Lucene/CLP-style): per term, doc_ids sort ascending, adjacent
    * gaps encode as LEB128 varints (1 byte under 2⁷, 2 under 2¹⁴, …),
    * and the byte cost rolls up by posting-list-length power-of-2
    * bucket — showing exactly where delta coding wins (dense stopword
    * lists → tiny gaps → 1-byte codes) vs where it can't (singleton
    * lists store the raw id). Pure integer arithmetic end to end; the
    * per-term lag window partitions by term (the inverted-index /
    * tfidf shape — Heaps' law bounds the hot-term partition count,
    * and a posting list is exactly what a real index materializes
    * per term anyway). */
  def qDeltaVarint(s: SparkSession, d: String): DataFrame = {
    def r4(x: Column): Column = floor(x * 10000.0 + 0.5) / 10000.0
    val w = Window.partitionBy("term").orderBy("doc_id")
    val post = documents(s, d)
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("term"))
    val perTerm = post
      .withColumn("gap",
        coalesce(col("doc_id") - lag("doc_id", 1).over(w), col("doc_id")))
      .withColumn("vb",
        when(col("gap") < (1L << 7), 1L)
          .when(col("gap") < (1L << 14), 2L)
          .when(col("gap") < (1L << 21), 3L)
          .when(col("gap") < (1L << 28), 4L)
          .otherwise(5L))
      .groupBy("term")
      .agg(count(lit(1)).as("df"), sum("vb").as("vbytes"))
    perTerm
      .groupBy((length(bin(col("df"))) - 1).cast("long").as("df_bucket"))
      .agg(count(lit(1)).as("n_terms"),
        sum("df").as("n_postings"),
        sum("vbytes").as("varint_bytes"))
      .select(col("df_bucket"), col("n_terms"), col("n_postings"),
        (col("n_postings") * 8L).as("raw_bytes"),
        col("varint_bytes"),
        r4(col("varint_bytes") / (col("n_postings") * 8.0)).as("compress_ratio"))
      .orderBy("df_bucket")
  }

  def qBigramLogprob(s: SparkSession, d: String): DataFrame = {
    def r4(x: Column): Column = floor(x * 10000.0 + 0.5) / 10000.0
    val bg = docBigrams(s, d)
    val model = bg.groupBy("w1", "w2").agg(sum("cnt").as("cb"))
      .localCheckpoint(true) // left-total rollup + scoring join (r15)
    val left = model.groupBy("w1").agg(sum("cb").as("cl"))
    bg.join(model.join(left, "w1"), Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(sum("cnt").cast("long").as("n_bigrams"),
        sum(col("cnt") * log(col("cb").cast("double") / col("cl"))).as("sl"))
      .select(col("doc_id"), col("n_bigrams"),
        r4(col("sl") / col("n_bigrams")).as("avg_logprob"))
      .orderBy(col("avg_logprob").asc, col("doc_id"))
      .limit(100)
  }

  /** Encoding / mojibake audit — the ingest gate a multilingual crawl
    * runs before any tokenizer sees the bytes: per language, how many
    * documents carry U+FFFD replacement characters (a decoder already
    * lost data upstream), ASCII control characters (binary junk in
    * text fields), and how much of the corpus is multi-byte UTF-8
    * (chars vs bytes — the cost driver for byte-level tokenizers).
    * The fixture corpus is pure ASCII, so corruption is INJECTED
    * deterministically from doc_id (the qUrlParse synthesis
    * convention): every 7th doc gains a replacement char + CJK tail,
    * every 11th a BEL control char — the audit must find exactly
    * those. Char counts come from regexp stripping on the Spark side
    * and RE2 stripping in DuckDB (independent engines, same counts);
    * everything aggregates exact integers per lang — one map-side
    * projection, one ~5-group shuffle at any corpus size. */
  def qEncodingAudit(s: SparkSession, d: String): DataFrame = {
    def r4(x: Column): Column = floor(x * 10000.0 + 0.5) / 10000.0
    val injected = documents(s, d).select(
      col("lang"),
      concat(col("text"),
        when(col("doc_id") % 7 === 0, lit(" �你好"))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit("\u0007")).otherwise(lit("")))
        .as("txt"))
    injected
      .select(
        col("lang"),
        length(col("txt")).cast("long").as("n_chars"),
        octet_length(col("txt")).cast("long").as("n_bytes"),
        (length(col("txt")) -
          length(regexp_replace(col("txt"), "[^\\x00-\\x7F]", "")))
          .cast("long").as("non_ascii"),
        col("txt").contains("�").cast("long").as("has_repl"),
        rlike(col("txt"), lit("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]"))
          .cast("long").as("has_ctrl"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        sum("n_bytes").as("total_bytes"),
        sum("non_ascii").as("non_ascii_chars"),
        sum("has_repl").as("docs_with_replacement"),
        sum("has_ctrl").as("docs_with_control"))
      .withColumn("ascii_ratio",
        r4((col("total_chars") - col("non_ascii_chars")) /
          col("total_chars").cast("double")))
      .orderBy("lang")
  }

  /** Skip-gram pair generation (word2vec data prep, Mikolov et al.
    * 2013): (center, context) pairs within a ±2 window, weighted
    * 1/distance — emitted WITHOUT a positions self-join: each doc
    * builds its distance-1 and distance-2 pairs by two shifted
    * array zips inside one projection (the bigram-table trick
    * widened), so the only shuffle is the pair aggregate. Weights
    * stay integer by counting in half-units (distance 1 → 2,
    * distance 2 → 1). Top-50 by weighted count with full tie-breaks
    * — a distributed top-k, never a full sort. */
  def qSkipgram(s: SparkSession, d: String): DataFrame = {
    val pairs = documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(explode(concat(
        expr("transform(sequence(0, size(tk) - 2), " +
          "i -> struct(tk[i] as w1, tk[i+1] as w2, 2L as wt))"),
        expr("transform(sequence(0, size(tk) - 3), " +
          "i -> struct(tk[i] as w1, tk[i+2] as w2, 1L as wt))")))
        .as("p"))
      .select(col("p.w1"), col("p.w2"), col("p.wt"))
    pairs
      .groupBy("w1", "w2")
      .agg(count(lit(1)).as("n_pairs"), sum("wt").as("weight_halves"))
      .orderBy(col("weight_halves").desc, col("w1"), col("w2"))
      .limit(50)
  }

  /** Unicode-fold dedup — the accent/case normalization stage a
    * multilingual crawl runs before exact hashing ("Café", "café"
    * and "cafe" are one document): variant COPIES are planted
    * deterministically (every 7th doc gains an accented-vowel copy,
    * every 5th an uppercased one), then folded back by lowercasing
    * + the same explicit `translate` table on both engines (Spark
    * has no strip_accents; an explicit map is engine-portable and
    * audit-able). Grouping by the folded text must merge exactly the
    * planted variants. */
  def qUnicodeFold(s: SparkSession, d: String): DataFrame = {
    // one corpus scan (r16): the three variant branches (base +
    // conditional accent/upper copies) were a 3-way union that
    // scanned the full text column three times; each doc now emits
    // its 1-3 variants map-side from a single projection (the
    // conditional explode(concat(array...)) idiom — filter() over a
    // one-element array keeps the branch's type and drops it when
    // the condition fails). doc_id is never consumed downstream, so
    // only the variant text is emitted; the row multiset is
    // identical to the old union's vtext column (oracle-gated)
    val variants = documents(s, d).select(explode(concat(
        array(col("text")),
        filter(array(translate(col("text"), "aeiou", "áéíóú")),
          _ => col("doc_id") % 7 === 0),
        filter(array(upper(col("text"))),
          _ => col("doc_id") % 5 === 0 && col("doc_id") % 7 =!= 0)))
      .as("vtext"))
    variants
      .withColumn("folded", translate(lower(col("vtext")), "áéíóú", "aeiou"))
      .groupBy("folded")
      .agg(count(lit(1)).as("n_variants"),
        countDistinct(col("vtext")).as("n_distinct_raw"))
      .groupBy("n_variants", "n_distinct_raw")
      .agg(count(lit(1)).as("n_groups"))
      .orderBy("n_variants", "n_distinct_raw")
  }

  /** Bloom-filter false-positive audit for the incremental-dedup
    * front door: before [[qIncrementalDedup]]'s anti-join runs at
    * 100 TB, a bloom filter of the existing snapshot's content
    * hashes screens the new batch (a positive still needs the real
    * lookup; a negative skips it — so the FPR is exactly the wasted
    * lookup rate). This audit BUILDS the filter (m = 65536 bits,
    * k = 3 md5-derived positions per key), probes it with the
    * batch's truly-absent hashes, and reports the measured FPR next
    * to the bit-load — all via distinct/join set algebra, so both
    * engines count the same exact bits (double-hash position
    * collisions handled by comparing DISTINCT position counts).
    * Plan: position explode (×3) → distinct bit table (≤ m rows
    * forever) → one join per probe set; the filter table is
    * m-bounded at any corpus size, which is the entire point. */
  def qBloomFpr(s: SparkSession, d: String): DataFrame = {
    def r4(x: Column): Column = floor(x * 10000.0 + 0.5) / 10000.0
    def positionsOf(df: DataFrame) = df
      .select(col("h"), explode(array(lit(0), lit(1), lit(2))).as("i"))
      .select(col("h"),
        (conv(substring(md5(concat(col("h"), lit(":"),
          col("i").cast("string"))), 1, 8), 16, 10).cast("long") % 65536L)
          .as("pos"))
    val hashed = corpusWithDups(s, d)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .localCheckpoint(true) // existing + absent sides — hash once (r15)
    val existing = hashed.filter(col("doc_id") % 2 === 0).select("h").distinct()
    val bits = positionsOf(existing).select("pos").distinct()
    val absent = hashed.filter(col("doc_id") % 2 === 1).select("h").distinct()
      .join(existing, Seq("h"), "left_anti")
    val perProbe = positionsOf(absent)
      .join(bits.withColumn("hit", lit(1L)), Seq("pos"), "left")
      .groupBy("h")
      .agg(countDistinct(col("pos")).as("np"),
        countDistinct(when(col("hit").isNotNull, col("pos"))).as("nh"))
    val s1 = bits.agg(count(lit(1)).as("bits_set"))
    val s2 = perProbe.agg(
      count(lit(1)).as("n_absent_probes"),
      sum((col("nh") === col("np")).cast("long")).as("false_positives"))
    s1.crossJoin(broadcast(s2))
      .select(lit(65536L).as("m_bits"), lit(3L).as("k_hashes"),
        col("bits_set"), r4(col("bits_set") / lit(65536.0)).as("load_factor"),
        col("n_absent_probes"), col("false_positives"),
        r4(col("false_positives") /
          greatest(col("n_absent_probes"), lit(1L)).cast("double")).as("fpr"))
  }

  /** Yule's K lexical-diversity characteristic (Yule 1944) — the
    * length-robust repetitiveness measure a corpus-quality report
    * pairs with TTR (TTR collapses as documents grow; K does not):
    * K = 10⁴·(Σm²·V_m − N)/N², computed per language entirely from
    * the frequency-of-frequencies spectrum — term frequencies, then
    * ΣV_m, Σm²V_m as exact integer sums (the spectrum aggregate is
    * the same one [[MiningOps]]-style Zipf audits use), with one
    * final double division. Two map-side-combinable hash aggregates
    * (corpus → vocab → 5 langs); nothing broadcast, nothing
    * windowed. */
  def qYuleK(s: SparkSession, d: String): DataFrame = {
    def r4(x: Column): Column = floor(x * 10000.0 + 0.5) / 10000.0
    documents(s, d)
      .select(col("lang"), explode(tokens(col("text"))).as("token"))
      .groupBy("lang", "token")
      .agg(count(lit(1)).as("m"))
      .groupBy("lang")
      // overflow bound: Σm² (and sum_m2vm, an OUTPUT column) passes
      // 2⁶³ once one (lang, token) exceeds ~3·10⁹ occurrences — a
      // multi-TB single-language corpus's top stopword. Beyond that
      // the column itself outgrows BIGINT: re-type to decimal(38,0)
      // (DuckDB's SUM already returns HUGEINT) rather than cast here.
      .agg(
        sum("m").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("m") * col("m")).as("sum_m2vm"))
      .select(col("lang"), col("n_tokens"), col("n_types"), col("sum_m2vm"),
        r4(lit(10000.0) * (col("sum_m2vm") - col("n_tokens")) /
          (col("n_tokens").cast("double") * col("n_tokens").cast("double")))
          .as("yule_k"))
      .orderBy("lang")
  }

  /** Incremental-snapshot dedup — the shape a PRODUCTION ingest
    * pipeline actually runs (nobody re-dedups 100 TB per day; new
    * arrivals check against the existing corpus): the dup-rich corpus
    * splits into an "existing snapshot" (even doc_id) and a "new
    * batch" (odd doc_id), and each new document classifies as
    * `dup_of_existing` (its content hash is already in the snapshot —
    * at scale, an anti-joinable bloom/hash lookup), `dup_in_batch`
    * (first seen inside this batch, claimed by a smaller doc_id), or
    * `unique`. Exactly one class per doc, so the counts partition the
    * batch (spec-pinned). Plan: hash-keyed aggregate on the snapshot
    * side + one join on the 32-hex content hash + one min-per-hash
    * aggregate inside the batch — every stage is hash-partitioned on
    * the fingerprint, the classic incremental-dedup join at any
    * scale. */
  def qIncrementalDedup(s: SparkSession, d: String): DataFrame = {
    def r4(x: Column): Column = floor(x * 10000.0 + 0.5) / 10000.0
    val hashed = corpusWithDups(s, d)
      .select(col("doc_id"), md5(col("text")).as("h"))
      // referenced by the existing set, the batch AND the in-batch
      // minimum — without this the tripled-corpus md5 projection ran
      // three times (9 document scans -> 3, r15)
      .localCheckpoint(true)
    val existing = hashed.filter(col("doc_id") % 2 === 0)
      .select(col("h")).distinct()
      .withColumn("in_existing", lit(1L))
    val batch = hashed.filter(col("doc_id") % 2 === 1)
    val firstInBatch = batch.groupBy("h").agg(min("doc_id").as("first_id"))
    batch
      .join(existing, Seq("h"), "left")
      .join(firstInBatch, Seq("h"))
      .select(col("doc_id"),
        when(col("in_existing").isNotNull, lit("dup_of_existing"))
          .when(col("doc_id") > col("first_id"), lit("dup_in_batch"))
          .otherwise(lit("unique")).as("status"))
      .groupBy("status")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("share", r4(col("n_docs") /
        sum(col("n_docs")).over(Window.partitionBy()).cast("double")))
      .orderBy("status")
  }

  /** One staged banded-signature index per (JVM, sfDir) for
    * [[qStreamNeardupLsh]] — the production shape: the corpus is
    * banded ONCE at index-build time; each arriving batch only probes.
    */
  private val neardupIndexCopies =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Streaming near-dup LSH ingest — [[qIncrementalDedup]]'s contract
    * (dup_of_existing / dup_in_batch / unique over an
    * existing-corpus-vs-new-batch split) upgraded from exact md5
    * hashing to banded md5-MinHash, the production shape for near-dup
    * at ingest time: new documents are checked against a STAGED LSH
    * index of the existing corpus, never against the corpus itself.
    *
    * Existing corpus = the EVEN original documents; the arriving
    * batch = every original's exact (+1000000) and near (+2000000,
    * last token dropped) copy from [[corpusWithDups]], so all three
    * statuses are genuinely populated: copies of even docs band-match
    * the index (dup_of_existing); for odd docs — absent from the
    * index — the exact copy arrives first and lands unique while its
    * near copy catches it in-batch (dup_in_batch); docs with < 3
    * tokens carry no bands and stay unique. Scale discipline, plan-REQUIRED: (1) the index
    * is banded once and staged to parquet — an ingest epoch never
    * re-bands the corpus (the staged read appears in the plan); (2)
    * the index side is pruned to the PROBE's band keys with a
    * broadcast LEFT SEMI join — the batch's distinct (band, sig) keys
    * (bounded by 4 × batch size, tiny next to the corpus) broadcast,
    * and the index filters map-side with NO shuffle of the index, the
    * buffer analog of a point lookup into a (band, sig)-bucketed
    * table. At 100 TB the index is bucketed by (band, sig) and the
    * probe touches only matching buckets; the broadcast-semi shape
    * here is the same algebra with the bucket pruning left to layout.
    * The DuckDB oracle replays the banding (the exact
    * conv(substr(md5)) arithmetic of q_dedup_minhash_md5) and both
    * join levels from scratch. */
  def qStreamNeardupLsh(s: SparkSession, d: String): DataFrame = {
    graft.expressions.VectorExpressions.register(s)
    def r4(x: Column): Column = floor(x * 10000.0 + 0.5) / 10000.0
    val corpus = corpusWithDups(s, d)
    // this query's batch is the WHOLE duplicated corpus, whose band
    // keys cover any realistic bucket space — the partitioned layout
    // belongs to the bounded-batch twin (qStreamNeardupPart), so this
    // one stays flat by design (no dead dial whose push would always
    // be skipped)
    val indexPath = neardupIndexCopies.computeIfAbsent(d, _ => {
      val p = StagedPaths.tmp("graft_nd_index")
      stageNeardupIndex(corpus.filter(col("doc_id") < 1000000 &&
        col("doc_id") % 2 === 0), p)
      p
    })
    val df = classifyNeardupBatch(s, indexPath,
        corpus.filter(col("doc_id") >= 1000000))
      .groupBy("status")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("share", r4(col("n_docs") /
        sum(col("n_docs")).over(Window.partitionBy()).cast("double")))
      .orderBy("status")
    val out = df.collect().toSeq // ≤ 3 rows; materializes the plan
    val plan = df.queryExecution.executedPlan.toString
    require(plan.contains("graft_nd_index"),
      "the staged LSH index must be READ, not re-banded:\n" + plan.take(3000))
    require(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      "index probing must be a broadcast semi-join (no index shuffle):\n" +
        plan.take(3000))
    s.createDataFrame(s.sparkContext.parallelize(out.toList), df.schema)
      .orderBy("status")
  }

  /** The band-bucket-PARTITIONED near-dup door through the
    * differential gate (`q_stream_neardup_part`): the corpus's even
    * originals staged with `bandBuckets = 1024` partition dirs, and a
    * BOUNDED arriving batch — both copies of docs 0..`probeDocs`-1,
    * the admission-controlled epoch shape — classified against it.
    * The probe's bucket set (≤ 4 bands × 2·probeDocs keys, far under
    * the 1024-bucket space) pushes as a STATIC partition filter, and
    * the plan contract — staged read, broadcast LEFT SEMI, AND the
    * `PartitionFilters` key push — is `require`d in-query. The DuckDB
    * oracle replays the flat banding algebra from scratch, so the
    * hash match PROVES the layout changes plans, never verdicts. */
  def qStreamNeardupPart(s: SparkSession, d: String,
                         bandBuckets: Int = 1024,
                         probeDocs: Int = 25): DataFrame = {
    graft.expressions.VectorExpressions.register(s)
    val corpus = corpusWithDups(s, d)
    val indexPath = neardupIndexCopies.computeIfAbsent(
      s"$d#part$bandBuckets", _ => {
        val p = StagedPaths.tmp("graft_nd_part_index")
        stageNeardupIndex(corpus.filter(col("doc_id") < 1000000 &&
          col("doc_id") % 2 === 0), p, bandBuckets)
        p
      })
    val batch = corpus.filter(col("doc_id") >= 1000000 &&
      col("doc_id") % 1000000 < probeDocs)
    val df = classifyNeardupBatch(s, indexPath, batch, bandBuckets)
      .orderBy("doc_id")
    val plan = df.queryExecution.executedPlan.toString
    require(plan.contains("graft_nd_part_index"),
      "the staged LSH index must be READ, not re-banded:\n" + plan.take(3000))
    require(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      "index probing must be a broadcast semi-join (no index shuffle):\n" +
        plan.take(3000))
    require(plan.linesIterator.exists(l => l.contains("graft_nd_part_index") &&
        l.contains("PartitionFilters: [") && l.contains("bkt") &&
        (l.contains(" IN ") || l.contains("INSET"))),
      "the partitioned index scan must carry the band-bucket partition " +
        "filter:\n" + plan.take(3000))
    df
  }

  /** Band a corpus of (doc_id, text) ONCE and stage the (doc_id, band,
    * sig) index to parquet — the build side of the ingest-time near-dup
    * check.
    *
    * `bandBuckets` > 0 = the 100 TB layout, executable (the text
    * mirror of `stageAnnIndex(bucketPartitioned = true)`): each row
    * gets `bkt = pmod(hash(band, sig), bandBuckets)` and the index is
    * partitioned by it — one dir per bucket of the (band, sig) key
    * space. `classifyNeardupBatch`/`startNeardupIngest` with the SAME
    * `bandBuckets` then push the probe's bucket set (bounded by
    * construction at ≤ bandBuckets values) as a STATIC partition
    * filter, so only matching bucket dirs are ever listed or read;
    * the (band, sig) broadcast semi-join still applies exactly, so
    * the pre-filter is purely an optimization and verdicts are
    * layout-independent. The dial must MATCH between staging and
    * probing (like nPlanes on the ANN side) — the stored bkt values
    * are the staging formula's. Default stays flat: at fixture scale
    * the partition dirs cost more than they prune. */
  def stageNeardupIndex(corpus: DataFrame, path: String,
                        bandBuckets: Int = 0): Unit = {
    graft.expressions.VectorExpressions.register(corpus.sparkSession)
    require(bandBuckets <= 65536,
      s"bandBuckets must be <= 65536, got $bandBuckets")
    DeltaIndex.resetForStaging(corpus.sparkSession, path)
    // stale sidecar retired BEFORE the restage; the new one is written
    // only AFTER the data lands (see stageAnnIndex — a crash window
    // must never pair a new-dial sidecar with old-formula data)
    IndexLayout.clear(corpus.sparkSession, path)
    val rows = md5Bands(corpus)
    // cluster by the bucket key before the partitioned write — one
    // file per bucket dir instead of tasks × buckets tiny files (see
    // stageAnnIndex)
    if (bandBuckets > 0)
      rows.withColumn("bkt", bandBucketOf(bandBuckets))
        .repartition(col("bkt"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "static") // full-truncate restage
        .partitionBy("bkt").parquet(path)
    else rows.write.mode("overwrite").parquet(path)
    // the dial is recorded for BOTH layouts (0 = flat), so probing a
    // flat-staged index with a nonzero bandBuckets fails with the
    // actionable dial-mismatch error instead of a generic
    // cannot-resolve-'bkt' analysis error downstream
    IndexLayout.write(corpus.sparkSession, path,
      Seq("bandBuckets" -> bandBuckets.toString))
  }

  /** The band-bucket key: a bounded re-shard of the (band, sig) key
    * space shared by the staged layout and the probe's key push. */
  private def bandBucketOf(bandBuckets: Int, band: Column = col("band"),
                           sig: Column = col("sig")): Column =
    pmod(hash(band, sig), lit(bandBuckets))

  /** Classify ONE arriving batch of (doc_id, text) against the staged
    * banded index at `path`: per doc, `dup_of_existing` (some band
    * matches an indexed signature), `dup_in_batch` (first occurrence of
    * its band set arrived earlier IN THIS batch), or `unique`. The
    * probe shape is [[qStreamNeardupLsh]]'s, fully distributed — the
    * path for corpus-sized batches, and the reference the streaming
    * door's driver-side epoch ([[neardupEpoch]]) is checked against:
    * the batch is banded once (localCheckpoint), its (band, sig) keys
    * BROADCAST into a LEFT SEMI that prunes the index map-side — the
    * index itself never shuffles and is never re-banded, so the cost
    * scales with the batch, not the corpus. */
  def classifyNeardupBatch(s: SparkSession, indexPath: String,
                           batch: DataFrame,
                           bandBuckets: Int = 0): DataFrame = {
    graft.expressions.VectorExpressions.register(s)
    IndexLayout.validate(s, indexPath, "bandBuckets", bandBuckets.toString)
    // the COMPLETE index: base plus every delta a stream has admitted —
    // a batch-side classify that ignored stream admissions would
    // re-admit their copies, the duplicate-admission the
    // SemDeDup-at-the-door contract forbids
    neardupVerdicts(DeltaIndex.readAll(s, indexPath), batch, bandBuckets)
  }

  /** The (doc_id, status) verdicts of one batch, one row per input row.
    *
    * The batch is pinned and banded in ONE pass (localCheckpoint); two
    * exchanges decide every verdict:
    *   1. per (band, sig), ONE aggregate over the probe rows ∪ the
    *      index rows the broadcast LEFT SEMI kept yields the index-hit
    *      flag, the in-batch first owner (min doc_id) and the batch
    *      docs holding the key — partial aggregation folds the index
    *      side to ≤ one row per probe key per partition before the
    *      exchange, so it is bounded by the batch's band keys;
    *   2. a doc_id window ORs each doc's band flags onto its input
    *      rows.
    * The probe keys broadcast as-is: a LEFT SEMI ignores duplicate
    * build keys, so a distinct() would only add an exchange job; the
    * build stays ≤ 4 × batch rows. */
  private def neardupVerdicts(index: DataFrame, batch: DataFrame,
                              bandBuckets: Int): DataFrame = {
    val pinned = md5BandArrays(batch).localCheckpoint(true)
    val probe0 = pinned.select(col("doc_id"),
      posexplode(col("bands")).as(Seq("band", "sig")))
    val probe =
      if (bandBuckets > 0) probe0.withColumn("bkt", bandBucketOf(bandBuckets))
      else probe0
    // For a band-bucket-partitioned index (stageNeardupIndex
    // bandBuckets > 0 — the 100 TB layout), push the probe's bucket
    // set as a STATIC partition filter, mirroring annProbeScore: the
    // key set is bounded BY CONSTRUCTION at ≤ bandBuckets distinct
    // values (a pmod image), so the collect is a bounded planning
    // input — the Iceberg runtime-file-pruning contract. Spark's DPP
    // (correctly) declines here: the probe side is a checkpointed RDD
    // with no selective predicate. The (band, sig) semi-join below
    // still applies exactly, so the pre-filter is purely an
    // optimization; the push is skipped only when useless (the probe
    // covers every bucket).
    val indexIn =
      if (bandBuckets <= 0) index
      else {
        val keys = probe.filter(col("bkt").isNotNull).select("bkt")
          .distinct().limit(bandBuckets + 1).collect().map(_.getInt(0)).toSeq
        bucketPush(index, keys, bandBuckets)
      }
    // the index pruned to the batch's band keys: broadcast semi-join —
    // index rows filter map-side against the probe keys
    val hits = indexIn.join(broadcast(probe.select("band", "sig")),
      Seq("band", "sig"), "left_semi")
    val keys = probe.select(col("band"), col("sig"), col("doc_id"),
        lit(0).as("hit"))
      .unionByName(hits.select(col("band"), col("sig"),
        lit(null).cast(pinned.schema("doc_id").dataType).as("doc_id"), lit(1).as("hit")))
      .groupBy("band", "sig")
      .agg(max(col("hit")).as("hit"), min(col("doc_id")).as("first_id"),
        collect_set(col("doc_id")).as("ids"))
    val bandRows = keys
      .select(col("hit"), col("first_id"), explode(col("ids")).as("doc_id"))
      .select(col("doc_id"), lit(false).as("is_doc"),
        (col("hit") === 1).as("de"), (col("doc_id") > col("first_id")).as("db"))
    val docRows = pinned.select(col("doc_id"), lit(true).as("is_doc"),
      lit(false).as("de"), lit(false).as("db"))
    val perDoc = Window.partitionBy("doc_id")
    bandRows.unionByName(docRows)
      .select(col("doc_id"), col("is_doc"),
        when(max(col("de")).over(perDoc), lit("dup_of_existing"))
          .when(max(col("db")).over(perDoc), lit("dup_in_batch"))
          .otherwise(lit("unique")).as("status"))
      .filter(col("is_doc"))
      .select("doc_id", "status")
  }

  /** `index` pre-filtered to a band-bucket-partitioned layout's probe
    * buckets (a static partition filter), unless the buckets cover the
    * whole space. */
  private def bucketPush(index: DataFrame, buckets: Seq[Int],
                         bandBuckets: Int): DataFrame =
    if (buckets.nonEmpty && buckets.size < bandBuckets)
      index.filter(col("bkt").isin(buckets: _*))
    else index

  /** ONE ingest epoch, IDEMPOTENT under Spark's at-least-once
    * foreachBatch replay (see [[DeltaIndex]]): classify `data` against
    * base + every OTHER epoch's delta, then OVERWRITE this epoch's
    * delta with the admitted docs' bands — a replayed epoch recomputes
    * the same verdicts (its previously-admitted docs can never
    * self-match) and leaves exactly one copy of its bands. */
  private[graft] def neardupIngestEpoch(s: SparkSession, indexPath: String,
                                        epochId: Long, data: DataFrame,
                                        bandBuckets: Int = 0): DataFrame =
    neardupEpoch(s, indexPath, epochId, data, bandBuckets)._1

  /** The (band, sig) key of an index row. */
  private type BandKey = (Int, String)

  private val bandKeySchema = StructType(Seq(
    StructField("band", IntegerType, nullable = false),
    StructField("sig", StringType, nullable = false)))

  /** [[neardupIngestEpoch]] plus the epoch's verdict count per status.
    * The epoch is bounded by the door's admission control
    * (`maxBatchesPerTrigger` buffered batches), so it is classified on
    * the DRIVER and only the probe into the index is distributed —
    * four Spark jobs:
    *   1. [[md5BandArrays]] bands the epoch (the native expression of
    *      the distributed path) and is collected;
    *   2. [[indexHits]] probes the index with the epoch's (band, sig)
    *      keys through a broadcast LEFT SEMI — 3. the broadcast build —
    *      and collects the hit keys; an epoch with no keys reads no
    *      index;
    *   4. the admitted docs' bands are written from ONE task (one
    *      delta file per bucket dir).
    * Verdicts follow [[neardupVerdicts]]' rule exactly (see
    * [[localVerdicts]]), one row per input row, null-id and band-less
    * docs `unique`. The returned frame is driver-local: collecting it
    * runs no job. */
  private def neardupEpoch(s: SparkSession, indexPath: String, epochId: Long,
                           data: DataFrame, bandBuckets: Int)
      : (DataFrame, Map[String, Long]) = {
    import scala.jdk.CollectionConverters._
    graft.expressions.VectorExpressions.register(s)
    IndexLayout.validate(s, indexPath, "bandBuckets", bandBuckets.toString)
    val idField = data.schema("doc_id")
    val banded = md5BandArrays(data)
    val rows = (if (bandBuckets > 0) banded.withColumn("bkts",
        transform(col("bands"), (sig, band) => bandBucketOf(bandBuckets, band, sig)))
      else banded).collect()
    // doc_ids compare and group in Catalyst form, by Spark's own ordering
    val toKey = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(idField.dataType)
    val ord = org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(idField.dataType)
    def bandsOf(r: Row): Seq[BandKey] =
      if (r.isNullAt(1)) Nil else r.getSeq[String](1).zipWithIndex.map(_.swap)
    // per non-null doc_id: its first collected value and the keys of
    // every row carrying it
    val byId = rows.filter(!_.isNullAt(0)).groupBy(r => toKey(r.get(0)))
      .map { case (k, rs) => k -> (rs.head.get(0), rs.toSeq.flatMap(bandsOf).distinct) }
    val bucketOf: Map[BandKey, Int] =
      if (bandBuckets <= 0) Map.empty
      else rows.iterator.filter(!_.isNullAt(1)).flatMap(r =>
        bandsOf(r).zip(r.getSeq[Int](2))).toMap
    val keys = byId.values.flatMap(_._2).toSeq.distinct
    val hits =
      if (keys.isEmpty) Set.empty[BandKey]
      else indexHits(s, indexPath, epochId, keys,
        keys.flatMap(bucketOf.get).distinct, bandBuckets)
    val status = localVerdicts(byId.map { case (k, (_, b)) => k -> b }, hits, ord)
    val verdicts = rows.toSeq.map(r => Row(r.get(0),
      if (r.isNullAt(0)) "unique" else status(toKey(r.get(0)))))
    val admitted = byId.toSeq.collect { case (k, (id, bands)) if status(k) == "unique" =>
      bands.map { case b @ (band, sig) =>
        Row.fromSeq(Seq(id, band, sig) ++ bucketOf.get(b).toSeq) }
    }.flatten
    // admitted bands carry the bucket key when the layout is
    // partitioned — DeltaIndex.write mirrors the base's partitioning,
    // so the delta scans prune exactly like the base scan
    val bandSchema = StructType(Seq(idField) ++ bandKeySchema.fields ++
      (if (bandBuckets > 0) Seq(StructField("bkt", IntegerType)) else Nil))
    DeltaIndex.write(s, indexPath, epochId,
      Some(admitted).filter(_.nonEmpty)
        .map(a => s.createDataFrame(a.asJava, bandSchema).coalesce(1)),
      clustered = true)
    val verdictSchema = StructType(Seq(idField,
      StructField("status", StringType, nullable = false)))
    (s.createDataFrame(verdicts.asJava, verdictSchema),
      verdicts.groupBy(_.getString(1)).map { case (st, v) => st -> v.size.toLong })
  }

  /** The index's hit keys among an epoch's (band, sig) `keys` (non-
    * empty): the index (base + every other epoch's delta; on a
    * partitioned layout pre-filtered to `buckets`) joined LEFT SEMI
    * against the broadcast keys, deduplicated per partition and
    * collected — at most the epoch's keys per index partition. The
    * probe plan contract is required on this plan every epoch. */
  private def indexHits(s: SparkSession, indexPath: String, epochId: Long,
                        keys: Seq[BandKey], buckets: Seq[Int],
                        bandBuckets: Int): Set[BandKey] = {
    import scala.jdk.CollectionConverters._
    val index = DeltaIndex.read(s, indexPath, epochId)
    val indexIn = bucketPush(index, buckets, bandBuckets)
    val probe = s.createDataFrame(keys.map { case (b, g) => Row(b, g) }.asJava,
      bandKeySchema)
    val qe = indexIn.join(broadcast(probe), Seq("band", "sig"), "left_semi")
      .select("band", "sig").queryExecution
    DeltaIndex.requireProbeContract(s, indexPath, s"epoch $epochId", qe.sparkPlan)
    lastEpochPlan.set(qe.sparkPlan)
    qe.toRdd.mapPartitions { it =>
      val seen = scala.collection.mutable.HashSet.empty[BandKey]
      it.foreach(r => seen += (r.getInt(0) -> r.getUTF8String(1).toString))
      seen.iterator
    }.collect().toSet
  }

  /** [[neardupVerdicts]]' rule over one epoch's doc_ids (Catalyst form)
    * and their (band, sig) keys: `dup_of_existing` when a key is an
    * index hit, else `dup_in_batch` when the doc_id is above the
    * smallest doc_id sharing one of its keys, else `unique`. */
  private def localVerdicts(keysOf: Map[Any, Seq[BandKey]], hits: Set[BandKey],
                            ord: Ordering[Any]): Map[Any, String] = {
    val firstOwner = scala.collection.mutable.HashMap.empty[BandKey, Any]
    for ((id, keys) <- keysOf; k <- keys)
      if (firstOwner.get(k).forall(ord.gt(_, id))) firstOwner(k) = id
    keysOf.map { case (id, keys) => id ->
      (if (keys.exists(hits)) "dup_of_existing"
       else if (keys.exists(k => ord.gt(id, firstOwner(k)))) "dup_in_batch"
       else "unique")
    }
  }

  /** The most recent ingest epoch's probe plan, for spec assertions. */
  private[graft] val lastEpochPlan = new EpochPlan

  /** The REAL runtime composition of the streaming-ingest pieces (the
    * reference's shape: consumer flush → manager append → downstream
    * consumer, kafka/consumer.go:307-410 → stream/manager.go:277-343):
    * one StreamingQuery SUBSCRIBES to a store topic through the DSv2
    * MicroBatchStream, `maxBatchesPerTrigger` admission control bounds
    * each epoch, and every epoch runs [[neardupIngestEpoch]] — probe
    * the staged banded index, admit, grow the index by the admitted
    * docs' bands (per-epoch delta dirs, replay-idempotent), so later
    * epochs see them as existing — the SemDeDup-at-the-door contract.
    * Eviction under the store's byte budget surfaces as missing
    * offsets: evicted batches are simply never classified (drop-oldest
    * loses data by reference contract).
    *
    * LONG-LIVED operation: every probe unions the base with each
    * outstanding delta, so the stream itself schedules
    * [[DeltaIndex.compact]] between micro-batches — once the COMMITTED
    * (epoch < current) delta count reaches `compactEvery`, they fold
    * into the base (the reference's periodic cleanupLoop discipline,
    * stream/manager.go:116-124), bounding per-epoch plan depth at
    * `compactEvery` delta reads regardless of how many epochs the
    * stream has run. Committed epochs never replay (foreachBatch(N)
    * runs only after N-1's offsets committed), so folding them is
    * replay-safe; the current epoch's own (possibly stale) delta is
    * never folded. The fold runs at the END of epoch N, after
    * `onEpoch`, over the same `< N` set: the callback is not held up
    * by it, and it lands before epoch N+1 reads the index.
    * `compactEvery <= 0` disables mid-stream compaction.
    *
    * `onEpoch` receives (epochId, classified) per non-empty epoch;
    * the classified frame — one (doc_id, status) row per input row —
    * is driver-local and bounded by the epoch (at most
    * `maxBatchesPerTrigger` store batches), so collecting it runs no
    * Spark job. */
  def startNeardupIngest(s: SparkSession, storeName: String, topic: String,
                         indexPath: String, maxBatchesPerTrigger: Long,
                         checkpointDir: String,
                         onEpoch: (Long, DataFrame) => Unit,
                         compactEvery: Int = 8,
                         bandBuckets: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // Fresh checkpoint = Spark restarts epoch ids at 0; an uncompacted
    // delta namespace from a PREVIOUS run would be overwritten epoch by
    // epoch (silent index data loss). Folding the deltas into the base
    // first preserves every prior admission and hands the new run an
    // empty namespace. A RESUMING checkpoint keeps its deltas — the
    // replay-idempotence contract needs them.
    // one live writer per index (IngestWriters): a second concurrent
    // stream would overwrite this stream's _delta/e<n> admissions —
    // rejected loudly before any state is touched
    IngestWriters.acquire(indexPath, checkpointDir)
    val q = try {
      if (!DeltaIndex.resumesCheckpoint(s, checkpointDir))
        DeltaIndex.compact(s, indexPath)
      DeltaIndex.resolveLayout(s, indexPath)
      s.readStream.format("graft-store")
        .option("store", storeName).option("topic", topic)
        .option("maxBatchesPerTrigger", maxBatchesPerTrigger.toString)
        .load()
        .writeStream
        .option("checkpointLocation", checkpointDir)
        .foreachBatch { (batch: DataFrame, epochId: Long) =>
          // the epoch runs even when the batch drained EMPTY (offsets
          // evicted between attempts): an empty epoch CLEARS any stale
          // delta its first attempt wrote — otherwise those admissions
          // would haunt the index for docs that were never reported
          val sess = batch.sparkSession
          // the epoch collects the batch in its banding pass: the source
          // is read once, and every verdict comes from that one copy
          val (classified, counts) = neardupEpoch(sess, indexPath, epochId,
            batch.select("doc_id", "text"), bandBuckets)
          // per-topic admitted/dup counters (reference's per-stream
          // metric family), from the epoch's own verdicts
          IngestMetrics.recordEpoch(topic, counts)
          if (counts.nonEmpty) onEpoch(epochId, classified)
          DeltaIndex.maybeCompact(sess, indexPath, epochId, compactEvery)
          ()
        }
        .start()
    } catch { case t: Throwable => IngestWriters.release(indexPath); throw t }
    IngestWriters.bind(indexPath, q)
    q
  }

  /** The TTL-expiry recovery recipe as one call (see
    * [[graft.engine.IngestRecovery]] and the ANN mirror
    * [[VectorOps.resumeAnnIngestAfterExpiry]]): after the topic
    * idle-expired and the caller re-appended its data
    * (create-on-access), restart the near-dup door under a FRESH
    * checkpoint — the start's compact-first folds the previous run's
    * deltas, so every prior admission survives into the new run's
    * index base. Preconditions are validated with actionable errors. */
  def resumeNeardupIngestAfterExpiry(s: SparkSession, storeName: String,
                                     topic: String, indexPath: String,
                                     maxBatchesPerTrigger: Long,
                                     freshCheckpointDir: String,
                                     onEpoch: (Long, DataFrame) => Unit,
                                     compactEvery: Int = 8,
                                     bandBuckets: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    IngestRecovery.validateResume(s, storeName, topic, freshCheckpointDir)
    startNeardupIngest(s, storeName, topic, indexPath, maxBatchesPerTrigger,
      freshCheckpointDir, onEpoch, compactEvery, bandBuckets)
  }

  /** Blocklist dictionary for [[qBlocklistScan]]. Every term is
    * BORDERLESS (no proper prefix equals a suffix), so occurrences of
    * one term can never overlap each other — which makes the
    * automaton's all-occurrences count equal DuckDB's non-overlapping
    * replace()-based count, the property the differential rests on. */
  val BlocklistTerms: Seq[String] =
    Seq("batch", "fast", "merge", "query", "scan", "stream", "table", "vector")

  /** Multi-pattern blocklist scan — the contraband/PII dictionary
    * audit every curation pipeline fronts ingestion with, built the
    * only way that survives 100 TB × a 10⁵-term dictionary: ONE
    * Aho–Corasick automaton pass per document (native
    * `graft_multi_pattern_counts`, [[graft.expressions.MultiPatternOps]])
    * instead of |dict| contains()/LIKE scans that each re-read the
    * corpus. Per-document per-term counts come out as one array, and
    * the per-term rollup (docs hit, total occurrences) is a bounded
    * |dict|-group aggregate with map-side partials. The DuckDB oracle
    * recounts every term with length/replace arithmetic — a different
    * algorithm entirely, so a bug in the trie, the failure links, or
    * the output merging shifts an integer. */
  def qBlocklistScan(s: SparkSession, d: String): DataFrame = {
    graft.expressions.VectorExpressions.register(s)
    Tables.documents(s, d)
      .select(col("doc_id"),
        call_function("graft_multi_pattern_counts", col("text"),
          lit(BlocklistTerms.mkString(" "))).as("cnts"))
      .select(posexplode(col("cnts")).as(Seq("idx", "cnt")))
      .groupBy("idx")
      .agg(sum(when(col("cnt") > 0, 1L).otherwise(0L)).as("n_docs"),
        sum("cnt").as("total_hits"))
      .select(
        element_at(typedLit(BlocklistTerms), col("idx").cast("int") + 1).as("term"),
        col("n_docs"), col("total_hits"))
      .orderBy("term")
  }

  /** Positional-index phrase query — the second retrieval primitive a
    * search stack needs after boolean term lookup (q_inverted_index):
    * find documents containing the exact phrase "fast scan" by
    * intersecting POSITIONAL posting lists — postings for the two
    * terms join on (doc, pos₂ = pos₁+1), the textbook phrase-query
    * algorithm (Manning et al., IR ch.2). The corpus is tokenized
    * once (posexplode, checkpointed so both term filters read the
    * same pass); everything after is joins between two term-posting
    * lists, which at 100 TB are df(term)-sized — tiny next to the
    * corpus — and the join keys on doc_id so co-occurring positions
    * hash together. The oracle recounts adjacent pairs per document
    * with a list comprehension over the split array — a different
    * algorithm (array scan vs posting join) that must land on
    * identical counts. */
  def qPhraseQuery(s: SparkSession, d: String, t1: String = "fast",
                   t2: String = "scan"): DataFrame = {
    val posts = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "term")))
      .filter(col("term").isin(t1, t2))
      .localCheckpoint(true) // one corpus pass feeds both posting lists
    val p1 = posts.filter(col("term") === t1).select(col("doc_id"), col("pos"))
    val p2 = posts.filter(col("term") === t2)
      .select(col("doc_id").as("d2"), col("pos").as("pos2"))
    p1.join(p2, col("doc_id") === col("d2") && col("pos2") === col("pos") + 1)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_occ"))
      .orderBy(col("n_occ").desc, col("doc_id"))
      .limit(50)
  }

  /** DuckDB oracle for [[qPhraseQuery]]: adjacent-pair counting by a
    * list comprehension over each document's token array. */
  val phraseQueryOracleSql: String =
    """WITH toks AS (SELECT doc_id,
      |         regexp_split_to_array(trim(text), '\s+') AS a FROM documents),
      |occ AS (SELECT doc_id,
      |          len(list_filter(range(1, len(a)),
      |              i -> a[i] = 'fast' AND a[i+1] = 'scan')) AS cnt
      |        FROM toks)
      |SELECT doc_id, CAST(cnt AS BIGINT) AS n_occ
      |FROM occ WHERE cnt > 0
      |ORDER BY n_occ DESC, doc_id LIMIT 50""".stripMargin

  /** Unigram-LM piece vocabulary for [[qUnigramSegment]] — corpus
    * words with integer costs (≈ −log p in decishannons) plus an
    * implicit any-single-char fallback at cost 11 (applied in BOTH
    * engines), so segmentation always succeeds and multi-char pieces
    * win where they exist. Single source of truth: the DuckDB
    * oracle's VALUES list is GENERATED from this table, so the two
    * engines cannot drift on a piece or a cost. */
  val UnigramPieces: Seq[(String, Int)] = Seq(
    "table" -> 9, "value" -> 9, "batch" -> 9, "query" -> 9, "group" -> 9,
    "order" -> 9, "small" -> 9, "spark" -> 9, "merge" -> 9,
    "window" -> 10, "stream" -> 10, "filter" -> 10, "vector" -> 10,
    "column" -> 10, "customer" -> 12,
    "scan" -> 8, "fast" -> 8, "data" -> 8, "part" -> 8, "hash" -> 8,
    "line" -> 8, "sort" -> 8, "slow" -> 8, "join" -> 8,
    "key" -> 7, "agg" -> 7, "row" -> 7, "the" -> 7, "big" -> 7,
    "a" -> 5)
  val UnigramCharCost = 11
  val UnigramPrefixLen = 20

  /** SentencePiece-style unigram-LM segmentation (Kudo 2018) — the
    * tokenizer-family rung above BPE (q_bpe_merge/q_bpe_apply): given
    * a piece vocabulary with costs, find the MINIMUM-cost segmentation
    * of each document's space-stripped 20-char prefix by Viterbi DP —
    * cost[i] = min over pieces p ending at i of cost[i−|p|] + c(p),
    * with a universal single-char fallback. The greedy longest-match
    * cost rides along: greedy ≥ optimal everywhere (spec law), and the
    * gap is exactly why production tokenizers run Viterbi, not greedy.
    * Per-document DP over a ≤20-char window is embarrassingly parallel
    * map-side work (the codec-decode execution shape — one
    * mapPartitions, nothing crosses a shuffle); the DuckDB oracle
    * replays the DP as a recursive CTE carrying the last-8-costs list
    * and the greedy walk as a second recursive CTE, both generated
    * from [[UnigramPieces]]. Exact integers end to end. */
  def qUnigramSegment(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val pieces = UnigramPieces.map { case (p, c) => (p, p.length, c.toLong) }.toArray
    Tables.documents(s, d)
      .select(col("doc_id"), translate(trim(col("text")), " ", "").as("sq"))
      .filter(length(col("sq")) >= UnigramPrefixLen)
      .select(col("doc_id"), substring(col("sq"), 1, UnigramPrefixLen).as("sq"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, str) =>
          val (mc, gc) = unigramSegmentCosts(str, pieces)
          (id, mc, gc)
        }
      }
      .toDF("doc_id", "min_cost", "greedy_cost")
      .orderBy("doc_id")
  }

  /** The per-string DP behind [[qUnigramSegment]] (factored out so the
    * spec can hand-walk crafted strings): returns (Viterbi min cost,
    * greedy longest-match cost). */
  def unigramSegmentCosts(str: String,
      piecesIn: Array[(String, Int, Long)] = null): (Long, Long) = {
    val pieces = if (piecesIn != null) piecesIn
      else UnigramPieces.map { case (p, c) => (p, p.length, c.toLong) }.toArray
    val n = str.length
    // Viterbi: min-cost over all segmentations
    val cost = new Array[Long](n + 1)
    var i = 1
    while (i <= n) {
      var best = cost(i - 1) + UnigramCharCost
      var k = 0
      while (k < pieces.length) {
        val (p, l, c) = pieces(k)
        if (l <= i && str.regionMatches(i - l, p, 0, l)) {
          val cand = cost(i - l) + c
          if (cand < best) best = cand
        }
        k += 1
      }
      cost(i) = best
      i += 1
    }
    // greedy longest-match walk (multi-char pieces only; singles fall back)
    var pos = 0
    var greedy = 0L
    while (pos < n) {
      var bestLen = 1
      var bestCost = UnigramCharCost.toLong
      var k = 0
      while (k < pieces.length) {
        val (p, l, c) = pieces(k)
        if (pos + l <= n && l > bestLen && str.regionMatches(pos, p, 0, l)) {
          bestLen = l; bestCost = c
        }
        k += 1
      }
      greedy += bestCost
      pos += bestLen
    }
    (cost(n), greedy)
  }

  /** DuckDB oracle for [[qUnigramSegment]] — the Viterbi DP as a
    * recursive CTE carrying the trailing-8-costs list, the greedy walk
    * as a forward recursive CTE picking the longest match via a packed
    * len·1000+cost argmax; the pieces VALUES are generated from
    * [[UnigramPieces]]. */
  lazy val unigramSegmentOracleSql: String = {
    val values = UnigramPieces
      .map { case (p, c) => s"('$p',${p.length},$c)" }.mkString(",\n      |  ")
    val N = UnigramPrefixLen
    s"""WITH RECURSIVE
      |pieces(p, len, cost) AS (VALUES
      |  $values),
      |docs AS (SELECT doc_id, substr(replace(trim(text), ' ', ''), 1, $N) AS s
      |         FROM documents WHERE length(replace(trim(text), ' ', '')) >= $N),
      |dp AS (
      |  SELECT doc_id, s, 0 AS i, [CAST(0 AS BIGINT)] AS costs FROM docs
      |  UNION ALL
      |  SELECT doc_id, s, i + 1,
      |    (list_prepend(
      |      LEAST(
      |        COALESCE((SELECT MIN(costs[pc.len] + pc.cost) FROM pieces pc
      |                  WHERE pc.len <= i + 1
      |                    AND substr(s, i + 2 - pc.len, pc.len) = pc.p),
      |                 9223372036854775807),
      |        costs[1] + $UnigramCharCost),
      |      costs))[1:8]
      |  FROM dp WHERE i < $N),
      |greedy AS (
      |  SELECT doc_id, s, 0 AS pos, CAST(0 AS BIGINT) AS acc FROM docs
      |  UNION ALL
      |  SELECT doc_id, s,
      |    pos + COALESCE(sel // 1000, 1),
      |    acc + COALESCE(sel % 1000, $UnigramCharCost)
      |  FROM (SELECT doc_id, s, pos, acc,
      |          (SELECT MAX(pc.len * 1000 + pc.cost) FROM pieces pc
      |           WHERE pc.len > 1 AND pos + pc.len <= $N
      |             AND substr(s, pos + 1, pc.len) = pc.p) AS sel
      |        FROM greedy WHERE pos < $N))
      |SELECT dp.doc_id, CAST(dp.costs[1] AS BIGINT) AS min_cost,
      |       CAST(g.acc AS BIGINT) AS greedy_cost
      |FROM dp JOIN (SELECT doc_id, acc FROM greedy WHERE pos = $N) g
      |  ON g.doc_id = dp.doc_id
      |WHERE dp.i = $N ORDER BY dp.doc_id""".stripMargin
  }

  /** Viterbi ARGMIN segmentation (the backtrace [[unigramSegmentCosts]]
    * stops short of) under the tie-break both engines replay exactly:
    * at each end position the chosen step is the LONGEST piece whose
    * cost achieves the DP minimum; if no piece achieves it, the
    * single-char fallback (bucketed as "<char>"). Longest-wins is
    * total: two distinct achieving pieces of equal length would be the
    * same substring, and a length-1 piece can never cost-tie the char
    * fallback (distinct costs on the same predecessor). */
  private[graft] def unigramViterbiSteps(str: String,
      piecesIn: Array[(String, Int, Long)] = null): Seq[String] = {
    val pieces = if (piecesIn != null) piecesIn
      else UnigramPieces.map { case (p, c) => (p, p.length, c.toLong) }.toArray
    val n = str.length
    val cost = new Array[Long](n + 1)
    var i = 1
    while (i <= n) {
      var best = cost(i - 1) + UnigramCharCost
      var k = 0
      while (k < pieces.length) {
        val (p, l, c) = pieces(k)
        if (l <= i && str.regionMatches(i - l, p, 0, l)) {
          val cand = cost(i - l) + c
          if (cand < best) best = cand
        }
        k += 1
      }
      cost(i) = best
      i += 1
    }
    val steps = scala.collection.mutable.ListBuffer.empty[String]
    var pos = n
    while (pos > 0) {
      var bestP: String = null
      var bestL = 0
      var k = 0
      while (k < pieces.length) {
        val (p, l, c) = pieces(k)
        if (l <= pos && str.regionMatches(pos - l, p, 0, l) &&
            cost(pos - l) + c == cost(pos) && l > bestL) {
          bestP = p; bestL = l
        }
        k += 1
      }
      if (bestP == null) { steps += "<char>"; pos -= 1 }
      else { steps += bestP; pos -= bestL }
    }
    steps.toList
  }

  /** SentencePiece unigram hard-EM TRAINING step (Kudo 2018, the
    * trainer [[qUnigramSegment]]'s inference exists inside) — the
    * second tokenizer trainer next to [[qBpeTrain]], completing both
    * halves of the modern-tokenizer story (BPE grows a vocabulary
    * bottom-up by merging; unigram-LM starts from a candidate
    * inventory and RE-WEIGHTS it from how the corpus actually
    * segments). E-step (hard): every document prefix Viterbi-segments
    * under the current piece costs with the exact backtrace tie-break
    * ([[unigramViterbiSteps]] — longest achieving piece, char
    * fallback bucketed as "<char>"); piece-usage counts aggregate
    * corpus-wide. M-step: new_cost(p) = −⌊ln((used_p + 1)/(T + V))
    * ·10⁶ + 0.5⌋ micro-nats (add-one smoothing over the V = 30-entry
    * inventory), the re-weighting the next iteration would segment
    * under. The report carries old cost, usage, and new cost per
    * piece plus the corpus cost — the signal SentencePiece prunes
    * against. Distributed shape: segmentation is a pure map over
    * docs (per-partition DP, no state), counting is one
    * inventory-bounded aggregate, the M-step a broadcast 1-row total
    * — the oracle replays the DP forward pass AND the backtrace as
    * recursive CTEs, so a one-step tie-break divergence anywhere in
    * 20 positions × every doc fails the hash. */
  def qUnigramTrain(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val pieces = UnigramPieces.map { case (p, c) => (p, p.length, c.toLong) }.toArray
    val base = Tables.documents(s, d)
      .select(col("doc_id"), translate(trim(col("text")), " ", "").as("sq"))
      .filter(length(col("sq")) >= UnigramPrefixLen)
      .select(col("doc_id"), substring(col("sq"), 1, UnigramPrefixLen).as("sq"))
      .as[(Long, String)]
    val used = base
      .mapPartitions(_.flatMap { case (_, str) =>
        unigramViterbiSteps(str, pieces)
      })
      .toDF("piece")
      .groupBy("piece").agg(count(lit(1)).as("used"))
    val corpus = base
      .mapPartitions(_.map { case (_, str) =>
        unigramSegmentCosts(str, pieces)._1
      })
      .toDF("c").agg(sum("c").as("corpus_cost_u"))
    val tot = used.agg(sum("used").as("t_steps"))
    val vocab = (UnigramPieces :+ ("<char>" -> UnigramCharCost))
      .toDF("piece", "oc")
    val nV = UnigramPieces.size + 1
    vocab
      .join(used, Seq("piece"), "left")
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(corpus))
      .select(col("piece"),
        when(col("piece") === "<char>", 1L)
          .otherwise(length(col("piece")).cast("long")).as("plen"),
        col("oc").cast("long").as("old_cost"),
        coalesce(col("used"), lit(0L)).as("used"),
        (-floor(log((coalesce(col("used"), lit(0L)) + 1L).cast("double") /
          (col("t_steps") + nV).cast("double")) * 1e6 + 0.5)).cast("long")
          .as("new_cost_u"),
        col("t_steps"), col("corpus_cost_u"))
      .orderBy("piece")
  }

  /** DuckDB oracle for [[qUnigramTrain]]: the forward DP carries the
    * FULL per-position cost list, the backtrace is a second recursive
    * CTE choosing the longest achieving piece at each position (char
    * fallback when the scalar subquery finds none), and the count /
    * M-step arithmetic mirrors the Spark expressions exactly. */
  lazy val unigramTrainOracleSql: String = {
    val values = UnigramPieces
      .map { case (p, c) => s"('$p',${p.length},$c)" }.mkString(",\n      |  ")
    val N = UnigramPrefixLen
    val vocabValues = (UnigramPieces :+ ("<char>" -> UnigramCharCost))
      .map { case (p, c) =>
        s"('$p',${if (p == "<char>") 1 else p.length},$c)" }
      .mkString(",\n      |  ")
    val nV = UnigramPieces.size + 1
    s"""WITH RECURSIVE
      |pieces(p, len, cost) AS (VALUES
      |  $values),
      |vocab(piece, plen, oc) AS (VALUES
      |  $vocabValues),
      |docs AS (SELECT doc_id, substr(replace(trim(text), ' ', ''), 1, $N) AS s
      |         FROM documents WHERE length(replace(trim(text), ' ', '')) >= $N),
      |dp AS (
      |  SELECT doc_id, s, 0 AS i, [CAST(0 AS BIGINT)] AS costs FROM docs
      |  UNION ALL
      |  SELECT doc_id, s, i + 1,
      |    list_append(costs, LEAST(
      |      COALESCE((SELECT MIN(costs[i + 2 - pc.len] + pc.cost) FROM pieces pc
      |                WHERE pc.len <= i + 1
      |                  AND substr(s, i + 2 - pc.len, pc.len) = pc.p),
      |               9223372036854775807),
      |      costs[i + 1] + $UnigramCharCost))
      |  FROM dp WHERE i < $N),
      |fin AS (SELECT doc_id, s, costs FROM dp WHERE i = $N),
      |bt AS (
      |  SELECT doc_id, s, costs, $N AS pos,
      |         CAST(NULL AS VARCHAR) AS step FROM fin
      |  UNION ALL
      |  SELECT doc_id, s, costs,
      |    pos - COALESCE(alen, 1),
      |    CASE WHEN alen IS NULL THEN '<char>'
      |         ELSE substr(s, pos - alen + 1, alen) END
      |  FROM (SELECT doc_id, s, costs, pos,
      |          (SELECT MAX(pc.len) FROM pieces pc
      |           WHERE pc.len <= pos
      |             AND substr(s, pos - pc.len + 1, pc.len) = pc.p
      |             AND costs[pos + 1 - pc.len] + pc.cost = costs[pos + 1])
      |            AS alen
      |        FROM bt WHERE pos > 0)),
      |used AS (SELECT step AS piece, CAST(COUNT(*) AS BIGINT) AS used
      |         FROM bt WHERE step IS NOT NULL GROUP BY 1),
      |tot AS (SELECT CAST(SUM(used) AS BIGINT) AS t_steps FROM used),
      |corp AS (SELECT CAST(SUM(costs[${N + 1}]) AS BIGINT) AS corpus_cost_u
      |         FROM fin)
      |SELECT v.piece, CAST(v.plen AS BIGINT) AS plen,
      |       CAST(v.oc AS BIGINT) AS old_cost,
      |       CAST(COALESCE(u.used, 0) AS BIGINT) AS used,
      |       CAST(-FLOOR(ln((COALESCE(u.used, 0) + 1)
      |              / CAST(t_steps + $nV AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
      |         AS new_cost_u,
      |       t_steps, corpus_cost_u
      |FROM vocab v LEFT JOIN used u ON u.piece = v.piece
      |CROSS JOIN tot CROSS JOIN corp
      |ORDER BY v.piece""".stripMargin
  }

  /** Prefix autocomplete index — the search-as-you-type completion
    * table (the third retrieval primitive after boolean lookup and the
    * phrase query): the corpus vocabulary rolls up to (word, freq),
    * each word fans out to its 1–3-char prefixes, and a per-prefix
    * top-3 by (freq desc, word) is the completion list a typeahead
    * serves. Everything after the vocabulary aggregate is
    * vocab-bounded (Heaps-law), so the window sort never sees corpus
    * rows; ties at the cut break on the word text. */
  def qPrefixAutocomplete(s: SparkSession, d: String): DataFrame = {
    val vocab = Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 3)
      .groupBy("w").agg(count(lit(1)).as("freq"))
    val w = Window.partitionBy("prefix")
      .orderBy(col("freq").desc, col("w").asc)
    vocab
      .select(col("w"), col("freq"), explode(array(
        substring(col("w"), 1, 1), substring(col("w"), 1, 2),
        substring(col("w"), 1, 3))).as("prefix"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("prefix"), col("rank"), col("w").as("completion"), col("freq"))
      .orderBy("prefix", "rank")
  }

  /** DuckDB oracle for [[qPrefixAutocomplete]]. */
  val prefixAutocompleteOracleSql: String =
    """WITH vocab AS (
      |  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
      |    SELECT UNNEST(regexp_split_to_array(trim(text), '\s+')) AS w
      |    FROM documents) WHERE length(w) >= 3 GROUP BY w),
      |pre AS (SELECT w, freq,
      |          UNNEST([substr(w,1,1), substr(w,1,2), substr(w,1,3)]) AS prefix
      |        FROM vocab),
      |rk AS (SELECT prefix, w, freq,
      |         CAST(row_number() OVER (PARTITION BY prefix
      |           ORDER BY freq DESC, w ASC) AS BIGINT) AS rank
      |       FROM pre)
      |SELECT prefix, rank, w AS completion, freq
      |FROM rk WHERE rank <= 3 ORDER BY prefix, rank""".stripMargin

  /** DuckDB oracle for [[qBlocklistScan]] — substring counting by
    * length/replace set algebra per (doc, term); borderless terms make
    * non-overlapping counts equal the automaton's all-occurrence
    * counts. */
  val blocklistScanOracleSql: String =
    """WITH terms AS (SELECT UNNEST(['batch','fast','merge','query',
      |                              'scan','stream','table','vector']) AS term),
      |c AS (SELECT d.doc_id, t.term,
      |        (length(d.text) - length(replace(d.text, t.term, '')))
      |          // length(t.term) AS cnt
      |      FROM documents d CROSS JOIN terms t)
      |SELECT term,
      |       CAST(SUM(CASE WHEN cnt > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
      |       CAST(SUM(cnt) AS BIGINT) AS total_hits
      |FROM c GROUP BY term ORDER BY term""".stripMargin

  /** Common-prefix length as generated SQL — prefix equality is
    * monotone (substr(a,1,k) = substr(b,1,k) implies equality at every
    * j < k, and can never hold past a difference for DISTINCT strings),
    * so cpl = Σ_{k=1..30} [prefixes of length k equal]. One generator
    * feeds both engines; callers must EXCLUDE tokens longer than 30
    * chars at their vocab stage (as [[qFrontCoding]] does) — a pair
    * sharing more identical leading chars than the term count would
    * otherwise silently undercount on both engines, which no oracle
    * can catch. */
  private def cplSql(a: String, b: String): String =
    (1 to 30).map(k =>
      s"(CASE WHEN substr($a, 1, $k) = substr($b, 1, $k) THEN 1 ELSE 0 END)")
      .mkString(" + ")

  /** Front-coded term-dictionary audit (the Lucene/RocksDB prefix
    * compression every sorted string dictionary ships with): within
    * each first-letter partition of the vocabulary, consecutive sorted
    * terms share a measured common prefix and a front-coded entry
    * stores only (prefix-len, suffix-len, suffix chars) = len − cpl + 2
    * cost units, with a full restart entry (len + 1) every 16 terms so
    * point lookups stay O(block) — the exact layout trade a terms
    * dictionary tunes. Char-cost model (multi-byte chars count 1 on
    * both engines — the COMPARISON is the point, not absolute bytes).
    * Everything after the vocabulary aggregate is Heaps-law-bounded;
    * the windows are letter-partitioned (no global sort), and the cpl
    * is the generated monotone-prefix sum ([[cplSql]]) — identical
    * integer arithmetic in both engines. */
  def qFrontCoding(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("letter").orderBy("w")
    documents(s, d)
      .select(explode(tokens(col("text"))).as("w"))
      // ≤ 30 EXCLUDES over-long tokens rather than truncating their
      // measured prefix (the qSoundexBlocking length-cap discipline):
      // cplSql sums 30 prefix-equality terms, so a vocab pair sharing
      // >30 leading chars would silently undercount shared_chars /
      // front_bytes on BOTH engines — the cap must never bend a count
      .filter(length(col("w")).between(1, 30))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .withColumn("letter", substring(col("w"), 1, 1))
      .withColumn("prev", lag("w", 1).over(w))
      .withColumn("rn", row_number().over(w))
      .withColumn("cpl", when(col("prev").isNull, 0L)
        .otherwise(expr(s"CAST(${cplSql("prev", "w")} AS BIGINT)")))
      .withColumn("fbytes",
        when((col("rn") - 1) % 16 === 0, length(col("w")).cast("long") + 1L)
          .otherwise(length(col("w")).cast("long") - col("cpl") + 2L))
      .groupBy("letter")
      .agg(
        count(lit(1)).as("n_words"),
        sum(length(col("w")).cast("long") + 1L).as("plain_bytes"),
        sum("fbytes").as("front_bytes"),
        sum("cpl").as("shared_chars"))
      .withColumn("ratio",
        floor(col("front_bytes").cast("double") * 10000.0 /
          col("plain_bytes") + 0.5) / 10000.0)
      .orderBy("letter")
  }

  /** DuckDB oracle for [[qFrontCoding]]: identical letter-partitioned
    * windows and the same generated prefix sum. */
  lazy val frontCodingOracleSql: String =
    s"""WITH tok AS (SELECT UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS w
       |             FROM documents),
       |v AS (SELECT w, COUNT(*) AS freq FROM tok
       |      WHERE len(w) BETWEEN 1 AND 30 GROUP BY 1),
       |fc AS (SELECT w, substr(w, 1, 1) AS letter,
       |         LAG(w) OVER (PARTITION BY substr(w, 1, 1) ORDER BY w) AS prev,
       |         ROW_NUMBER() OVER (PARTITION BY substr(w, 1, 1) ORDER BY w) AS rn
       |       FROM v),
       |c AS (SELECT *, CASE WHEN prev IS NULL THEN 0
       |                     ELSE ${cplSql("prev", "w")} END AS cpl FROM fc),
       |m AS (SELECT letter, COUNT(*) AS n_words,
       |        SUM(len(w) + 1) AS plain_bytes,
       |        SUM(CASE WHEN (rn - 1) % 16 = 0 THEN len(w) + 1
       |                 ELSE len(w) - cpl + 2 END) AS front_bytes,
       |        SUM(cpl) AS shared_chars
       |      FROM c GROUP BY 1)
       |SELECT letter, CAST(n_words AS BIGINT) AS n_words,
       |       CAST(plain_bytes AS BIGINT) AS plain_bytes,
       |       CAST(front_bytes AS BIGINT) AS front_bytes,
       |       CAST(shared_chars AS BIGINT) AS shared_chars,
       |       FLOOR(CAST(front_bytes AS DOUBLE) * 10000.0 / plain_bytes + 0.5)
       |         / 10000.0 AS ratio
       |FROM m ORDER BY letter""".stripMargin

  /** TextRank keyword extraction (Mihalcea & Tarau 2004) — the
    * graph-based ranker above frequency/RAKE: words vote for their
    * co-occurrence neighbors, so a word adjacent to many WELL-CONNECTED
    * words outranks a merely frequent one. Graph = adjacent-pair
    * co-occurrences from the staged per-doc bigram table
    * ([[docBigrams]] — one corpus tokenize shared with the LM family),
    * content words approximated by length ≥ 4 (the paper's POS filter,
    * lexicon-free), symmetrized with least/greatest canonicalization
    * and edge weight = corpus pair count. TWO weighted power
    * iterations in FIXED-POINT arithmetic: from WS⁰ = 10⁶ units,
    * each node pushes (WS_u·w_uv) DIV strength_u per edge (integer
    * division — exact, order-independent sums) and
    * WS' = 150000 + (17·Σinflow) DIV 20 (d = 0.85 as the exact
    * rational 17/20), so both engines land on identical longs with no
    * normalization float anywhere. Bound: inflow ≤ deg_v·WS_max —
    * ≤ ~2⁵⁰ even at a 10⁶-type vocabulary with hub degrees 10⁴.
    * Distributed shape: everything after the bigram table is
    * vocabulary-bounded (Heaps law) — two edge-join + aggregate
    * rounds, the same shape a converged TextRank repeats; top-20
    * under a (score, word) total order. */
  def qTextrank(s: SparkSession, d: String): DataFrame = {
    val und = docBigrams(s, d)
      .filter(length(col("w1")) >= 4 && length(col("w2")) >= 4 &&
        col("w1") =!= col("w2"))
      .select(least(col("w1"), col("w2")).as("a"),
        greatest(col("w1"), col("w2")).as("b"), col("cnt"))
      .groupBy("a", "b").agg(sum("cnt").as("w"))
    // the symmetric edge list and the strength table are each
    // referenced by BOTH sweeps and the final join; without the
    // checkpoints Catalyst re-inlines the whole upstream bigram
    // aggregate per reference (12 staged-parquet passes measured).
    // Materialize each ONCE: the 2× fan-out is a map-side explode
    // (not a union of two subtree copies), and the vocabulary-bounded
    // strength/ws tables ride broadcast joins so each sweep's only
    // exchange is its inflow aggregate.
    val edges = und.select(explode(array(
        struct(col("a").as("u"), col("b").as("v"), col("w")),
        struct(col("b").as("u"), col("a").as("v"), col("w")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("e.w").as("w"))
      .localCheckpoint(true)
    val strength = edges.groupBy("u").agg(sum("w").as("s_u"),
      count(lit(1)).as("deg"))
      .localCheckpoint(true)
    def sweep(ws: DataFrame): DataFrame =
      edges.join(broadcast(strength.select("u", "s_u")), "u")
        .join(broadcast(ws.select(col("word").as("u"), col("ws"))), "u")
        .withColumn("contrib", expr("(ws * w) DIV s_u"))
        .groupBy("v")
        .agg(sum("contrib").as("inflow"))
        .select(col("v").as("word"),
          (lit(150000L) + expr("(17 * inflow) DIV 20")).as("ws"))
    val ws0 = strength.select(col("u").as("word"), lit(1000000L).as("ws"))
    val ws2 = sweep(sweep(ws0))
    ws2.join(broadcast(strength.select(col("u").as("word"), col("s_u"),
        col("deg"))), "word")
      .select(col("word"), col("deg"), col("s_u").as("strength"),
        col("ws").as("textrank_u"),
        (col("ws").cast("double") / 1e6).as("textrank"))
      .orderBy(col("ws").desc, col("word"))
      .limit(20)
  }

  /** DuckDB oracle for [[qTextrank]]: rebuilds the symmetric
    * co-occurrence graph from token arrays and replays both
    * fixed-point sweeps with the identical integer divisions. */
  val textrankOracleSql: String =
    """WITH tok AS (SELECT regexp_split_to_array(trim(text), '\s+') AS ts
      |             FROM documents WHERE len(trim(text)) > 0),
      |bp AS (SELECT ts[i] AS w1, ts[i+1] AS w2
      |       FROM tok, UNNEST(range(1, len(ts))) AS t(i)
      |       WHERE len(ts[i]) >= 4 AND len(ts[i+1]) >= 4
      |         AND ts[i] <> ts[i+1]),
      |und AS (SELECT LEAST(w1, w2) AS a, GREATEST(w1, w2) AS b,
      |               CAST(COUNT(*) AS BIGINT) AS w
      |        FROM bp GROUP BY 1, 2),
      |e AS (SELECT a AS u, b AS v, w FROM und
      |      UNION ALL SELECT b AS u, a AS v, w FROM und),
      |st AS (SELECT u, CAST(SUM(w) AS BIGINT) AS s_u,
      |              CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY 1),
      |i1 AS (SELECT e.v AS word,
      |              150000 + (17 * SUM((1000000 * e.w) // st.s_u)) // 20 AS ws
      |       FROM e JOIN st ON st.u = e.u GROUP BY e.v),
      |i2 AS (SELECT e.v AS word,
      |              150000 + (17 * SUM((i1.ws * e.w) // st.s_u)) // 20 AS ws
      |       FROM e JOIN st ON st.u = e.u JOIN i1 ON i1.word = e.u
      |       GROUP BY e.v)
      |SELECT i2.word, st.deg, st.s_u AS strength,
      |       CAST(i2.ws AS BIGINT) AS textrank_u,
      |       CAST(i2.ws AS DOUBLE) / 1e6 AS textrank
      |FROM i2 JOIN st ON st.u = i2.word
      |ORDER BY i2.ws DESC, i2.word LIMIT 20""".stripMargin
}
