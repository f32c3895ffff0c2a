package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Shared deterministic minhash coefficient family — the single source
  * of truth for h_i(x) = (a_i·x + b_i) mod P (P = 2^31−1). The seed is
  * fixed so signatures are reproducible across runs, sessions, and
  * engines (TextOps.hashCoeffs delegates here).
  */
object MinHashFamily {
  val Prime: Long = 2147483647L

  def coeffs(n: Int, seed: Long = 42L): Array[(Long, Long)] = {
    val rng = new scala.util.Random(seed)
    Array.fill(n)((1L + rng.nextInt(Int.MaxValue - 1).toLong,
                   rng.nextInt(Int.MaxValue).toLong))
  }

  // tiny per-JVM memo: expressions resolve coeffs per-partition; the
  // family for a given (n, seed) is immutable so sharing is safe
  private val memo = new java.util.concurrent.ConcurrentHashMap[(Int, Long), (Array[Long], Array[Long])]()
  def coeffArrays(n: Int, seed: Long = 42L): (Array[Long], Array[Long]) =
    memo.computeIfAbsent((n, seed), { key =>
      val cs = coeffs(key._1, key._2)
      (cs.map(_._1), cs.map(_._2))
    })

  /** One pass over the shingle-hash set: maintain nHashes running
    * minima, then polynomial-combine each band of nHashes/bands minima
    * into one long bucket hash. Called from generated code (static
    * forwarder), so the hot loop is JIT-compiled Scala while the
    * surrounding stage stays inside whole-stage codegen. */
  def bandsOf(sh: ArrayData, nHashes: Int, bands: Int): ArrayData = {
    val (as, bs) = coeffArrays(nHashes)
    val mins = new Array[Long](nHashes)
    java.util.Arrays.fill(mins, Prime)
    val n = sh.numElements()
    var i = 0
    while (i < n) {
      val x = sh.getLong(i)
      var j = 0
      while (j < nHashes) {
        val v = (x * as(j) + bs(j)) % Prime
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    val r = nHashes / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = 1125899906842597L
      var j = b * r
      val end = j + r
      while (j < end) { h = h * 31 + mins(j); j += 1 }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }
}

/** LSH band hashes of a shingle-hash set, fused into ONE expression:
  * array<long> in (positive shingle hashes mod P), array<long> out
  * (one bucket hash per band).
  *
  * Why native (custom-operator ladder option (b)): the HOF
  * formulation — n independent `aggregate()` folds for the signature,
  * then string-join + xxhash64 per band — walks the shingle array n
  * times through interpreted lambdas and allocates per band. This is
  * the per-DOCUMENT inner loop of every LSH dedup operator; one fused
  * pass with primitive arrays keeps it O(|shingles|·n) multiply-mods
  * with zero interpreted dispatch, inside whole-stage codegen.
  */
case class MinHashBands(child: Expression, nHashes: Int, bands: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) if nHashes > 0 && bands > 0 && nHashes % bands == 0 =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(LongType, _) =>
      TypeCheckResult.TypeCheckFailure(
        s"graft_minhash_bands requires nHashes divisible by bands, got ($nHashes, $bands)")
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"graft_minhash_bands requires array<bigint> input, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_minhash_bands"

  override def nullSafeEval(a: Any): Any =
    MinHashFamily.bandsOf(a.asInstanceOf[ArrayData], nHashes, bands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expressions.MinHashFamily.bandsOf($a, $nHashes, $bands);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleOps {
  import MinHashFamily.Prime

  /** Sorted distinct k-shingle hashes of a token array in one pass.
    * Matches the HOF formulation exactly: token hash = xxhash64(token,
    * seed 42) mod P (positive); shingle hash = polynomial combine of k
    * consecutive token hashes (×1000003 mod P, missing tail tokens
    * contribute 0); result sorted ascending, duplicates dropped. */
  def shingles(toks: ArrayData, k: Int): ArrayData = {
    val n = toks.numElements()
    if (n == 0) return new GenericArrayData(Array.emptyLongArray)
    val th = new Array[Long](n)
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      val h = if (t == null) 42L
      else XXH64.hashUnsafeBytes(t.getBaseObject, t.getBaseOffset, t.numBytes(), 42L)
      th(i) = ((h % Prime) + Prime) % Prime
      i += 1
    }
    val len = math.max(n - (k - 1), 1)
    val out = new Array[Long](len)
    i = 0
    while (i < out.length) {
      var acc = th(i)
      var j = 1
      while (j < k) {
        val v = if (i + j < n) th(i + j) else 0L
        acc = (acc * 1000003L + v) % Prime
        j += 1
      }
      out(i) = acc
      i += 1
    }
    java.util.Arrays.sort(out)
    // in-place dedupe of the sorted run
    var w = 0
    i = 0
    while (i < out.length) {
      if (w == 0 || out(i) != out(w - 1)) { out(w) = out(i); w += 1 }
      i += 1
    }
    new GenericArrayData(if (w == out.length) out else java.util.Arrays.copyOf(out, w))
  }
}

/** Sorted distinct k-word shingle hashes (array<string> → array<long>),
  * fused: token-hash, polynomial k-combine, sort, dedupe in one native
  * pass. The HOF chain (transform + k−1 zip_withs + array_distinct +
  * array_sort) allocates an intermediate array per step and runs each
  * element through interpreted lambdas — this is the first stage of
  * every LSH dedup operator, so it runs once per document in the
  * corpus. Output is sorted ascending, ready for graft_jaccard_sorted. */
case class ShingleHashes(child: Expression, k: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if k >= 1 => TypeCheckResult.TypeCheckSuccess
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckFailure(
      s"graft_shingle_hashes requires k >= 1, got $k")
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_shingle_hashes requires array<string> input, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_shingle_hashes"

  override def nullSafeEval(a: Any): Any =
    ShingleOps.shingles(a.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expressions.ShingleOps.shingles($a, $k);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHashOps {
  /** 64-bit SimHash of a token array in one pass: each token's
    * xxhash64 (seed 42, matching Spark's xxhash64 function) votes ±1
    * on 64 bit-position counters; fingerprint bit i is counter i's
    * sign. Replaces explode + 64-way sum aggregation — same
    * fingerprints, no shuffle at all. */
  def simhash64(toks: ArrayData): Long = {
    val counters = new Array[Int](64)
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      if (t != null) {
        val h = XXH64.hashUnsafeBytes(t.getBaseObject, t.getBaseOffset, t.numBytes(), 42L)
        var bit = 0
        while (bit < 64) {
          if (((h >>> bit) & 1L) == 1L) counters(bit) += 1 else counters(bit) -= 1
          bit += 1
        }
      }
      i += 1
    }
    var fp = 0L
    var bit = 0
    while (bit < 64) {
      if (counters(bit) > 0) fp |= (1L << bit)
      bit += 1
    }
    fp
  }
}

object NgramOps {
  import org.apache.spark.unsafe.types.UTF8String

  /** All n-char substrings of a string in one pass. Byte offsets of
    * every code point are computed once, so the whole call is O(bytes)
    * instead of the O(len²) that per-gram UTF8String.substring scans
    * (or interpreted transform(sequence(...)) lambdas) would cost. */
  def charNgrams(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes
    // char-start byte offsets (UTF-8 aware; ASCII corpus = identity)
    var count = 0
    var off = 0
    while (off < bytes.length) {
      off += UTF8String.numBytesForFirstByte(bytes(off))
      count += 1
    }
    if (count < n) return new GenericArrayData(Array.empty[Any])
    val starts = new Array[Int](count + 1)
    off = 0
    var i = 0
    while (off < bytes.length) {
      starts(i) = off
      off += UTF8String.numBytesForFirstByte(bytes(off))
      i += 1
    }
    starts(count) = bytes.length
    val out = new Array[Any](count - n + 1)
    i = 0
    while (i < out.length) {
      out(i) = UTF8String.fromBytes(bytes, starts(i), starts(i + n) - starts(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** All n-token word grams (space-joined) of a token array in one
    * pass — replaces the zip_with(slice, slice, concat_ws) chain whose
    * interpreted lambda runs once per token. */
  def wordNgrams(toks: ArrayData, n: Int): ArrayData = {
    val len = toks.numElements()
    if (len < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](len - n + 1)
    val space = UTF8String.fromString(" ")
    var i = 0
    while (i < out.length) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) {
        val t = toks.getUTF8String(i + j)
        parts(j) = if (t == null) UTF8String.EMPTY_UTF8 else t
        j += 1
      }
      out(i) = UTF8String.concatWs(space, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** All n-char substrings of a string (string → array<string>) — the
  * per-document inner loop of character-ngram features. */
case class CharNgrams(child: Expression, n: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if n >= 1 => TypeCheckResult.TypeCheckSuccess
    case StringType => TypeCheckResult.TypeCheckFailure(
      s"graft_char_ngrams requires n >= 1, got $n")
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_char_ngrams requires string input, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "graft_char_ngrams"

  override def nullSafeEval(a: Any): Any =
    NgramOps.charNgrams(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expressions.NgramOps.charNgrams($a, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** All n-token space-joined word grams (array<string> → array<string>). */
case class WordNgrams(child: Expression, n: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if n >= 1 => TypeCheckResult.TypeCheckSuccess
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckFailure(
      s"graft_word_ngrams requires n >= 1, got $n")
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_word_ngrams requires array<string> input, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "graft_word_ngrams"

  override def nullSafeEval(a: Any): Any =
    NgramOps.wordNgrams(a.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expressions.NgramOps.wordNgrams($a, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 64-bit SimHash fingerprint of a token array (array<string> → long).
  * Native so the per-document work is one tight loop — the previous
  * formulation exploded tokens and ran a 64-measure sum aggregation,
  * paying a full shuffle of |corpus|·|tokens| rows for what is a
  * purely document-local computation. */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_simhash64 requires array<string> input, got ${other.simpleString}")
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_simhash64"

  override def nullSafeEval(a: Any): Any =
    SimHashOps.simhash64(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expressions.SimHashOps.simhash64($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** MD5-family 56-bit SimHash fingerprint of a token array in one
  * native pass (array<string> → long): per token, the first 14 hex
  * nibbles of md5(token) as a 56-bit long — exactly
  * `CAST(conv(substring(md5(w), 1, 14), 16, 10) AS BIGINT)` — then
  * the bit-majority fold: bit b of the fingerprint is set iff
  * 2 * |{tokens with bit b set}| >= |tokens| (ties and the empty
  * array set the bit, matching the HOF form's `0 >= 0`). Replaces a
  * per-token md5+conv Catalyst pipeline plus 56 whole-array
  * `size(filter(...))` passes per document with one md5 and one
  * 56-bit count loop per token — the hash math is bit-identical, so
  * the DuckDB oracle replays it unchanged (same md5-twin pattern as
  * [[Md5MinHashOps]]). */
object Md5SimHash56Ops {
  private val digests: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  def fingerprint(tokens: ArrayData): Long = {
    val n = tokens.numElements()
    val counts = new Array[Int](56)
    val md = digests.get()
    var i = 0
    while (i < n) {
      // a null token votes no bit but still counts in n: the HOF form's
      // filter drops its null hash while size counts it
      if (!tokens.isNullAt(i)) {
        md.reset()
        md.update(tokens.getUTF8String(i).getBytes)
        val d = md.digest()
        // first 14 hex nibbles of the digest as a 56-bit long
        var v = 0L; var k = 0
        while (k < 14) {
          val b = d(k >> 1) & 0xFF
          v = (v << 4) | (if ((k & 1) == 0) b >>> 4 else b & 0xF).toLong
          k += 1
        }
        var b = 0
        while (b < 56) { counts(b) += ((v >>> b) & 1L).toInt; b += 1 }
      }
      i += 1
    }
    var fp = 0L; var b = 0
    while (b < 56) { if (2 * counts(b) >= n) fp |= (1L << b); b += 1 }
    fp
  }
}

/** See [[Md5SimHash56Ops.fingerprint]]. */
case class Md5SimHash56(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_md5_simhash56 requires array<string> input, got ${other.simpleString}")
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_md5_simhash56"

  override def nullSafeEval(a: Any): Any =
    Md5SimHash56Ops.fingerprint(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expressions.Md5SimHash56Ops.fingerprint($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** MD5-family MinHash signature of a distinct-shingle array in one
  * native pass (array<string> → array<long>, 8 values): for each
  * shingle, 4 MD5 digests of "g:shingle" (g ∈ 0..3) yield two 60-bit
  * permutation values each (hex nibbles 0-14 and 15-29 — exactly
  * `conv(substr(md5(…), 1|16, 15), 16, 10)`), and the per-document
  * minimum of each of the 8 streams is the signature. Replaces
  * explode + 4 md5 Catalyst calls + 8 conv parses + a groupBy
  * shuffle with one tight loop per document — the hash math is
  * bit-identical, so the DuckDB oracle replays it unchanged. */
object Md5MinHashOps {
  private val digests: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))
  private val prefixes: Array[Array[Byte]] =
    Array.tabulate(4)(g => s"$g:".getBytes("UTF-8"))

  def signature(shingles: ArrayData): ArrayData = {
    val n = shingles.numElements()
    val mins = Array.fill(8)(Long.MaxValue)
    val md = digests.get()
    var i = 0
    while (i < n) {
      val sh = shingles.getUTF8String(i).getBytes
      var g = 0
      while (g < 4) {
        md.reset()
        md.update(prefixes(g))
        md.update(sh)
        val d = md.digest()
        // nibbles 0..14 and 15..29 of the hex rendering, as 60-bit longs
        var v1 = 0L; var k = 0
        while (k < 15) { v1 = (v1 << 4) | nibble(d, k); k += 1 }
        var v2 = 0L
        while (k < 30) { v2 = (v2 << 4) | nibble(d, k); k += 1 }
        if (v1 < mins(2 * g)) mins(2 * g) = v1
        if (v2 < mins(2 * g + 1)) mins(2 * g + 1) = v2
        g += 1
      }
      i += 1
    }
    if (n == 0) new GenericArrayData(Array.empty[Any])
    else new GenericArrayData(mins.map(v => v: Any))
  }

  @inline private def nibble(d: Array[Byte], k: Int): Long = {
    val b = d(k >> 1) & 0xFF
    (if ((k & 1) == 0) b >>> 4 else b & 0xF).toLong
  }
}

/** See [[Md5MinHashOps.signature]]. */
case class Md5MinHash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_md5_minhash requires array<string> input, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_md5_minhash"

  override def nullSafeEval(a: Any): Any =
    Md5MinHashOps.signature(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expressions.Md5MinHashOps.signature($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** fastText-style hashed linear scoring, one native pass per document
  * (array<string> tokens → [n_feats, score_sum]): every unigram and
  * adjacent word-bigram hashes straight to its weight
  * w = md5_60bit(feature) mod 2001 − 1000 (the hashing trick — no
  * vocabulary table at any corpus size), summed map-side. The hash
  * math is bit-identical to `('0x'||substr(md5(f),1,15))::BIGINT %
  * 2001 - 1000`, so the DuckDB oracle replays it; replacing the
  * explode + per-feature md5/conv + groupBy shuffle with this single
  * expression removes the classifier's ONLY shuffle (measured 7.0 s →
  * sub-second at sf0.1). Bigram digests stream token1, ' ', token2
  * through one MD5 — byte-identical to hashing the concatenation,
  * without building the pair string. */
object Md5LinearScoreOps {
  private val digests: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))
  private val space = Array(' '.toByte)

  def score(tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    val md = digests.get()
    var sum = 0L
    var i = 0
    while (i < n) {
      md.reset()
      md.update(tokens.getUTF8String(i).getBytes)
      sum += weight(md.digest())
      i += 1
    }
    i = 0
    while (i < n - 1) {
      md.reset()
      md.update(tokens.getUTF8String(i).getBytes)
      md.update(space)
      md.update(tokens.getUTF8String(i + 1).getBytes)
      sum += weight(md.digest())
      i += 1
    }
    val nFeats = if (n >= 2) 2L * n - 1 else n.toLong
    new GenericArrayData(Array[Any](nFeats, sum))
  }

  /** First 15 hex nibbles of the digest as a 60-bit long, mapped to
    * [-1000, 1000] — the operand is non-negative, so `%` agrees
    * between JVM and SQL engines. */
  @inline private def weight(d: Array[Byte]): Long = {
    var v = 0L; var k = 0
    while (k < 15) {
      val b = d(k >> 1) & 0xFF
      v = (v << 4) | (if ((k & 1) == 0) b >>> 4 else b & 0xF)
      k += 1
    }
    v % 2001 - 1000
  }
}

/** See [[Md5LinearScoreOps.score]]. */
case class Md5LinearScore(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_md5_linear_score requires array<string> input, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_md5_linear_score"

  override def nullSafeEval(a: Any): Any =
    Md5LinearScoreOps.score(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expressions.Md5LinearScoreOps.score($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Bounded edit distance k=1 as a LINEAR scan (string × string → int:
  * 0 exact, 1 one edit, -1 beyond): distance ≤ 1 needs no DP — skip
  * the common prefix and suffix; what remains is empty (0), one char
  * vs one char (substitution), or ε vs one char (indel). Replaces the
  * banded-DP levenshtein(l, r, 1) builtin on the fuzzy-join hot path
  * (measured ~2× at sf0.1, 6× vs unbounded levenshtein).
  *
  * Scope: edits are counted in UTF-16 units, so BMP text (property-
  * tested incl. 2/3-byte UTF-8) matches codepoint-based levenshtein
  * exactly; a single ASTRAL-plane character edit spans 2 units and
  * reports -1 where a codepoint metric says 1 — acceptable for the
  * blocking use (a stricter filter never admits a false pair). */
object EditOps {
  def withinEdit1(a: org.apache.spark.unsafe.types.UTF8String,
                  b: org.apache.spark.unsafe.types.UTF8String): Int = {
    if (a.equals(b)) return 0
    val x = a.toString; val y = b.toString
    val nx = x.length; val ny = y.length
    if (math.abs(nx - ny) > 1) return -1
    var i = 0
    val minLen = math.min(nx, ny)
    while (i < minLen && x.charAt(i) == y.charAt(i)) i += 1
    var jx = nx - 1; var jy = ny - 1
    while (jx >= i && jy >= i && x.charAt(jx) == y.charAt(jy)) { jx -= 1; jy -= 1 }
    // mismatched middle spans: [i..jx] in x, [i..jy] in y
    val mx = jx - i + 1; val my = jy - i + 1
    if (mx <= 0 && my <= 0) 0
    else if (mx <= 1 && my <= 1) 1
    else -1
  }
}

/** See [[EditOps.withinEdit1]]. */
case class WithinEdit1(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_within_edit1 requires string inputs, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType

  override def prettyName: String = "graft_within_edit1"

  override def nullSafeEval(a: Any, b: Any): Any =
    EditOps.withinEdit1(
      a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expressions.EditOps.withinEdit1($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Jaro-Winkler string similarity as a NATIVE codegen'd expression —
  * Spark has levenshtein but no Jaro family; a Scala UDF would box
  * both strings and break whole-stage codegen on the pair-scoring hot
  * path. Semantics match the standard definition (and DuckDB 1.0's
  * `jaro_winkler_similarity`, which oracles q_jaro_winkler):
  * match window floor(max(|a|,|b|)/2)−1, transpositions = half the
  * out-of-order matched positions, Winkler prefix boost (≤4 chars,
  * p=0.1) applied only when jaro > 0.7, and the RapidFuzz edge rule
  * that ANY empty side scores 0 (including empty vs empty). */
object JaroOps {
  def jaroWinkler(a: org.apache.spark.unsafe.types.UTF8String,
                  b: org.apache.spark.unsafe.types.UTF8String): Double = {
    val x = a.toString; val y = b.toString
    val n1 = x.length; val n2 = y.length
    if (n1 == 0 || n2 == 0) return 0.0
    if (x == y) return 1.0
    val window = math.max(0, math.max(n1, n2) / 2 - 1)
    val m1 = new Array[Boolean](n1)
    val m2 = new Array[Boolean](n2)
    var m = 0
    var i = 0
    while (i < n1) {
      val lo = math.max(0, i - window)
      val hi = math.min(n2 - 1, i + window)
      var j = lo
      var done = false
      while (j <= hi && !done) {
        if (!m2(j) && x.charAt(i) == y.charAt(j)) {
          m1(i) = true; m2(j) = true; m += 1; done = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    // transpositions: matched chars of x vs matched chars of y, in order
    var t2 = 0 // twice the transposition count (out-of-order positions)
    var j = 0
    i = 0
    while (i < n1) {
      if (m1(i)) {
        while (!m2(j)) j += 1
        if (x.charAt(i) != y.charAt(j)) t2 += 1
        j += 1
      }
      i += 1
    }
    val t = t2 / 2.0
    val jaro = (m.toDouble / n1 + m.toDouble / n2 + (m - t) / m) / 3.0
    if (jaro <= 0.7) return jaro
    var p = 0
    val maxP = math.min(4, math.min(n1, n2))
    while (p < maxP && x.charAt(p) == y.charAt(p)) p += 1
    jaro + 0.1 * p * (1.0 - jaro)
  }
}

/** See [[JaroOps.jaroWinkler]]. */
case class JaroWinkler(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_jaro_winkler requires string inputs, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")

  override def dataType: DataType = org.apache.spark.sql.types.DoubleType

  override def prettyName: String = "graft_jaro_winkler"

  override def nullSafeEval(a: Any, b: Any): Any =
    JaroOps.jaroWinkler(
      a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expressions.JaroOps.jaroWinkler($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Aho–Corasick multi-pattern automaton over UTF-8 bytes — the
  * blocklist/PII dictionary scan of a curation pipeline done the way
  * it must be done at 100 TB: ONE pass over each document regardless
  * of dictionary size, instead of |dict| contains()/LIKE passes (the
  * naive plan re-reads every corpus byte once per term). Classic
  * construction (Aho & Corasick 1975): byte trie, BFS failure links,
  * output links merging suffix matches; the automaton reports EVERY
  * occurrence (including overlaps across patterns). Automata are
  * memoized per pattern-set so each executor builds one per JVM, not
  * one per row. */
object MultiPatternOps {
  final class Automaton(patterns: Array[Array[Byte]], val nPatterns: Int) {
    private val nexts = scala.collection.mutable.ArrayBuffer(
      new java.util.HashMap[Byte, Integer]())
    private val fail = scala.collection.mutable.ArrayBuffer(0)
    private val out = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.ArrayBuffer.empty[Int])

    { // goto function: byte trie
      var p = 0
      while (p < patterns.length) {
        var st = 0
        val pat = patterns(p)
        var i = 0
        while (i < pat.length) {
          val nx = nexts(st).get(pat(i))
          if (nx == null) {
            nexts += new java.util.HashMap[Byte, Integer]()
            fail += 0
            out += scala.collection.mutable.ArrayBuffer.empty[Int]
            nexts(st).put(pat(i), nexts.length - 1)
            st = nexts.length - 1
          } else st = nx
          i += 1
        }
        out(st) += p
        p += 1
      }
      // failure links by BFS; output links merge suffix matches
      val q = new java.util.ArrayDeque[Integer]()
      nexts(0).forEach { (_, v) => fail(v) = 0; q.add(v) }
      while (!q.isEmpty) {
        val u = q.poll().intValue()
        nexts(u).forEach { (b, v) =>
          q.add(v)
          var f = fail(u)
          while (f != 0 && nexts(f).get(b) == null) f = fail(f)
          val nf = nexts(f).get(b)
          fail(v) = if (nf != null && nf != v) nf.intValue() else 0
          out(v) ++= out(fail(v))
        }
      }
    }

    /** One pass over the text; per-pattern occurrence counts. */
    def countAll(bytes: Array[Byte]): Array[Long] = {
      val counts = new Array[Long](nPatterns)
      var st = 0
      var i = 0
      while (i < bytes.length) {
        val b = bytes(i)
        var nx = nexts(st).get(b)
        while (nx == null && st != 0) { st = fail(st); nx = nexts(st).get(b) }
        st = if (nx == null) 0 else nx.intValue()
        val o = out(st)
        var j = 0
        while (j < o.length) { counts(o(j)) += 1; j += 1 }
        i += 1
      }
      counts
    }
  }

  private val memo =
    new java.util.concurrent.ConcurrentHashMap[String, Automaton]()

  /** Key = patterns joined on a single space (dictionary terms are
    * space-free by contract, enforced by the expression). */
  def automaton(key: String): Automaton =
    memo.computeIfAbsent(key, { k =>
      val pats = k.split(' ').map(_.getBytes("UTF-8"))
      new Automaton(pats, pats.length)
    })

  def countAll(text: org.apache.spark.unsafe.types.UTF8String,
               key: String): ArrayData =
    new GenericArrayData(
      automaton(key).countAll(text.getBytes).map(v => v: Any))
}

/** See [[MultiPatternOps]]: string → array<long> of per-pattern
  * occurrence counts in one automaton pass. */
case class MultiPatternCounts(child: Expression, patterns: Seq[String])
    extends UnaryExpression {
  require(patterns.nonEmpty && patterns.forall(p => p.nonEmpty && !p.contains(' ')),
    "graft_multi_pattern_counts: patterns must be non-empty and space-free")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_multi_pattern_counts requires string input, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_multi_pattern_counts"

  private lazy val key: String = patterns.mkString(" ")

  override def nullSafeEval(a: Any): Any =
    MultiPatternOps.countAll(
      a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], key)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val keyRef = ctx.addReferenceObj("acKey", key, "java.lang.String")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expressions.MultiPatternOps.countAll($a, $keyRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
