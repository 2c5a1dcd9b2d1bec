package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused single-pass kernels for the text-signature pipelines (round-6
  * optimization; guide §1.2 step 2 / §4 "prefer codegen expressions").
  *
  * The original formulations (`TextQueries`) build signatures through
  * higher-order functions (`transform` / `aggregate` / `slice` lambdas)
  * or through explode→groupBy pipelines. Both are correct, but:
  *   - every lambda element is an interpreted `Expression.eval` call
  *     (higher-order functions are CodegenFallback in Spark), and
  *   - explode→groupBy materializes and SHUFFLES one row per
  *     token/shingle only to fold them straight back to one row per
  *     document — at corpus scale that shuffle is the whole job.
  *
  * Each kernel here computes a document's complete signature in one
  * primitive loop over its (builtin-`split`) token array, inside
  * whole-stage codegen, emitting exactly what the original aggregation
  * produced — bit-for-bit (TextKernelsSpec pins kernel ≡ the original
  * formulation on generated + edge-case corpora):
  *
  *   - [[minhashXx]] / [[minhashMd5]]: 16 min-hash signatures
  *     over 3-token shingles (min over shingles of
  *     xxhash64(shingle+"#i") / lexicographic-min md5 hex).
  *   - [[simhashXx]] / [[simhashMd5]]: 64-bit (xxhash64 token votes) /
  *     60-bit (md5 hex-digit votes) SimHash.
  *   - [[winnowXx]] / [[winnowMd5]]: Schleimer winnowing — 5-gram
  *     hashes, min per 4-window, first-occurrence-distinct.
  *   - [[normalizeAscii]]: the dedup-norm scrub (non-[a-z0-9] → space,
  *     collapse runs, trim) as one byte scan over an ALREADY-LOWERCASED
  *     string — replaces two regex passes. Byte-level equivalence: a
  *     multi-byte code point's bytes each map to a pending space, which
  *     the collapse merges exactly like the regex's one-space-per-code-
  *     point followed by `' +' → ' '`.
  *
  * [[TextKernels2]] builds the columns: each is Spark's `StaticInvoke`
  * of one of these bodies, so interpreted eval and generated code run
  * the same method and the call stays inside whole-stage codegen.
  *
  * Null contract (matches what the original pipelines did): null input
  * → null; a null ELEMENT inside a token array → null result (split()
  * never produces null elements — LOUD null over silently-wrong
  * signature, same stance as [[DotMatrix]]).
  */
object TextKernels {

  private val Seed = 42L // spark.sql.functions.xxhash64's fixed seed

  private def xx(s: String, seed: Long): Long =
    XxHash64Function.hash(UTF8String.fromString(s), StringType, seed)

  // MD5 without a fresh MessageDigest per call (DigestUtils.md5Hex
  // allocates one per invocation — at 16 sigs × shingle that allocation
  // IS the kernel): thread-local digest + direct lowercase-hex encode,
  // byte-identical output to Spark's md5() builtin (spec-pinned).
  private val mdTl: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))
  private val HexChars = "0123456789abcdef".toCharArray

  private def hex32(dig: Array[Byte]): String = {
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HexChars((dig(i) >> 4) & 0xf)
      out(2 * i + 1) = HexChars(dig(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  private def md5hex(s: String): String = {
    val md = mdTl.get()
    md.reset()
    hex32(md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
  }

  /** md5 hex of (prefix bytes ++ suffix bytes) without re-encoding or
    * concatenating strings — the 16-sig loops hash one shingle under 16
    * tiny suffixes. */
  private def md5hex2(prefix: Array[Byte], suffix: Array[Byte]): String = {
    val md = mdTl.get()
    md.reset()
    md.update(prefix)
    md.update(suffix)
    hex32(md.digest())
  }

  /** Tokens of `arr` as strings; null when the array itself contains a
    * null element (the kernels' LOUD-null contract). */
  private def toks(arr: ArrayData): Array[String] = {
    val n = arr.numElements()
    val out = new Array[String](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      out(i) = arr.getUTF8String(i).toString
      i += 1
    }
    out
  }

  private def shingle(t: Array[String], i: Int): String = {
    val sb = new java.lang.StringBuilder(
      t(i).length + t(i + 1).length + t(i + 2).length + 2)
    sb.append(t(i)).append(' ').append(t(i + 1)).append(' ').append(t(i + 2))
    sb.toString
  }

  private def gram5(t: Array[String], i: Int): String = {
    val sb = new java.lang.StringBuilder(t(i).length + t(i + 1).length +
      t(i + 2).length + t(i + 3).length + t(i + 4).length + 4)
    sb.append(t(i)).append(' ').append(t(i + 1)).append(' ').append(t(i + 2))
      .append(' ').append(t(i + 3)).append(' ').append(t(i + 4))
    sb.toString
  }

  /** min over 3-shingles of xxhash64(shingle + "#i"), i = 0..nSigs-1 —
    * ≡ `groupBy(doc).agg(min(xxhash64(concat(sh, lit("#i")))))` over the
    * exploded (distinct) shingles: min is duplicate-insensitive, so the
    * array_distinct in the original only pruned work. Null when the doc
    * has < 3 tokens (callers filter `size(toks) >= 3` exactly as the
    * original pipeline did). */
  def minhashXx(arr: ArrayData, nSigs: Int): ArrayData = {
    val t = toks(arr)
    if (t == null || t.length < 3) return null
    val mins = new Array[Long](nSigs)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i <= t.length - 3) {
      // hash (shingle ++ "#j") from bytes — one UTF-8 encode per
      // shingle, no 16 string concats (xxhash64 of a string is the hash
      // of its UTF-8 bytes, so byte-splicing ≡ the builtin on concat)
      val shBytes = shingle(t, i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var j = 0
      while (j < nSigs) {
        val suf = SigSuffix(j)
        val buf = java.util.Arrays.copyOf(shBytes, shBytes.length + suf.length)
        System.arraycopy(suf, 0, buf, shBytes.length, suf.length)
        val h = XxHash64Function.hash(UTF8String.fromBytes(buf), StringType, Seed)
        if (h < mins(j)) mins(j) = h
        j += 1
      }
      i += 1
    }
    ArrayData.toArrayData(mins)
  }

  /** "#j" suffix bytes for the sig loops, precomputed (ASCII). */
  private val SigSuffix: Array[Array[Byte]] =
    (0 until 64).map(j => ("#" + j).getBytes(
      java.nio.charset.StandardCharsets.UTF_8)).toArray

  /** Lexicographic-min md5-hex variant (≡ min over md5(sh || "#i") hex
    * strings; hex is ASCII so String ordering ≡ UTF8String binary
    * ordering ≡ SQL string min). */
  def minhashMd5(arr: ArrayData, nSigs: Int): ArrayData = {
    val t = toks(arr)
    if (t == null || t.length < 3) return null
    val mins = new Array[String](nSigs)
    var i = 0
    while (i <= t.length - 3) {
      val shBytes = shingle(t, i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var j = 0
      while (j < nSigs) {
        val h = md5hex2(shBytes, SigSuffix(j))
        if (mins(j) == null || h.compareTo(mins(j)) < 0) mins(j) = h
        j += 1
      }
      i += 1
    }
    val out = new Array[AnyRef](nSigs)
    var j = 0
    while (j < nSigs) { out(j) = UTF8String.fromString(mins(j)); j += 1 }
    new GenericArrayData(out)
  }

  /** 64-bit SimHash from per-token xxhash64 bit votes — ≡ the exploded
    * `sum(when(bit==1, 1).otherwise(-1))` per bit, then `sum > 0` sets
    * the bit. Empty token array → 0 votes everywhere → simhash 0, the
    * same row the original emitted for a doc whose split produced only
    * tokens hashing to all-negative votes... (empty arrays cannot occur
    * from split(); pinned in spec). */
  def simhashXx(arr: ArrayData): java.lang.Long = {
    val t = toks(arr)
    if (t == null) return null
    val votes = new Array[Int](64)
    var i = 0
    while (i < t.length) {
      val h = xx(t(i), Seed)
      var b = 0
      while (b < 64) {
        if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var sim = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) sim |= (1L << b); b += 1 }
    sim
  }

  /** 60-bit md5 SimHash: bit (15-p)*4+k votes by bit k of hex digit p
    * (1-based) of md5(token)'s first 15 hex chars — exactly the
    * conv/substring formulation in [[graft.queries.TextQueries.simhashMd5]]. */
  def simhashMd5(arr: ArrayData): java.lang.Long = {
    val t = toks(arr)
    if (t == null) return null
    val votes = new Array[Int](60)
    var i = 0
    while (i < t.length) {
      val hx = md5hex(t(i))
      var p = 1
      while (p <= 15) {
        val d = Character.digit(hx.charAt(p - 1), 16)
        var k = 0
        while (k < 4) {
          val b = (15 - p) * 4 + k
          if (((d >> k) & 1) == 1) votes(b) += 1 else votes(b) -= 1
          k += 1
        }
        p += 1
      }
      i += 1
    }
    var sim = 0L
    var b = 0
    while (b < 60) { if (votes(b) > 0) sim |= (1L << b); b += 1 }
    sim
  }

  /** Winnowing over 5-gram hashes: window i (i = 0..max(nGrams-4, 0))
    * takes the min of grams[i .. min(i+3, nGrams-1)] — the exact
    * `transform(sequence(0, greatest(size-4, 0)), i -> array_min(
    * slice(grams, i+1, 4)))` clipping — then first-occurrence distinct
    * (array_distinct order). Null when < 5 tokens (callers filter). */
  def winnowXx(arr: ArrayData): ArrayData = {
    val t = toks(arr)
    if (t == null || t.length < 5) return null
    val nGrams = t.length - 4
    val grams = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) { grams(i) = xx(gram5(t, i), Seed); i += 1 }
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    val lastWin = math.max(nGrams - 4, 0)
    i = 0
    while (i <= lastWin) {
      var m = grams(i)
      var j = i + 1
      val hi = math.min(i + 3, nGrams - 1)
      while (j <= hi) { if (grams(j) < m) m = grams(j); j += 1 }
      seen.add(m)
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    ArrayData.toArrayData(out)
  }

  /** md5 variant of [[winnowXx]] (lexicographic min over hex strings). */
  def winnowMd5(arr: ArrayData): ArrayData = {
    val t = toks(arr)
    if (t == null || t.length < 5) return null
    val nGrams = t.length - 4
    val grams = new Array[String](nGrams)
    var i = 0
    while (i < nGrams) { grams(i) = md5hex(gram5(t, i)); i += 1 }
    val seen = new java.util.LinkedHashSet[String]()
    val lastWin = math.max(nGrams - 4, 0)
    i = 0
    while (i <= lastWin) {
      var m = grams(i)
      var j = i + 1
      val hi = math.min(i + 3, nGrams - 1)
      while (j <= hi) { if (grams(j).compareTo(m) < 0) m = grams(j); j += 1 }
      seen.add(m)
      i += 1
    }
    val out = new Array[AnyRef](seen.size)
    val it = seen.iterator()
    i = 0
    while (it.hasNext) { out(i) = UTF8String.fromString(it.next()); i += 1 }
    new GenericArrayData(out)
  }

  /** One byte scan ≡ `trim(regexp_replace(regexp_replace(lowered,
    * "[^a-z0-9 ]", " "), " +", " "))` on an already-lowercased string:
    * keep [a-z0-9] bytes, turn every other byte into a pending space
    * emitted only between kept runs. UTF-8 multi-byte sequences are all
    * ≥ 0x80 per byte, so each maps to pending-space — the collapse step
    * makes "one space per byte" ≡ the regex's "one space per code
    * point". Output is pure ASCII (chars == bytes), so downstream
    * `length`/`xxhash64` agree with the regex result exactly. */
  def normalizeAscii(s: UTF8String): UTF8String = {
    val bytes = s.getBytes
    val n = bytes.length
    val out = new Array[Byte](n)
    var o = 0
    var pending = false
    var i = 0
    while (i < n) {
      val b = bytes(i)
      val keep = (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')
      if (keep) {
        if (pending && o > 0) { out(o) = ' '; o += 1 }
        out(o) = b; o += 1
        pending = false
      } else pending = true
      i += 1
    }
    UTF8String.fromBytes(java.util.Arrays.copyOf(out, o))
  }
}

/** Column-API constructors: each builds a `StaticInvoke` of the matching
  * [[TextKernels]] body over an `array<string>` token column (a
  * `string` for [[normalizeAscii]]). */
object TextKernels2 {
  private val Tokens = ArrayType(StringType)

  private def tokenKernel(method: String, dataType: DataType, c: Column,
      extra: (Column, DataType)*): Column =
    ColumnBridge.staticCall(TextKernels, method, dataType, (c, Tokens) +: extra)

  def minhashSigsXx(c: Column, nSigs: Int = 16): Column =
    tokenKernel("minhashXx", ArrayType(LongType, containsNull = false), c,
      lit(nSigs) -> IntegerType)
  def minhashSigsMd5(c: Column, nSigs: Int = 16): Column =
    tokenKernel("minhashMd5", ArrayType(StringType, containsNull = false), c,
      lit(nSigs) -> IntegerType)
  def simhashXx(c: Column): Column = tokenKernel("simhashXx", LongType, c)
  def simhashMd5(c: Column): Column = tokenKernel("simhashMd5", LongType, c)
  def winnowFpsXx(c: Column): Column =
    tokenKernel("winnowXx", ArrayType(LongType, containsNull = false), c)
  def winnowFpsMd5(c: Column): Column =
    tokenKernel("winnowMd5", ArrayType(StringType, containsNull = false), c)
  /** Never null on a non-null input, so nullable only when `c` is. */
  def normalizeAscii(c: Column): Column =
    ColumnBridge.staticCall(TextKernels, "normalizeAscii", StringType,
      Seq(c -> StringType), returnNullable = false)
}
