package graft.extract

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused article extraction as a single Catalyst column (SURVEY.md §5
  * escape hatch (a), exercised because profiles demanded it).
  *
  * The composed-built-in path (ExtractSpec's `BuiltinExtract` twin) calls
  * regexp_extract / get_json_object six times per page; EACH call
  * converts the page's UTF8String to a fresh java.lang.String — ~150 KB
  * of garbage per 25 KB page, which makes extraction GC-bound instead of
  * CPU-bound at high thread counts. This column scans the page's
  * UTF-8 BYTES directly (the grammar's delimiters are ASCII literals,
  * which never occur inside UTF-8 multi-byte sequences) and returns
  * zero-copy UTF8String slices — no String conversion, no regex engine
  * on the hot path. Output is byte-identical to the built-in path
  * (equivalence property-tested + the golden gate).
  *
  * Comments come back as the raw embedded JSON payload; the caller
  * parses with from_json (small strings, codegen'd).
  *
  * Codegen: a `StaticInvoke` of [[ExtractArticle.evalRow]], so the
  * surrounding stage stays one whole-stage-codegen span (no interpreted
  * fallback on the per-page hot path).
  */
object ExtractArticle {

  /** The column's body — called from interpreted eval AND generated code.
    *
    * ZERO-COPY byte-level scan: the grammar's delimiters are all ASCII
    * literals, and ASCII bytes never occur inside UTF-8 multi-byte
    * sequences, so scanning the UTF8String's bytes in place (getByte)
    * is exact — no String conversion, no regex engine, not even a byte[]
    * copy of the page (at 210k × 30 KB pages per wave that copy alone
    * was 6 GB of young-gen garbage; GC was 23% of task time). Outputs
    * are fromAddress VIEWS into the input buffer — safe under Spark's
    * operator contract (projections/buffering aggregates copy values
    * eagerly per row, the same contract UnsafeRow.getUTF8String views
    * rely on). Equivalence to the regex/composed-built-in path is
    * property-tested (ExtractSpec fused ≡ built-ins + the golden
    * byte-identity gate). */
  def evalRow(input: UTF8String): InternalRow = {
    val b = input
    val n = b.numBytes

    // ONE dispatch pass finds the first occurrence of all five
    // top-level literals (r6: the five independent find()s re-scanned
    // the page once per literal — appmsgext/comments sit near the END
    // of a page, so extraction paid ~4 full-page scans; this pass +
    // the body-close scan is ~2). First-occurrence semantics per
    // literal is exactly what find(b, lit, 0) returned.
    val tops = findTops(b)
    val tLit = tops(0)
    val dLit = tops(1)
    val pLit = tops(2)
    val aLit = tops(3)
    val cLit = tops(4)

    // title: <h2 ...TITLE_LIT...[^>]*> \s* (.*?) </h2>, then 0x20-trim.
    // Single-scan is faithful to regex backtracking: if the first
    // literal occurrence has no '>' (or no closing tag) after it, no
    // later occurrence can have one either.
    var title: UTF8String = UTF8String.EMPTY_UTF8
    if (tLit >= 0) {
      val gt = indexOfByte(b, '>'.toByte, tLit + TitleLit.length)
      if (gt >= 0) {
        var s = gt + 1
        while (s < n && isJavaWs(b.getByte(s))) s += 1
        val close = find(b, H2Close, s)
        if (close >= 0) {
          var e = close
          while (s < e && b.getByte(s) == ' ') s += 1
          while (e > s && b.getByte(e - 1) == ' ') e -= 1
          // small slice → eager copy (see the view-safety note on slice)
          title = slice(b, s, e).clone()
        }
      }
    }

    // body: <div id="js_content"[^>]*>(.*?)</div>, UNTRIMMED
    var body: UTF8String = UTF8String.EMPTY_UTF8
    if (dLit >= 0) {
      val gt = indexOfByte(b, '>'.toByte, dLit + BodyLit.length)
      if (gt >= 0) {
        val close = find(b, DivClose, gt + 1)
        if (close >= 0) body = slice(b, gt + 1, close)
      }
    }

    // publish: var ct = "(\d+)" — digits must run to the closing quote,
    // else the regex would retry at the next literal occurrence
    var publish: java.lang.Long = null
    var from = 0
    var first = true
    var searching = true
    while (searching) {
      // first candidate comes from the fused pass; a malformed first
      // occurrence falls back to the incremental retry scan (rare)
      val p = if (first) pLit else find(b, PublishLit, from)
      first = false
      if (p < 0) searching = false
      else {
        val ds = p + PublishLit.length
        var de = ds
        while (de < n && b.getByte(de) >= '0' && b.getByte(de) <= '9') de += 1
        if (de > ds && de < n && b.getByte(de) == '"') {
          publish = parseLongDigits(b, ds, de, negative = false)
          searching = false
        } else from = p + 1
      }
    }

    // appmsgext snippet → read_num / like_num
    var read: Integer = null
    var like: Integer = null
    if (aLit >= 0) {
      val start = aLit + AppMsgLit.length
      val close = find(b, ScriptClose, start)
      if (close >= 0) {
        read = jsonIntField(b, start, close, ReadLit)
        like = jsonIntField(b, start, close, LikeLit)
      }
    }

    // comments payload: raw slice between the script literals
    var commentsJson: UTF8String = null
    if (cLit >= 0) {
      val start = cLit + CommentsLit.length
      val close = find(b, ScriptClose, start)
      // small slice → eager copy (see the view-safety note on slice)
      if (close >= 0) commentsJson = slice(b, start, close).clone()
    }

    InternalRow(title, body, publish, read, like, commentsJson)
  }

  // ---- byte-scan helpers (ASCII literals; exact regex-equivalents) ----

  private def lit(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  private val TitleLit = lit("<h2 class=\"rich_media_title\"")
  private val H2Close = lit("</h2>")
  private val BodyLit = lit("<div id=\"js_content\"")
  private val DivClose = lit("</div>")
  private val PublishLit = lit("var ct = \"")
  private val AppMsgLit = lit("<script type=\"application/json\" id=\"appmsgext\">")
  private val CommentsLit = lit("<script type=\"application/json\" id=\"comments\">")
  private val ScriptClose = lit("</script>")
  private val ReadLit = lit("\"read_num\"")
  private val LikeLit = lit("\"like_num\"")

  /** java.util.regex \s = [ \t\n\x0B\f\r] (ASCII only). */
  private def isJavaWs(c: Byte): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == 0x0b || c == '\f' || c == '\r'

  /** Zero-copy view of b's bytes [from, until). Safe under Spark's
    * eager-copy operator contract (see evalRow doc). Risk posture: only
    * the LARGE body slice stays a view (copying it would double the
    * wave's byte traffic); the small title/comments slices are cloned
    * at the call sites, so a future buffering consumer that holds rows
    * past batch-buffer recycling can corrupt at most the body of a page
    * read through an off-heap vectorized batch — and ExtractSpec's
    * multi-batch parquet stress pins that today's operators copy. */
  private def slice(b: UTF8String, from: Int, until: Int): UTF8String =
    UTF8String.fromAddress(b.getBaseObject, b.getBaseOffset + from, until - from)

  private def indexOfByte(b: UTF8String, target: Byte, from: Int): Int = {
    val n = b.numBytes
    var i = math.max(from, 0)
    while (i < n) { if (b.getByte(i) == target) return i; i += 1 }
    -1
  }

  /** First occurrences of the five top-level literals in ONE pass,
    * dispatching on the first byte ('<' for the four tag literals, 'v'
    * for the publish literal) — per-literal result identical to
    * find(b, lit, 0). Returns [-1…] positions as
    * (title, body, publish, appmsg, comments). */
  private def findTops(b: UTF8String): Array[Int] = {
    val n = b.numBytes
    var title = -1; var body = -1; var publish = -1
    var appmsg = -1; var comments = -1
    var remaining = 5
    var i = 0
    while (i < n && remaining > 0) {
      val c = b.getByte(i)
      if (c == '<') {
        if (title < 0 && matchesAt(b, TitleLit, i)) { title = i; remaining -= 1 }
        if (body < 0 && matchesAt(b, BodyLit, i)) { body = i; remaining -= 1 }
        if (appmsg < 0 && matchesAt(b, AppMsgLit, i)) { appmsg = i; remaining -= 1 }
        if (comments < 0 && matchesAt(b, CommentsLit, i)) { comments = i; remaining -= 1 }
      } else if (c == 'v' && publish < 0 && matchesAt(b, PublishLit, i)) {
        publish = i; remaining -= 1
      }
      i += 1
    }
    Array(title, body, publish, appmsg, comments)
  }

  /** needle matches b at position `at` (first byte already dispatched). */
  private def matchesAt(b: UTF8String, needle: Array[Byte], at: Int): Boolean = {
    if (at + needle.length > b.numBytes) return false
    var j = 1
    while (j < needle.length) {
      if (b.getByte(at + j) != needle(j)) return false
      j += 1
    }
    true
  }

  /** First occurrence of `needle` at or after `from` (naive scan — the
    * needles are short and occur ~once per page). */
  private def find(b: UTF8String, needle: Array[Byte], from: Int): Int = {
    val last = b.numBytes - needle.length
    val first = needle(0)
    var i = math.max(from, 0)
    while (i <= last) {
      if (b.getByte(i) == first) {
        var j = 1
        while (j < needle.length && b.getByte(i + j) == needle(j)) j += 1
        if (j == needle.length) return i
      }
      i += 1
    }
    -1
  }

  /** "key"\s*:\s*(-?\d+) within [from, to) — retries subsequent key
    * occurrences when no digit follows, like regex find() would. */
  private def jsonIntField(b: UTF8String, from: Int, to: Int,
      key: Array[Byte]): Integer = {
    var pos = from
    while (pos < to) {
      val k = find(b, key, pos)
      if (k < 0 || k + key.length > to) return null
      var i = k + key.length
      while (i < to && isJavaWs(b.getByte(i))) i += 1
      if (i < to && b.getByte(i) == ':') {
        i += 1
        while (i < to && isJavaWs(b.getByte(i))) i += 1
        val neg = i < to && b.getByte(i) == '-'
        if (neg) i += 1
        var de = i
        while (de < to && b.getByte(de) >= '0' && b.getByte(de) <= '9') de += 1
        if (de > i) {
          val v = parseLongDigits(b, i, de, neg)
          // same bound as tryInt: >9 digits → null (still a match)
          return if (v == null || de - i > 9 ||
            v.longValue > Int.MaxValue || v.longValue < Int.MinValue) null
          else Integer.valueOf(v.intValue)
        }
      }
      pos = k + 1
    }
    null
  }

  /** Digits [ds, de) → Long; >18 digits → null (tryLong bound). */
  private def parseLongDigits(b: UTF8String, ds: Int, de: Int,
      negative: Boolean): java.lang.Long = {
    if (de - ds > 18) return null
    var v = 0L
    var i = ds
    while (i < de) { v = v * 10 + (b.getByte(i) - '0'); i += 1 }
    java.lang.Long.valueOf(if (negative) -v else v)
  }

  val schema: StructType = StructType(Seq(
    StructField("title", StringType),
    StructField("body", StringType),
    StructField("publish_unix", LongType),
    StructField("read_count", IntegerType),
    StructField("like_count", IntegerType),
    StructField("comments_json", StringType)))

  def apply(c: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.staticCall(
      this, "evalRow", schema, Seq(c -> StringType))
}
