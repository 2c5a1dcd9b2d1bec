package graft.url

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused URL identity column: one parse → (canon, url_hash, host, biz).
  *
  * The composed-built-in [[UrlCanon.canonicalCol]] invokes Spark's
  * ParseUrlEvaluator 4–8× per URL (PROTOCOL/HOST/PATH/QUERY, and the
  * whole CASE tree is duplicated wherever both canon and hash are
  * selected — visible as multi-KB expression trees in explain output).
  * This column parses once via the pure-Scala twin and returns all
  * four identity fields. Output is equal to the built-in path by the
  * UrlCanonSpec equivalence property (both are property-tested against
  * [[UrlCanon.canonicalize]]).
  *
  * Codegen: a `StaticInvoke` of [[UrlParts.evalRow]] — the call
  * participates in whole-stage codegen (no interpreted-eval stage break
  * on the hottest path: every page + every frontier row).
  */
object UrlParts {
  val schema: StructType = StructType(Seq(
    StructField("url", StringType),
    StructField("url_hash", LongType),
    StructField("host", StringType),
    StructField("biz", StringType)))

  def apply(c: Column): Column =
    ColumnBridge.staticCall(this, "evalRow", schema, Seq(c -> StringType))

  /** The column's body — called from interpreted eval AND generated code
    * (static call keeps whole-stage codegen intact). */
  def evalRow(input: UTF8String): InternalRow = {
    val raw = input.toString
    val canon = UrlCanon.canonicalize(raw)
    val host = UrlCanon.host(raw)
    val biz = queryParam(raw, "__biz")
    InternalRow(
      UTF8String.fromString(canon),
      java.lang.Long.valueOf(UrlCanon.hashOf(canon)),
      if (host == null) null else UTF8String.fromString(host),
      UTF8String.fromString(if (biz == null) "" else biz))
  }

  /** Raw query-param lookup, parse_url(url,'QUERY',key)-equivalent for
    * our grammar (returns null when absent). */
  def queryParam(url: String, key: String): String = {
    val q =
      try Option(new java.net.URI(url).getRawQuery).getOrElse(return null)
      catch { case _: java.net.URISyntaxException => return null }
    q.split("&", -1).collectFirst {
      case p if p.startsWith(key + "=") => p.substring(key.length + 1)
    }.orNull
  }
}
