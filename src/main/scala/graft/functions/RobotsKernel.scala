package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused robots longest-prefix verdict (r6; guide §1.2 step 2 — the
  * gate runs over EVERY frontier row, up to three times per wave:
  * allowed branch, denied table, metrics ledger).
  *
  * Replaces the interpreted `aggregate(filter(rules, startswith), …)`
  * higher-order fold in [[graft.frontier.Wave.robotsGate]] with one
  * primitive loop inside whole-stage codegen. Exact same verdict:
  * among rules whose path_prefix prefixes the path, the LONGEST wins;
  * an equal-length allow beats a deny (RFC 9309 least-restrictive
  * tie-break); no matching rule → allow. Prefix length is numChars —
  * the same `length()` the fold compared — and prefix matching is
  * UTF8String.startsWith, ≡ the `startswith` builtin. A null
  * path_prefix never matches (the fold's filter dropped it via
  * null-startswith); a null `allowed` on the winning rule yields null
  * (the fold's struct carried it through). RobotsKernelSpec pins
  * kernel ≡ fold on randomized rule sets.
  *
  * The column is a `StaticInvoke` of [[RobotsAllowed.verdict]] over
  * (rules array<struct<path_prefix: string, allowed: boolean>> — the
  * per-host collect_list — and the path string).
  */
object RobotsAllowed {

  /** The fold, as a loop. Array order is irrelevant by construction
    * (the result is "the longest matching prefix, allow on length
    * ties"), which is also why collect_list's nondeterministic order
    * never flips a verdict. */
  def verdict(rules: ArrayData, path: UTF8String): java.lang.Boolean = {
    var bestLen = -1
    var bestAllowed: java.lang.Boolean = java.lang.Boolean.TRUE
    val n = rules.numElements()
    var i = 0
    while (i < n) {
      if (!rules.isNullAt(i)) {
        val r = rules.getStruct(i, 2)
        if (!r.isNullAt(0)) {
          val prefix = r.getUTF8String(0)
          if (path.startsWith(prefix)) {
            val len = prefix.numChars()
            val allowed: java.lang.Boolean =
              if (r.isNullAt(1)) null else java.lang.Boolean.valueOf(r.getBoolean(1))
            if (len > bestLen) { bestLen = len; bestAllowed = allowed }
            else if (len == bestLen && allowed == java.lang.Boolean.TRUE) {
              bestAllowed = allowed
            }
          }
        }
      }
      i += 1
    }
    bestAllowed
  }

  private val Rules = ArrayType(StructType(Seq(
    StructField("path_prefix", StringType), StructField("allowed", BooleanType))))

  def apply(rules: Column, path: Column): Column =
    ColumnBridge.staticCall(this, "verdict", BooleanType,
      Seq(rules -> Rules, path -> StringType))
}
