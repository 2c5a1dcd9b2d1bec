package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Higher-order-function cosine of two float-array columns: the
  * round-5 f64 formulation (each element widened, index-order
  * left-folds, `dot / (‖a‖ · ‖b‖)`) that the production f64 kernels —
  * `TextQueries.normCol`, `cosineToQueryCol` and the q_embed_neardup
  * norm hoist — must reproduce value for value (SimilaritySpec). The
  * lambdas are CodegenFallback, so no registered query plans it. */
object CosineHof {

  def cosineCol(a: Column, b: Column): Column = {
    def dd(c: Column): Column = c.cast("double")
    val dot = aggregate(zip_with(a, b, (x, y) => dd(x) * dd(y)), lit(0.0), (acc, v) => acc + v)
    val na = sqrt(aggregate(transform(a, x => dd(x) * dd(x)), lit(0.0), (acc, v) => acc + v))
    val nb = sqrt(aggregate(transform(b, x => dd(x) * dd(x)), lit(0.0), (acc, v) => acc + v))
    dot / (na * nb)
  }
}
