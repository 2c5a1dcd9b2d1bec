package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Higher-order-function twin of [[graft.functions.DotMatrix]] and
  * [[graft.functions.ArgMaxDot]]: the semantics the fused expressions
  * must reproduce (GraftFunctionsSpec). The lambdas are
  * CodegenFallback, so the crawl and the battery never plan it. */
object DotMatrixHof {

  private def dotCol(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, w) => x.cast("double") * w),
      lit(0.0), (acc, v) => acc + v)

  def dotsColHof(emb: Column, cs: Seq[Seq[Double]]): Column = {
    val c = typedLit(cs)
    transform(sequence(lit(0), lit(cs.size - 1)), j => dotCol(emb, element_at(c, j + 1)))
  }

  def cellColHof(emb: Column, cs: Seq[Seq[Double]]): Column = {
    val dots = dotsColHof(emb, cs)
    (array_position(dots, array_max(dots)) - 1).cast("int")
  }
}
