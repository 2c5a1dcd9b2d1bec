package graft.queries

import graft.{SparkSpec, TestData}
import graft.functions.HllCountDistinct
import graft.model.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class RelationalSpec extends SparkSpec {

  val sf = "/root/testdata/sf0.01"

  test("approx_count_distinct within 5% of exact (HLL++ metrics path)") {
    val approx = RelationalQueries.queries("q_approx_distinct")(spark, sf)
    val exact = RelationalQueries.queries("q_distinct_orders")(spark, sf)
    val j = approx.join(exact, Seq("l_returnflag")).collect()
    assert(j.nonEmpty)
    j.foreach { r =>
      val (a, e) = (r.getAs[Long]("approx_orders").toDouble, r.getAs[Long]("n_orders").toDouble)
      assert(math.abs(a - e) / e < 0.05, s"approx $a vs exact $e")
      val (ap, ep) = (r.getAs[Long]("approx_parts").toDouble, r.getAs[Long]("n_parts").toDouble)
      assert(math.abs(ap - ep) / ep < 0.05)
    }
  }

  test("HllCountDistinct equals approx_count_distinct value for value") {
    val li = Tables.readSource(spark, sf, "lineitem")
    val cols = Seq("l_orderkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_returnflag" -> StringType, "l_extendedprice" -> DoubleType,
      "l_shipdate" -> TimestampNTZType)
    cols.foreach { case (c, t) => assert(li.schema(c).dataType === t, c) }
    def rows(df: DataFrame): Map[Seq[Any], Seq[Any]] =
      df.collect().map(r => r.toSeq.take(2) -> r.toSeq.drop(2)).toMap
    for (rsd <- Seq(0.01, 0.05, 0.1); (c, _) <- cols) {
      // plain, and null outside linestatus 'F': the 'O' groups are all-null
      def both(f: (Column, Double) => Column): DataFrame = li
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(f(col(c), rsd), f(when(col("l_linestatus") === "F", col(c)), rsd))
      val kernel = rows(both(HllCountDistinct(_, _)))
      val builtin = rows(both(approx_count_distinct(_, _)))
      assert(kernel === builtin, s"$c at rsd $rsd")
      assert(kernel.values.forall(_.head.asInstanceOf[Long] > 0L), s"$c at rsd $rsd: degenerate")
      assert(kernel.collect { case (Seq(_, "O"), v) => v(1) }.toSet === Set(0L),
        s"$c at rsd $rsd: an all-null group estimates 0")
    }
    // empty input: one global row of 0, no grouped rows
    val empty = li.filter(lit(false))
    val global = empty.agg(HllCountDistinct(col("l_orderkey"), 0.01),
      approx_count_distinct(col("l_orderkey"), 0.01)).collect()
    assert(global.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((0L, 0L)))
    assert(empty.groupBy(col("l_returnflag"))
      .agg(HllCountDistinct(col("l_orderkey"), 0.01)).collect().isEmpty)
  }

  test("q_approx_distinct returns the built-in approx_count_distinct values at every sf") {
    Seq("sf0.001", "sf0.01", "sf0.1").map(d => s"${TestData.root}/$d").foreach { dir =>
      val q = RelationalQueries.queries("q_approx_distinct")(spark, dir)
      val ref = Tables.readSource(spark, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_orderkey"), 0.01).as("approx_orders"),
          approx_count_distinct(col("l_partkey"), 0.01).as("approx_parts"))
      val got = q.collect().map(_.toSeq).toSet
      assert(got.nonEmpty && got === ref.collect().map(_.toSeq).toSet, dir)
    }
  }

  test("upsert merge marks updated rows and preserves old-only rows") {
    val df = RelationalQueries.queries("q_upsert_merge")(spark, sf)
    val updated = df.filter(col("was_updated")).count()
    val kept = df.filter(!col("was_updated")).count()
    assert(updated > 0 && kept > 0)
  }
}
