package graft

import org.apache.spark.sql.functions._

class GraftFunctionsSpec extends SparkSpec {

  test("DotMatrix/ArgMaxDot ≡ higher-order twin, codegen'd, null-safe") {
    import spark.implicits._
    val matrix: Seq[Seq[Double]] = Seq(
      Seq(1.0, -1.0, 0.5, 0.25), Seq(-0.75, 2.0, 0.0, 1.0),
      Seq(0.1, 0.2, 0.3, 0.4))
    val vecs = Seq(
      (1L, Array(1.0f, 2.0f, 3.0f, 4.0f)),
      (2L, Array(-0.5f, 0.25f, -1.5f, 2.5f)),
      (3L, Array(0f, 0f, 0f, 0f)), // all-zero: tie → first row wins
      (4L, null.asInstanceOf[Array[Float]]))
    val df = vecs.toDF("id", "emb")
    val got = df.select(col("id"),
      graft.functions.DotMatrix(col("emb"), matrix).as("dots"),
      graft.functions.DotMatrix.argMax(col("emb"), matrix).as("am"),
      DotMatrixHof.dotsColHof(col("emb"), matrix).as("dots_hof"),
      DotMatrixHof.cellColHof(col("emb"), matrix).as("am_hof"))
    val rows = got.collect().sortBy(_.getLong(0))
    rows.filter(!_.isNullAt(1)).foreach { r =>
      assert(r.getSeq[Double](1) === r.getSeq[Double](3),
        s"fused dots must equal higher-order dots for id ${r.getLong(0)}")
      assert(r.getInt(2) === r.getInt(4),
        s"fused argmax must equal higher-order argmax for id ${r.getLong(0)}")
    }
    assert(rows.last.isNullAt(1) && rows.last.isNullAt(2), "null emb → null out")
    assert(rows(2).getInt(2) === 0, "exact tie keeps the first matrix row")
    // the fused expressions stay INSIDE whole-stage codegen (a parquet
    // scan — a local relation folds to LocalTableScan with no codegen
    // stage at all)
    val dir = java.nio.file.Files.createTempDirectory("dotm").toString
    vecs.filter(_._2 != null).toDF("id", "emb").write.mode("overwrite").parquet(dir)
    val plan = spark.read.parquet(dir)
      .select(graft.functions.DotMatrix.argMax(col("emb"), matrix))
      .queryExecution.executedPlan.toString()
    assert("\\*\\(\\d+\\) Project".r.findFirstIn(plan).isDefined,
      s"fused kernel must not break codegen:\n${plan.take(500)}")
  }

  test("DotMatrix/ArgMaxDot malformed-input contract: loud nulls, both eval paths") {
    import spark.implicits._
    val matrix: Seq[Seq[Double]] = Seq(Seq(1.0, 2.0, 3.0), Seq(-1.0, 0.5, 0.0))
    // (id, emb): 1 = well-formed, 2 = SHORT (dim mismatch), 3 = LONG,
    // 4 = null element. Option[Float] elements force containsNull=true.
    val rows: Seq[(Long, Seq[Option[Float]])] = Seq(
      (1L, Seq(Some(1f), Some(2f), Some(3f))),
      (2L, Seq(Some(1f), Some(2f))),
      (3L, Seq(Some(1f), Some(2f), Some(3f), Some(4f))),
      (4L, Seq(Some(1f), None, Some(3f))))
    def check(df: org.apache.spark.sql.DataFrame): Unit = {
      val got = df.select(col("id"),
        graft.functions.DotMatrix(col("emb"), matrix).as("dots"),
        graft.functions.DotMatrix.argMax(col("emb"), matrix).as("am"))
        .collect().sortBy(_.getLong(0))
      assert(!got(0).isNullAt(1) && got(0).getInt(2) === 0)
      assert(got(0).getSeq[Double](1) === Seq(14.0, 0.0))
      (1 to 3).foreach { i =>
        assert(got(i).isNullAt(1), s"id ${i + 1}: malformed emb must null dots")
        assert(got(i).isNullAt(2), s"id ${i + 1}: malformed emb must null argmax")
      }
    }
    check(rows.toDF("id", "emb")) // LocalTableScan → interpreted eval
    val dir = java.nio.file.Files.createTempDirectory("dotm-null").toString
    rows.toDF("id", "emb").write.mode("overwrite").parquet(dir)
    check(spark.read.parquet(dir)) // parquet scan → whole-stage codegen path
  }

  test("DotMatrix: empty or ragged matrix rejected at construction") {
    intercept[IllegalArgumentException] {
      graft.functions.DotMatrix.argMax(col("emb"), Seq.empty)
    }
    intercept[IllegalArgumentException] {
      graft.functions.DotMatrix(col("emb"), Seq(Seq(1.0, 2.0), Seq(3.0)))
    }
  }

  // independent replay of the oracle's single-precision cosine
  // (sequential f32 accumulation, separate f32 sqrts — the DuckDB
  // list_cosine_similarity loop), written as a fold, not a kernel call
  private def cosF32Replay(a: Seq[Float], b: Seq[Float]): Double = {
    var dot = 0.0f; var nx = 0.0f; var ny = 0.0f
    a.indices.foreach { i =>
      dot += a(i) * b(i); nx += a(i) * a(i); ny += b(i) * b(i)
    }
    (dot / (math.sqrt(nx.toDouble).toFloat * math.sqrt(ny.toDouble).toFloat)).toDouble
  }

  test("CosineF32/CosineToMatrixF32 ≡ independent f32 replay, codegen'd, loud-null") {
    import spark.implicits._
    // values chosen so f64 and f32 accumulation DIFFER in the last ulps
    // (non-representable decimals) — the equality below is only true of
    // a genuine single-precision loop
    val va = Array(0.1f, -0.2f, 0.3f, 0.7f)
    val vb = Array(0.4f, 0.6f, -0.1f, 0.2f)
    val vc = Array(1e-8f, 0.999f, -0.333f, 0.111f)
    val matrix: Seq[Seq[Float]] = Seq(vb.toSeq, vc.toSeq)
    val dir = java.nio.file.Files.createTempDirectory("cosf32").toString
    Seq((1L, va, vb), (2L, vc, vb), (3L, va, va))
      .toDF("id", "x", "y").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val got = df.select(col("id"),
      graft.functions.CosineF32(col("x"), col("y")).as("c"),
      graft.functions.CosineF32.toMatrix(col("x"), matrix).as("cm"))
      .collect().sortBy(_.getLong(0))
    val in = Seq((va, vb), (vc, vb), (va, va))
    got.zip(in).foreach { case (r, (x, y)) =>
      assert(r.getDouble(1) === cosF32Replay(x.toSeq, y.toSeq),
        s"pairwise kernel must be bit-equal to the f32 replay for id ${r.getLong(0)}")
      assert(r.getSeq[Double](2) ===
        Seq(cosF32Replay(x.toSeq, vb.toSeq), cosF32Replay(x.toSeq, vc.toSeq)),
        s"matrix kernel must be bit-equal per row for id ${r.getLong(0)}")
    }
    // ...and the f32 value genuinely differs from the f64 fold in ulps
    // (guards against the kernel silently widening to double)
    def cosF64(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x.toDouble).sum) *
        math.sqrt(b.map(x => x.toDouble * x.toDouble).sum))
    }
    assert(got(0).getDouble(1) !== cosF64(va.toSeq, vb.toSeq),
      "fixture must separate f32 from f64 arithmetic")
    // codegen span intact
    val plan = df.select(graft.functions.CosineF32(col("x"), col("y")))
      .queryExecution.executedPlan.toString()
    assert("\\*\\(\\d+\\) Project".r.findFirstIn(plan).isDefined,
      s"CosineF32 must not break whole-stage codegen:\n${plan.take(500)}")
  }

  test("CosineF32 malformed-input contract: loud nulls, both eval paths") {
    import spark.implicits._
    val matrix: Seq[Seq[Float]] = Seq(Seq(1f, 2f, 3f))
    val rows: Seq[(Long, Seq[Option[Float]], Seq[Option[Float]])] = Seq(
      (1L, Seq(Some(1f), Some(2f), Some(3f)), Seq(Some(4f), Some(5f), Some(6f))),
      (2L, Seq(Some(1f), Some(2f)), Seq(Some(4f), Some(5f), Some(6f))), // len mismatch
      (3L, Seq(Some(1f), None, Some(3f)), Seq(Some(4f), Some(5f), Some(6f))), // null elem
      (4L, null, Seq(Some(4f), Some(5f), Some(6f)))) // null input
    def check(df: org.apache.spark.sql.DataFrame): Unit = {
      val got = df.select(col("id"),
        graft.functions.CosineF32(col("x"), col("y")).as("c"),
        graft.functions.CosineF32.toMatrix(col("x"), matrix).as("cm"))
        .collect().sortBy(_.getLong(0))
      assert(!got(0).isNullAt(1) && !got(0).isNullAt(2))
      (1 to 3).foreach { i =>
        assert(got(i).isNullAt(1), s"id ${i + 1}: malformed input must null cosine")
        assert(got(i).isNullAt(2), s"id ${i + 1}: malformed input must null matrix row")
      }
    }
    check(rows.toDF("id", "x", "y")) // LocalTableScan → interpreted eval
    val dir = java.nio.file.Files.createTempDirectory("cosf32-null").toString
    rows.toDF("id", "x", "y").write.mode("overwrite").parquet(dir)
    check(spark.read.parquet(dir)) // parquet scan → codegen path
    intercept[IllegalArgumentException] {
      graft.functions.CosineF32.toMatrix(col("x"), Seq.empty)
    }
    intercept[IllegalArgumentException] {
      graft.functions.CosineF32.toMatrix(col("x"), Seq(Seq(1f, 2f), Seq(3f)))
    }
  }

  test("CosineF32 zero-norm vector: null, never NaN, both eval paths") {
    import spark.implicits._
    val zero = Seq(0f, 0f, 0f)
    val rows: Seq[(Long, Seq[Float], Seq[Float])] = Seq(
      (1L, Seq(1f, 2f, 3f), Seq(4f, 5f, 6f)),
      (2L, zero, Seq(4f, 5f, 6f)), // zero left side
      (3L, Seq(1f, 2f, 3f), zero), // zero right side
      (4L, zero, zero),
      (5L, Seq(1e-30f, 0f, 0f), Seq(4f, 5f, 6f))) // squares underflow to 0 in f32
    def check(df: org.apache.spark.sql.DataFrame): Unit = {
      val got = df.select(col("id"),
        graft.functions.CosineF32(col("x"), col("y")).as("c"),
        graft.functions.CosineF32.toMatrix(col("x"), Seq(Seq(1f, 2f, 3f))).as("cm"),
        graft.functions.CosineF32.toMatrix(col("y"), Seq(zero)).as("cz"))
        .collect().sortBy(_.getLong(0))
      assert(got(0).getDouble(1) === cosF32Replay(Seq(1f, 2f, 3f), Seq(4f, 5f, 6f)))
      assert(!got(0).isNullAt(2))
      Seq(1, 3, 4).foreach { i =>
        assert(got(i).isNullAt(1), s"id ${i + 1}: zero-norm left side must null cosine")
        assert(got(i).isNullAt(2), s"id ${i + 1}: zero-norm embedding must null the matrix row")
      }
      assert(got(2).isNullAt(1), "id 3: zero-norm right side must null cosine")
      assert(!got(2).isNullAt(2), "id 3: the embedding side is well-formed")
      assert(got.forall(_.isNullAt(3)), "a zero-norm matrix row must null the array")
    }
    check(rows.toDF("id", "x", "y")) // LocalTableScan → interpreted eval
    val dir = java.nio.file.Files.createTempDirectory("cosf32-zero").toString
    rows.toDF("id", "x", "y").write.mode("overwrite").parquet(dir)
    check(spark.read.parquet(dir)) // parquet scan → codegen path
  }
}
