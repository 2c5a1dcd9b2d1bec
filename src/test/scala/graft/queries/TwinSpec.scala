package graft.queries

import graft.SparkSpec

/** Pins the round-5 oracle TWINS (q_embed_topk_r4, q_embed_neardup_exact,
  * q_ann_ivf_assign_r4) against independent plain-Scala replays, and the
  * topk twin against the production q_embed_topk on tie-free data — the
  * same independent-replay discipline DedupSpec applies to the md5 twins
  * — and the typed empty answer of the brute-force and assign-twin
  * queries on a corpus with no query or centroid row.
  *
  * The replay cosine is the ORACLE's single-precision arithmetic
  * (sequential f32 accumulation, separate f32 sqrts — what DuckDB's
  * list_cosine_similarity computes and what the twins compute since the
  * round-6 [[graft.functions.CosineF32]] fix), written here as an
  * independent fold, not a call into the production kernel.
  */
class TwinSpec extends SparkSpec {
  import spark.implicits._

  private def vec(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    val dot = a.zip(b).map { case (x, y) => x * y }.foldLeft(0.0f)(_ + _)
    val na = math.sqrt(a.map(x => x * x).foldLeft(0.0f)(_ + _).toDouble).toFloat
    val nb = math.sqrt(b.map(x => x * x).foldLeft(0.0f)(_ + _).toDouble).toFloat
    (dot / (na * nb)).toDouble
  }

  private def r4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def writeEmb(rows: Seq[(Long, Array[Float])]): String = {
    val dir = java.nio.file.Files.createTempDirectory("twin").toString
    rows.map { case (id, e) => (id, e, 0) }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  // deterministic corpus with well-separated angles: no rounded-score
  // ties, so the raw-float and rounded total orders coincide
  private def fan(n: Int): Seq[(Long, Array[Float])] =
    (0L until n.toLong).map { i =>
      val a = 0.03 * i // distinct angles in [0, pi/2)
      (i, vec(math.cos(a), math.sin(a), 0.01 * i, 0))
    }

  test("q_embed_topk_r4 twin: equals production q_embed_topk on tie-free data, matches plain-Scala replay") {
    val rows = fan(40)
    val dir = writeEmb(rows)
    val twin = TextQueries.queries("q_embed_topk_r4")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val prod = TextQueries.queries("q_embed_topk")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // the twin computes the oracle's f32 scores, production keeps f64 —
    // on tie-free data the RANKINGS coincide (scores differ only in
    // ulps) even though a 4th decimal may occasionally differ
    assert(twin.map(_._1) === prod.map(_._1),
      "twin must rank identically to production when no rounded ties exist")
    // at most one 4th-decimal step apart, counted in integer steps: a
    // double difference of two round(.,4) values can exceed 1e-4
    // (-0.9994 - -0.9995 = 1.0000000000010001e-4)
    assert(twin.zip(prod).forall { case ((_, a), (_, b)) =>
      math.abs(math.round(a * 1e4) - math.round(b * 1e4)) <= 1 })
    val q = rows.head._2
    val expect = rows.tail
      .map { case (id, e) => (id, r4(cos(e, q))) }
      .sortBy { case (id, c) => (-c, id) }.take(10)
    assert(twin === expect)
  }

  test("q_embed_neardup_exact twin: exactly the audit-block pairs with rounded cos >= 0.1") {
    // ids 0,10,20,30,40 form the audit block (vec_id % 10 == 0); the
    // non-block ids must not appear even when highly similar
    val block = Seq(0L, 10L, 20L, 30L, 40L).zipWithIndex.map { case (id, i) =>
      val a = 0.5 * i // spread: some pairs above 0.1, some below
      (id, vec(math.cos(a), math.sin(a), 0, 0))
    }
    val offBlock = Seq((1L, vec(1, 0, 0, 0)), (11L, vec(0.99, 0.01, 0, 0)))
    val dir = writeEmb(block ++ offBlock)
    val got = TextQueries.queries("q_embed_neardup_exact")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expect = (for {
      (ia, ea) <- block; (ib, eb) <- block if ia < ib
      c = r4(cos(ea, eb)) if c >= 0.1
    } yield (ia, ib, c)).toSet
    assert(got === expect)
    assert(expect.nonEmpty && expect.size < block.size * (block.size - 1) / 2,
      "fixture must exercise both sides of the threshold")
    assert(!got.exists { case (a, b, _) => a % 10 != 0 || b % 10 != 0 })
  }

  test("empty-input contract: no query row and no centroid row yield 0 rows, same schema") {
    // no vec_id 0 (the brute-force query vector) and none in 1..16 (the
    // assign twin's centroids): each query answers with a typed empty frame
    val dir = writeEmb(fan(40).filter(_._1 > 16))
    import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType}
    val scored: Seq[(String, DataType)] = Seq("vec_id" -> LongType, "cos_sim" -> DoubleType)
    for ((q, schema) <- Seq(
        "q_embed_threshold" -> scored, "q_embed_topk" -> scored, "q_embed_topk_r4" -> scored,
        "q_ann_ivf_assign_r4" -> Seq("vec_id" -> LongType, "cell" -> IntegerType))) {
      val df = TextQueries.queries(q)(spark, dir)
      assert(df.schema.map(f => (f.name, f.dataType)) === schema, q)
      assert(df.count() === 0L, q)
    }
  }

  test("q_ann_ivf_assign_r4 twin: every vector lands on its argmax-cosine first-K centroid, lowest cid on ties") {
    // 16 centroid vectors (ids 1..16) at distinct angles + extra corpus
    // vectors, incl. vec 100 planted EXACTLY on centroid 7's direction
    val cents = (1L to 16L).map { i =>
      val a = 0.2 * (i - 1)
      (i, vec(math.cos(a), math.sin(a), 0, 0))
    }
    val extras = Seq(
      (0L, vec(1, 0, 0, 0)),
      (100L, vec(math.cos(1.2) * 5, math.sin(1.2) * 5, 0, 0)), // = centroid 7 scaled
      (101L, vec(0, 0, 1, 0))) // orthogonal to the fan plane: all cos = 0 → tie → cid 1
    val dir = writeEmb(cents ++ extras)
    val got = TextQueries.queries("q_ann_ivf_assign_r4")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val all = cents ++ extras
    assert(got.keySet === all.map(_._1).toSet, "every vector must be assigned")
    val expect = all.map { case (id, e) =>
      id -> cents.map { case (cid, ce) => (cid.toInt, r4(cos(e, ce))) }
        .minBy { case (cid, c) => (-c, cid) }._1
    }.toMap
    assert(got === expect)
    assert(got(100L) === 7, "scaled copy of centroid 7 must land on cell 7")
    assert(got(101L) === 1, "all-tie vector must take the lowest cell id")
  }
}
