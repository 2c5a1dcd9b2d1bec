package graft.queries

import graft.{CosineHof, SparkSpec, TestData}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def vec(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray

  test("cosineCol matches hand computation") {
    val df = Seq(
      (vec(1, 0, 0), vec(1, 0, 0)),
      (vec(1, 0, 0), vec(0, 1, 0)),
      (vec(1, 2, 3), vec(4, 5, 6))).toDF("a", "b")
    val got = df.select(round(CosineHof.cosineCol($"a", $"b"), 6)).as[Double].collect()
    assert(got(0) === 1.0)
    assert(got(1) === 0.0)
    val expect = (4.0 + 10 + 18) / (math.sqrt(14) * math.sqrt(77))
    assert(math.abs(got(2) - expect) < 1e-5)
  }

  test("brute-force top-k returns nearest first") {
    val dir = java.nio.file.Files.createTempDirectory("sim").toString
    val rows = Seq(
      (0L, vec(1, 0, 0, 0), 0),
      (1L, vec(0.95, 0.05, 0, 0), 0),  // nearest
      (2L, vec(0.5, 0.5, 0, 0), 0),
      (3L, vec(0, 1, 0, 0), 0),        // orthogonal
      (4L, vec(-1, 0, 0, 0), 0))       // opposite
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val topk = TextQueries.queries("q_embed_topk")(spark, dir).collect()
    assert(topk.map(_.getLong(0)).take(2).toSeq === Seq(1L, 2L))
    assert(topk.last.getLong(0) === 4L) // opposite ranks last
  }

  test("q_embed_topk / q_embed_neardup ≡ the round-5 cosineCol formulation on sf0.01, sf0.1 and a rescaled sf0.01") {
    // the registered queries run the fused query-cosine kernel and the
    // hoisted norms; the references below are the round-5 queries
    // verbatim: cosineCol per pair, and the candidate cap as a
    // groupBy-count re-joined to the buckets
    def r5Pairs(buckets: DataFrame): DataFrame = {
      val sized = buckets.join(
        buckets.groupBy(col("band"), col("bucket"))
          .agg(count(lit(1)).as("__n")).filter(col("__n") <= TextQueries.AnnBucketCap),
        Seq("band", "bucket"))
      sized.as("x").join(sized.as("y"),
          col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
            col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
        .distinct()
    }
    def r5TopK(e: DataFrame): DataFrame = {
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"), CosineHof.cosineCol(col("embedding"), col("qe")).as("cos_raw"))
        .orderBy(col("cos_raw").desc, col("vec_id").asc)
        .limit(10)
        .select(col("vec_id"), round(col("cos_raw"), 4).as("cos_sim"))
    }
    def r5NearDup(e: DataFrame): DataFrame =
      r5Pairs(TextQueries.annBuckets(e))
        .join(e.select(col("vec_id").as("id_a"), col("embedding").as("emb_a")), Seq("id_a"))
        .join(e.select(col("vec_id").as("id_b"), col("embedding").as("emb_b")), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          round(CosineHof.cosineCol(col("emb_a"), col("emb_b")), 4).as("cos_sim"))
        .filter(col("cos_sim") >= 0.1)
    // the generated embeddings are unit-norm, where a kernel that drops
    // a norm still agrees; the rescaled copy (vector i times 2^(i % 4),
    // exact in f32) is not
    val rescaled = java.nio.file.Files.createTempDirectory("sim-rescaled").toString
    spark.read.parquet(s"${TestData.root}/sf0.01/embeddings.parquet")
      .withColumn("embedding", transform(col("embedding"),
        x => (x * pow(lit(2.0), col("vec_id") % 4)).cast("float")))
      .write.parquet(s"$rescaled/embeddings.parquet")
    val inputs = Seq("sf0.01", "sf0.1").map(sf => sf -> s"${TestData.root}/$sf") :+
      ("sf0.01 rescaled" -> rescaled)
    for ((label, dir) <- inputs) {
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
      for ((q, r5) <- Seq("q_embed_topk" -> r5TopK(e), "q_embed_neardup" -> r5NearDup(e))) {
        // each side runs once; the four comparisons read the cached rows
        val got = TextQueries.queries(q)(spark, dir).cache()
        val ref = r5.cache()
        val what = s"$q @ $label"
        try {
          assert(got.schema.map(f => (f.name, f.dataType)) ===
            ref.schema.map(f => (f.name, f.dataType)), s"$what schema")
          assert(ref.exceptAll(got).count() === 0, s"$what: rows only in the reference")
          assert(got.exceptAll(ref).count() === 0, s"$what: rows only in the query")
          val n = got.count()
          assert(n === ref.count(), s"$what count")
          assert(n > 0, s"$what: an empty result compares nothing")
        } finally { got.unpersist(); ref.unpersist() }
      }
    }
  }

  test("banded ANN buckets: identical vectors share all bands, opposite flip all bits") {
    val dir = java.nio.file.Files.createTempDirectory("ann").toString
    // powers of two: no ±1-weighted subset sums to exactly 0, so every
    // hyperplane sign genuinely flips for the negated vector
    Seq(
      (0L, vec(1, 2, 4, 8), 0),
      (1L, vec(1, 2, 4, 8), 0),
      (2L, vec(-1, -2, -4, -8), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val rows = TextQueries.queries("q_ann_lsh_bucket")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(rows.keys.map(_._2).toSet === (0 until TextQueries.AnnBands).toSet)
    val mask = (1L << TextQueries.AnnBitsPerBand) - 1
    (0 until TextQueries.AnnBands).foreach { band =>
      assert(rows((0L, band)) === rows((1L, band)), s"identical must share band $band")
      assert(rows((0L, band)) === (~rows((2L, band)) & mask),
        s"opposite vector must flip every sign in band $band")
    }
  }

  test("banded ANN near-dup: planted pair survives banding; bucket cap binds") {
    val dir = java.nio.file.Files.createTempDirectory("anndup").toString
    import scala.util.Random
    val r = new Random(7)
    val base = Array.fill(16)(r.nextGaussian().toFloat)
    val near = base.clone(); near(0) = near(0) + 0.001f // cos ≈ 1
    val noise = (2L to 40L).map(i =>
      (i, Array.fill(16)(new Random(i).nextGaussian().toFloat), 0))
    ((0L, base, 0) +: (1L, near, 0) +: noise)
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val pairs = TextQueries.queries("q_embed_neardup")(spark, dir)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), "near-identical pair must be recalled")
    // cap: with cap=1 every bucket holding the planted dup overflows →
    // no candidate pairs at all from those buckets
    val capped = TextQueries.annCandidatePairs(
      TextQueries.annBuckets(spark.read.parquet(s"$dir/embeddings.parquet")), cap = 1L)
    assert(!capped.collect().map(x => (x.getLong(0), x.getLong(1)))
      .contains((0L, 1L)), "cap=1 must drop the shared buckets")
  }

  test("lang-id heuristic on multilingual strings") {
    val df = Seq(
      (1L, "微信 公众号 data pipeline"),
      (2L, "der hund und die katze nicht"),
      (3L, "el gato los perros pero"),
      (4L, "le chat les chiens avec"),
      (5L, "the plain english sentence")).toDF("doc_id", "text")
    val got = df.select($"doc_id", TextQueries.langIdCol($"text")).as[(Long, String)]
      .collect().toMap
    assert(got === Map(1L -> "zh", 2L -> "de", 3L -> "es", 4L -> "fr", 5L -> "en"))
  }
}
