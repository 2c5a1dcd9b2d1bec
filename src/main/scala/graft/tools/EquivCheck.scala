package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-6 equivalence harness: every query REWRITTEN for speed this
  * round is re-declared here in its ORIGINAL (round-5) formulation,
  * verbatim; main() runs old vs new on a testdata dir and fails unless
  * schemas (names + types) match and the row MULTISETS are identical
  * (exceptAll both ways — exact binary comparison, doubles included).
  *
  * This is the "prove equivalence with the oracle before moving on"
  * gate from the round brief, runnable at every SF the driver checks:
  *   sbt "runMain graft.tools.EquivCheck /root/testdata/sf0.01"
  */
object EquivCheck {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  // ---- round-5 original helpers (verbatim copies) --------------------

  private def cosineCol(a: Column, b: Column): Column = {
    def dd(c: Column): Column = c.cast("double")
    val dot = aggregate(zip_with(a, b, (x, y) => dd(x) * dd(y)), lit(0.0), (acc, v) => acc + v)
    val na = sqrt(aggregate(transform(a, x => dd(x) * dd(x)), lit(0.0), (acc, v) => acc + v))
    val nb = sqrt(aggregate(transform(b, x => dd(x) * dd(x)), lit(0.0), (acc, v) => acc + v))
    dot / (na * nb)
  }

  private def oldMinhashBands(docs: DataFrame): DataFrame = {
    val withToks = docs.select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 3)
    val shingled = withToks.select(col("doc_id"),
      explode(array_distinct(expr(
        "transform(sequence(0, size(toks)-3), i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))")))
        .as("sh"))
    val minCols = (0 until 16).map(i =>
      min(xxhash64(concat(col("sh"), lit(s"#$i")))).as(s"m$i"))
    val sigs = shingled.groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
    val bands = (0 until 8).map { b =>
      struct(lit(b).as("band"),
        xxhash64(concat_ws(",",
          (0 until 2).map(j => col(s"m${b * 2 + j}").cast("string")): _*), lit(b))
          .as("bucket"))
    }
    sigs.select(col("doc_id"), explode(array(bands: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  private def oldMinhashBandsMd5(docs: DataFrame): DataFrame = {
    val withToks = docs.select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 3)
    val shingled = withToks.select(col("doc_id"),
      explode(array_distinct(expr(
        "transform(sequence(0, size(toks)-3), i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))")))
        .as("sh"))
    val minCols = (0 until 16).map(i =>
      min(md5(concat(col("sh"), lit(s"#$i")))).as(s"m$i"))
    val sigs = shingled.groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
    val bands = (0 until 8).map { b =>
      struct(lit(b.toLong).as("band"),
        md5(concat_ws(",", col(s"m${b * 2}"), col(s"m${b * 2 + 1}"), lit(b.toString)))
          .as("bucket"))
    }
    sigs.select(col("doc_id"), explode(array(bands: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  private def oldAnnCandidatePairs(buckets: DataFrame, cap: Long = 4096L): DataFrame = {
    val sized = buckets.join(
      buckets.groupBy(col("band"), col("bucket"))
        .agg(count(lit(1)).as("__n")).filter(col("__n") <= cap),
      Seq("band", "bucket"))
    sized.as("x").join(sized.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
      .distinct()
  }

  private def oldSimhash(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), "\\s+")).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val bitSums = (0 until 64).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$b"))
    val agg = toks.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val sim = (0 until 64).map(b =>
      when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
    agg.select(col("doc_id"), sim.as("simhash"))
  }

  private def oldSimhashMd5(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), "\\s+")).as("tok"))
      .withColumn("hx", substring(md5(col("tok")), 1, 15))
    def dv(p: Int): Column = conv(substring(col("hx"), p, 1), 16, 10).cast("int")
    val withDigits = toks.select(col("doc_id") +:
      (1 to 15).map(p => dv(p).as(s"d$p")): _*)
    val bitSums = for { p <- 1 to 15; k <- 0 until 4 } yield
      sum(when(shiftright(col(s"d$p"), k).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"b${(15 - p) * 4 + k}")
    val agg = withDigits.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val sim = (0 until 60).map(b =>
      when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
    agg.select(col("doc_id"), sim.as("simhash60"))
  }

  private def oldWinnow(docs: DataFrame): DataFrame = {
    val withToks = docs.select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 5)
    val grams = expr(
      """transform(sequence(0, size(toks)-5),
           i -> xxhash64(concat(toks[i],' ',toks[i+1],' ',toks[i+2],' ',toks[i+3],' ',toks[i+4])))""")
    val winnowed = expr(
      """array_distinct(transform(sequence(0, greatest(size(grams)-4, 0)),
           i -> array_min(slice(grams, i+1, 4))))""")
    withToks.withColumn("grams", grams)
      .withColumn("fp", explode(winnowed))
      .select(col("doc_id"), col("fp"))
  }

  private def oldWinnowMd5(docs: DataFrame): DataFrame = {
    val withToks = docs.select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 5)
    val grams = expr(
      """transform(sequence(0, size(toks)-5),
           i -> md5(concat(toks[i],' ',toks[i+1],' ',toks[i+2],' ',toks[i+3],' ',toks[i+4])))""")
    val winnowed = expr(
      """array_distinct(transform(sequence(0, greatest(size(grams)-4, 0)),
           i -> array_min(slice(grams, i+1, 4))))""")
    withToks.withColumn("grams", grams)
      .withColumn("fp", explode(winnowed))
      .select(col("doc_id"), col("fp"))
  }

  private def oldAnnBuckets(embeddings: DataFrame): DataFrame =
    graft.queries.TextQueries.annBuckets(embeddings) // unchanged this round

  // ---- the round-5 query formulations (verbatim) ---------------------

  val old: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_norm" -> ((s, d) => {
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
      t(s, d, "documents")
        .select(col("doc_id"), xxhash64(norm).as("__h"), length(norm).as("__len"))
        .groupBy(col("__h"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("copies"),
          min(col("__len")).as("norm_len"))
        .select(col("keeper"), col("copies"), col("norm_len"))
    }),
    "q_minhash_lsh" -> ((s, d) => oldMinhashBands(t(s, d, "documents"))),
    "q_minhash_md5" -> ((s, d) => oldMinhashBandsMd5(t(s, d, "documents"))),
    "q_minhash_pairs" -> ((s, d) => oldAnnCandidatePairs(
      oldMinhashBands(t(s, d, "documents")).withColumnRenamed("doc_id", "vec_id"))),
    "q_lsh_pairs_md5" -> ((s, d) => oldAnnCandidatePairs(
      oldMinhashBandsMd5(t(s, d, "documents")).withColumnRenamed("doc_id", "vec_id"))),
    "q_simhash64" -> ((s, d) => oldSimhash(t(s, d, "documents"))),
    "q_simhash_md5" -> ((s, d) => oldSimhashMd5(t(s, d, "documents"))),
    "q_fingerprint_winnow" -> ((s, d) => oldWinnow(t(s, d, "documents"))),
    "q_winnow_md5" -> ((s, d) => oldWinnowMd5(t(s, d, "documents"))),
    "q_ngram_jaccard" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val toks = docs.select(col("doc_id"),
        explode(array_distinct(split(col("text"), "\\s+"))).as("tok"))
      val sizes = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      val contrib = toks.select(col("doc_id").as("pid"), col("tok"))
        .unionByName(toks.select((col("doc_id") - 1).as("pid"), col("tok")))
      val inter = contrib.groupBy(col("pid"), col("tok"))
        .agg(count(lit(1)).as("c")).filter(col("c") === 2)
        .groupBy(col("pid")).agg(count(lit(1)).as("n_common"))
        .withColumnRenamed("pid", "doc_id")
      sizes.as("s1")
        .join(sizes.as("s2"), col("s2.doc_id") === col("s1.doc_id") + 1)
        .join(inter, inter("doc_id") === col("s1.doc_id"), "left")
        .select(col("s1.doc_id").as("doc_id"),
          coalesce(col("n_common"), lit(0L)).as("n_common"),
          round(coalesce(col("n_common"), lit(0L)).cast("double") /
            (col("s1.sz") + col("s2.sz") - coalesce(col("n_common"), lit(0L))), 4)
            .as("jaccard"))
    }),
    // q_embed_threshold / q_embed_topk_r4 / q_embed_neardup_exact /
    // q_ann_ivf_assign_r4 are NOT checked old-vs-new here any more:
    // round 6 moved the four oracle-CHECKED cosine queries to the
    // oracle's own f32 arithmetic (graft.functions.CosineF32 — DuckDB's
    // list_cosine_similarity replicated bitwise) because the round-5 f64
    // formulation rounds to a DIFFERENT 4th decimal whenever a score
    // lands on a round(.,4) half-boundary (observed: 0.1486 vs the
    // oracle's 0.1487 on regenerated sf data). Old-vs-new equality is
    // false BY DESIGN at such boundaries; the binding gate for these
    // four is tools/oracle_check.py (exact DuckDB compare, strictly
    // stronger), plus TwinSpec's independent f32 replays.
    "q_embed_topk" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"), cosineCol(col("embedding"), col("qe")).as("cos_raw"))
        .orderBy(col("cos_raw").desc, col("vec_id").asc)
        .limit(10)
        .select(col("vec_id"), round(col("cos_raw"), 4).as("cos_sim"))
    }),
    "q_embed_neardup" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val pairs = oldAnnCandidatePairs(oldAnnBuckets(e))
      pairs
        .join(e.select(col("vec_id").as("id_a"), col("embedding").as("emb_a")), Seq("id_a"))
        .join(e.select(col("vec_id").as("id_b"), col("embedding").as("emb_b")), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          round(cosineCol(col("emb_a"), col("emb_b")), 4).as("cos_sim"))
        .filter(col("cos_sim") >= 0.1)
    }),
    "q_firstwins" -> ((s, d) => {
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_linenumber").asc, col("l_partkey").asc)
      t(s, d, "lineitem")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
    }),
    "q_semi_join" -> ((s, d) => {
      t(s, d, "part").filter(col("p_size") >= 25)
        .join(t(s, d, "lineitem"), col("p_partkey") === col("l_partkey"), "left_semi")
        .select(col("p_partkey"), col("p_brand"))
    }),
    "q_robots_prefix" -> ((s, d) => {
      import s.implicits._
      val rules = Seq(
        ("/", true), ("/p1", false), ("/p12", true), ("/p3", false))
        .toDF("path_prefix", "allowed")
      val urls = t(s, d, "orders")
        .select(col("o_orderkey"),
          concat(lit("/p"), pmod(col("o_orderkey"), lit(20))).as("path"))
      val matched = urls.join(broadcast(rules),
          startswith(col("path"), col("path_prefix")))
      val w = Window.partitionBy(col("o_orderkey"))
        .orderBy(length(col("path_prefix")).desc)
      matched.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_orderkey"), col("path"), col("allowed"))
    }),
    "q_upsert_merge" -> ((s, d) => {
      val o = t(s, d, "orders")
      val cutoff = lit("1998-01-01").cast("timestamp")
      val old = o.filter(col("o_orderdate") < cutoff)
        .groupBy(col("o_custkey").as("k"))
        .agg(round(sum(col("o_totalprice")), 2).as("old_total"))
      val fresh = o.filter(col("o_orderdate") >= cutoff)
        .groupBy(col("o_custkey").as("k"))
        .agg(round(sum(col("o_totalprice")), 2).as("new_total"))
      old.join(fresh, Seq("k"), "full_outer")
        .select(col("k").as("o_custkey"),
          coalesce(col("new_total"), col("old_total")).as("merged_total"),
          col("new_total").isNotNull.as("was_updated"))
    }),
    "q_seed_progress" -> ((s, d) => {
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          round(coalesce(sum(col("o_totalprice")), lit(0.0)), 2).as("total_spend"))
    }),
    "q_recrawl_update" -> ((s, d) => {
      val wLast = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      val wFirst = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      t(s, d, "events")
        .withColumn("rl", row_number().over(wLast))
        .withColumn("rf", row_number().over(wFirst))
        .groupBy(col("user_id"))
        .agg(round(max(when(col("rf") === 1, col("value"))), 4).as("first_value"),
          round(max(when(col("rl") === 1, col("value"))), 4).as("last_value"))
        .withColumn("was_updated", col("first_value") =!= col("last_value"))
    }),
    "q_ann_ivf_topk" -> ((s, d) => {
      // round-5 read path reference: the ad-hoc (index-free) top-k over
      // the same corpus — same probe ranking and tie-breaks as the
      // indexed path by construction (IvfSpec pins this equivalence);
      // used here to re-verify the rewritten probe cosine kernel.
      graft.queries.Ivf.topK(t(s, d, "embeddings"))
    }))

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val only: Option[Set[String]] =
      if (args.length > 1) Some(args(1).split(",").toSet) else None
    val spark = graft.HostFit.session("graft-equiv-check")
    var failures = 0
    val names = old.keys.toSeq.sorted.filter(n => only.forall(_.contains(n)))
    names.foreach { name =>
      val oldDf = old(name)(spark, dir)
      val newDf = graft.SparkEntry.queries(name)(spark, dir)
      val schemaOld = oldDf.schema.map(f => (f.name, f.dataType)).toSeq
      val schemaNew = newDf.schema.map(f => (f.name, f.dataType)).toSeq
      if (schemaOld != schemaNew) {
        failures += 1
        println(s"[equiv] $name SCHEMA MISMATCH:\n  old: $schemaOld\n  new: $schemaNew")
      } else {
        val extraOld = oldDf.exceptAll(newDf).count()
        val extraNew = newDf.exceptAll(oldDf).count()
        val nOld = oldDf.count()
        val nNew = newDf.count()
        if (extraOld == 0 && extraNew == 0 && nOld == nNew)
          println(s"[equiv] $name OK rows=$nOld")
        else {
          failures += 1
          println(s"[equiv] $name ROWS MISMATCH old=$nOld new=$nNew " +
            s"onlyOld=$extraOld onlyNew=$extraNew")
          oldDf.exceptAll(newDf).show(5, truncate = false)
          newDf.exceptAll(oldDf).show(5, truncate = false)
        }
      }
    }
    println(s"[equiv] done: ${names.size - failures}/${names.size} equivalent ($dir)")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
