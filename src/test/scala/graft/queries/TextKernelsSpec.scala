package graft.queries

import graft.SparkSpec
import graft.functions.TextKernels2
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** r6 optimization gate: every fused text kernel must be BIT-IDENTICAL
  * to the round-5 higher-order/explode-groupBy formulation it replaced
  * — on a grammar-shaped corpus AND on adversarial edge texts (unicode
  * whose lowercase maps into ASCII, multi-byte code points, tabs,
  * repeated tokens, token counts straddling the shingle/gram minima).
  * The comparisons are query-level: the production operators
  * (`TextQueries.minhashBands`, `simhash`, `winnow` and their md5 twins,
  * which the q_minhash_lsh / q_simhash64 / q_fingerprint_winnow queries
  * and the oracle-checked md5 queries run) against the round-5 queries
  * verbatim, band step included. The md5 variants are also replayed by
  * the DuckDB oracle on the generated testdata; this spec covers the
  * xxhash64 variants the oracle cannot express and corpora the testdata
  * does not cover.
  */
class TextKernelsSpec extends SparkSpec {

  private val edgeTexts = Seq(
    "", " ", "   ", "\t", "a", "a b", "a b c", "a b c d", "a b c d e",
    "a b c d e f", "one two three four five six seven eight nine",
    "rep rep rep rep rep rep", "UPPER Case MiXeD 123 abc",
    "ünïcode tökens ärä fün", "中文 分词 测试 文本 哈希",
    "emoji 🎉 in 🎊 tokens 🎈 here yes", "K kelvin İ dotted",
    "tab\tseparated and  double  spaced", "punct! ok, sure. (yes) [no]",
    "a-b c_d e.f g/h i=j", "trailing space ", " leading space",
    "exactly five tokens here now", "exactly four tokens here",
    "exactly six tokens here now ok")

  private def docs: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(20260822L)
    val words = Seq("the", "quick", "brown", "fox", "jumps", "over", "lazy",
      "dog", "data", "spark", "crawl", "page", "文本", "K", "x1", "y2")
    val gen = (0 until 60).map { i =>
      (i.toLong, (0 until (3 + rnd.nextInt(40)))
        .map(_ => words(rnd.nextInt(words.size))).mkString(" "))
    }
    val edge = edgeTexts.zipWithIndex.map { case (t, i) => (1000L + i, t) }
    (gen ++ edge).toDF("doc_id", "text")
  }

  private def assertSameRows(a: DataFrame, b: DataFrame, what: String): Unit = {
    assert(a.schema.map(f => (f.name, f.dataType)) ===
      b.schema.map(f => (f.name, f.dataType)), s"$what schema")
    assert(a.exceptAll(b).count() === 0, s"$what: rows only in old")
    assert(b.exceptAll(a).count() === 0, s"$what: rows only in new")
    assert(a.count() === b.count(), s"$what count")
  }

  // ---- round-5 formulations (verbatim references) --------------------

  /** Round-5 16-signature minhash: shingles exploded, one min per
    * seed in a groupBy; `hash` is xxhash64 or md5. */
  private def oldMinhashSigs(d: DataFrame, hash: Column => Column): DataFrame = {
    val withToks = d.select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 3)
    val shingled = withToks.select(col("doc_id"),
      explode(array_distinct(expr(
        "transform(sequence(0, size(toks)-3), i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))")))
        .as("sh"))
    val minCols = (0 until 16).map(i =>
      min(hash(concat(col("sh"), lit(s"#$i")))).as(s"m$i"))
    shingled.groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
  }

  /** Explodes one `bb` struct per band into (doc_id, band, bucket). */
  private def explodeBands(sigs: DataFrame, bands: Seq[Column]): DataFrame =
    sigs.select(col("doc_id"), explode(array(bands: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))

  private def oldMinhashBands(d: DataFrame): DataFrame =
    explodeBands(oldMinhashSigs(d, xxhash64(_)), (0 until 8).map { b =>
      struct(lit(b).as("band"),
        xxhash64(concat_ws(",",
          (0 until 2).map(j => col(s"m${b * 2 + j}").cast("string")): _*), lit(b))
          .as("bucket"))
    })

  private def oldMinhashBandsMd5(d: DataFrame): DataFrame =
    explodeBands(oldMinhashSigs(d, md5), (0 until 8).map { b =>
      struct(lit(b.toLong).as("band"),
        md5(concat_ws(",", col(s"m${b * 2}"), col(s"m${b * 2 + 1}"), lit(b.toString)))
          .as("bucket"))
    })

  test("MinHashSigsXx ≡ explode+16-min-groupBy (incl. unicode/edge docs)") {
    assertSameRows(oldMinhashBands(docs), TextQueries.minhashBands(docs), "minhash-xx bands")
  }

  test("MinHashSigsMd5 ≡ explode+16-min-md5-groupBy") {
    assertSameRows(oldMinhashBandsMd5(docs), TextQueries.minhashBandsMd5(docs),
      "minhash-md5 bands")
  }

  test("SimhashXx / SimhashMd5 ≡ explode+bit-vote groupBy") {
    val d = docs
    val toks = d.select(col("doc_id"),
      explode(split(col("text"), "\\s+")).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val bitSums = (0 until 64).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$b"))
    val agg = toks.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val sim = (0 until 64).map(b =>
      when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
    val oldXx = agg.select(col("doc_id"), sim.as("simhash"))
    assertSameRows(oldXx, TextQueries.simhash(d), "simhash-xx")

    val hx = d.select(col("doc_id"),
      explode(split(col("text"), "\\s+")).as("tok"))
      .withColumn("hx", substring(md5(col("tok")), 1, 15))
    def dv(p: Int) = conv(substring(col("hx"), p, 1), 16, 10).cast("int")
    val withDigits = hx.select(col("doc_id") +:
      (1 to 15).map(p => dv(p).as(s"d$p")): _*)
    val bitSums60 = for { p <- 1 to 15; k <- 0 until 4 } yield
      sum(when(shiftright(col(s"d$p"), k).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"b${(15 - p) * 4 + k}")
    val agg60 = withDigits.groupBy(col("doc_id")).agg(bitSums60.head, bitSums60.tail: _*)
    val sim60 = (0 until 60).map(b =>
      when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
    val oldMd5 = agg60.select(col("doc_id"), sim60.as("simhash60"))
    assertSameRows(oldMd5, TextQueries.simhashMd5(d), "simhash-md5")
  }

  test("WinnowFpsXx / WinnowFpsMd5 ≡ transform/slice/array_min winnowing") {
    val d = docs
    def oldW(gramHash: String): DataFrame = {
      val withToks = d.select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
        .filter(size(col("toks")) >= 5)
      val grams = expr(
        s"""transform(sequence(0, size(toks)-5),
             i -> $gramHash(concat(toks[i],' ',toks[i+1],' ',toks[i+2],' ',toks[i+3],' ',toks[i+4])))""")
      val winnowed = expr(
        """array_distinct(transform(sequence(0, greatest(size(grams)-4, 0)),
             i -> array_min(slice(grams, i+1, 4))))""")
      withToks.withColumn("grams", grams)
        .withColumn("fp", explode(winnowed))
        .select(col("doc_id"), col("fp"))
    }
    assertSameRows(oldW("xxhash64"), TextQueries.winnow(d), "winnow-xx")
    assertSameRows(oldW("md5"), TextQueries.winnowMd5(d), "winnow-md5")
  }

  test("NormalizeAscii ≡ regex scrub on lowered text (unicode→ASCII lowercases included)") {
    val d = docs
    val oldNorm = d.select(col("doc_id"), trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " ")).as("n"))
    val newNorm = d.select(col("doc_id"),
      TextKernels2.normalizeAscii(lower(col("text"))).as("n"))
    assertSameRows(oldNorm, newNorm, "normalize")
  }

  test("kernels run inside whole-stage codegen (no fallback break)") {
    // range source (not a LocalRelation, which the optimizer would
    // constant-fold away together with the projection under test)
    val rdocs = spark.range(0, 50)
      .select(col("id").as("doc_id"),
        concat_ws(" ", lit("tok"), col("id").cast("string"), lit("a b c d e f"))
          .as("text"))
    val plan = rdocs
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 5)
      .select(TextKernels2.minhashSigsXx(col("toks")).as("a"),
        TextKernels2.simhashMd5(col("toks")).as("b"),
        TextKernels2.winnowFpsMd5(col("toks")).as("c"),
        TextKernels2.normalizeAscii(lower(concat_ws(" ", col("toks")))).as("d"))
      .queryExecution.executedPlan
    val codegenSpans = plan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegenSpans.nonEmpty, s"expected codegen spans in:\n$plan")
    // the kernel projection itself must sit inside a codegen span
    val inSpan = codegenSpans.exists(_.collectLeaves().nonEmpty)
    assert(inSpan)
  }

  test("null / sub-minimum token arrays follow the LOUD-null contract") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq("a", "b")), // < 3 tokens → minhash null
      (2L, Seq("a", "b", "c", "d")) // < 5 tokens → winnow null
    ).toDF("id", "toks")
    val r = df.select(col("id"),
      TextKernels2.minhashSigsXx(col("toks")).as("m"),
      TextKernels2.winnowFpsXx(col("toks")).as("w")).collect()
      .sortBy(_.getLong(0))
    assert(r(0).isNullAt(1) && r(0).isNullAt(2))
    assert(!r(1).isNullAt(1) && r(1).isNullAt(2))
    val withNullText = Seq((1L, null.asInstanceOf[String])).toDF("id", "text")
    val n = withNullText.select(
      TextKernels2.normalizeAscii(lower(col("text"))).as("n"),
      TextKernels2.simhashXx(split(col("text"), "\\s+")).as("s")).collect()
    assert(n(0).isNullAt(0) && n(0).isNullAt(1))
  }

  test("a null token element nulls all six token kernels, codegen and interpreted") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq("a", null, "c", "d", "e", "f")),
      (2L, Seq("a", "b", "c", "d", "e", "f"))
    ).toDF("id", "toks").repartition(2) // no LocalRelation constant-folding
    val kernels = Seq(
      TextKernels2.minhashSigsXx(col("toks")), TextKernels2.minhashSigsMd5(col("toks")),
      TextKernels2.simhashXx(col("toks")), TextKernels2.simhashMd5(col("toks")),
      TextKernels2.winnowFpsXx(col("toks")), TextKernels2.winnowFpsMd5(col("toks")))
    for ((mode, wholeStage) <- Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false"))
      withConf("spark.sql.codegen.factoryMode" -> mode,
        "spark.sql.codegen.wholeStage" -> wholeStage) {
        val r = df.select(col("id") +: kernels: _*).collect().sortBy(_.getLong(0))
        kernels.indices.foreach { k =>
          assert(r(0).isNullAt(k + 1), s"$mode: kernel $k must be null on a null element")
          assert(!r(1).isNullAt(k + 1), s"$mode: kernel $k must be set on a full array")
        }
      }
  }
}
