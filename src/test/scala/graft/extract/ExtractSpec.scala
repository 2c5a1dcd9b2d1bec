package graft.extract

import java.nio.charset.StandardCharsets.UTF_8

import graft.SparkSpec
import graft.synth.{Synth, SynthConfig}
import graft.tools.GenGoldens
import graft.url.UrlCanon
import org.apache.spark.sql.functions._

/** Golden byte-identity gate (BASELINE.json input_hint) + extraction
  * semantics. The committed golden_articles.jsonl pins sha256(body bytes)
  * per url — any drift in the extraction grammar or the generator fails
  * here.
  */
class ExtractSpec extends SparkSpec {

  val cfg: SynthConfig = GenGoldens.GoldenCfg
  lazy val pagesDf = Synth.pages(spark, cfg).toDF().cache()
  lazy val detailPages = pagesDf.filter(!col("url").contains("/mp/profile_ext"))
  lazy val listPages = pagesDf.filter(col("url").contains("/mp/profile_ext"))

  test("articles match committed goldens byte-for-byte (sha256 of body)") {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/golden_articles.jsonl"), "UTF-8")
    val golden = try src.getLines().map { line =>
      val hash = "\"url_hash\":(-?\\d+)".r.findFirstMatchIn(line).get.group(1).toLong
      val sha = "\"body_sha\":\"([0-9a-f]+)\"".r.findFirstMatchIn(line).get.group(1)
      val title = "\"title\":\"(.*?)\",\"body_sha\"".r.findFirstMatchIn(line).get.group(1)
      val read = "\"read_count\":(\\d+)".r.findFirstMatchIn(line).get.group(1).toInt
      val like = "\"like_count\":(\\d+)".r.findFirstMatchIn(line).get.group(1).toInt
      val pub = "\"publish_unix\":(-?\\d+)".r.findFirstMatchIn(line).get.group(1).toLong
      hash -> ((sha, title, read, like, pub))
    }.toMap finally src.close()

    val got = Extract.articles(detailPages)
      .select(col("url_hash"), col("body"), col("title"), col("read_count"),
        col("like_count"), col("publish_ts").cast("long").as("pub"))
      .collect()

    assert(got.length === golden.size, "article row count mismatch vs golden")
    got.foreach { r =>
      val (sha, title, read, like, pub) = golden(r.getLong(0))
      assert(GenGoldens.sha256(r.getString(1)) === sha,
        s"body byte-identity violated for url_hash=${r.getLong(0)}")
      assert(r.getString(2) === title)
      assert(r.getInt(3) === read)
      assert(r.getInt(4) === like)
      assert(r.getLong(5) === pub)
    }
  }

  test("zero-copy body views survive multi-batch off-heap parquet reads") {
    // ADVICE r2: the fused expression returns fromAddress views into the
    // scan's column buffer; off-heap vectorized batches are RECYCLED, so
    // any operator chain that held a row past its batch would read
    // garbage. Force many tiny off-heap batches + buffering consumers
    // (sort, collect) and pin byte identity against the in-memory path.
    val dir = java.nio.file.Files.createTempDirectory("offheap").toString
    val stress = SynthConfig(nAccounts = 6, articlesPerAccount = 20, longTail = 0)
    Synth.pages(spark, stress).toDF()
      .filter(!col("url").contains("/mp/profile_ext"))
      .write.mode("overwrite").parquet(s"$dir/pages")
    val confs = Seq(
      "spark.sql.columnVector.offheap.enabled" -> "true",
      "spark.sql.parquet.columnarReaderBatchSize" -> "7")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val viaParquet = Extract.articles(spark.read.parquet(s"$dir/pages"))
        .orderBy("url") // sort = a buffering consumer spanning batches
        .select("url", "title", "body", "comments_json")
        .collect()
      val direct = Extract.articles(
          Synth.pages(spark, stress).toDF().filter(!col("url").contains("/mp/profile_ext")))
        .orderBy("url")
        .select("url", "title", "body", "comments_json")
        .collect()
      assert(viaParquet.length === direct.length)
      assert(viaParquet.length >= 100, "stress must span many 7-row batches")
      viaParquet.zip(direct).foreach { case (a, b) =>
        assert(a === b, s"byte drift at ${a.getString(0)}")
      }
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("body is untrimmed and exactly the div contents") {
    val html = Synth.articleHtml(cfg, 3, 1704067200L)
    val body = "(?s)<div id=\"js_content\"[^>]*>(.*?)</div>".r
      .findFirstMatchIn(html).get.group(1)
    assert(body.startsWith("\n<p>") && body.endsWith("</p>\n"))
    import spark.implicits._
    val got = Seq(html).toDF("text").select(BuiltinExtract.bodyCol($"text")).as[String].head()
    assert(got === body)
    assert(got.getBytes(UTF_8).sameElements(body.getBytes(UTF_8)))
  }

  test("comments explode with stable idx, content, timestamps") {
    val c = Extract.comments(detailPages)
    assert(c.columns.toSeq ===
      Seq("url_hash", "idx", "content", "nick_name", "like_count", "create_ts"))
    assert(c.count() > 0)
    // idx dense from 0 per url_hash
    val bad = c.groupBy("url_hash")
      .agg(min("idx").as("mn"), max("idx").as("mx"), count("*").as("n"))
      .filter(col("mn") =!= 0 || col("mx") =!= col("n") - 1)
    assert(bad.count() === 0)
  }

  test("list-page discovery yields all article urls + pagination, drops type-51") {
    val d = Extract.discovered(listPages).cache()
    val details = d.filter(col("kind") === "detail")
    // every generated article is discovered exactly once
    assert(details.count() === cfg.nArticles.toLong)
    val expected = (0 until cfg.nArticles)
      .map(i => UrlCanon.canonicalize(Synth.articleUrlRaw(cfg, i))).toSet
    val gotUrls = details.select("url").collect().map(_.getString(0)).toSet
    assert(gotUrls === expected)
    // pagination: every non-final list page yields its successor
    val lists = d.filter(col("kind") === "list")
    assert(lists.count() === (cfg.nAccounts * (cfg.pagesPerAccount - 1)).toLong)
    // biz extracted from url for all mp.weixin urls
    assert(d.filter(col("biz") === "").count() === 0)
    d.unpersist()
  }

  test("malformed pages extract as null/empty, never throw (ANSI-safe)") {
    import spark.implicits._
    val junk = Seq(
      ("https://mp.weixin.example/s?__biz=BIZX&mid=1&idx=1&sn=ff", "<html>no body here"),
      ("https://hostX.example/page/1", ""),
      ("https://h.example/x", "<div id=\"js_content\">partial</div>" +
        "<script>var ct = \"notanumber\";</script>"))
      .toDF("url", "text")
    // numeric range overflow must null out, never throw — both paths
    val overflow = Seq(("https://h.example/y",
      "<div id=\"js_content\">b</div><script>var ct = \"99999999999999999999\";</script>" +
        "<script type=\"application/json\" id=\"appmsgext\">" +
        "{\"appmsgstat\":{\"read_num\":99999999999,\"like_num\":3}}</script>"))
      .toDF("url", "text")
    val o = Extract.articles(overflow).collect().head
    assert(o.isNullAt(o.fieldIndex("publish_ts")))
    assert(o.isNullAt(o.fieldIndex("read_count")))
    assert(o.getInt(o.fieldIndex("like_count")) === 3)
    // dirty list page: boolean can_msg_continue + hostile next_offset
    val dirtyList = Seq(
      ("https://mp.weixin.example/mp/profile_ext?action=getmsg&__biz=B&offset=0",
        """{"can_msg_continue":true,"next_offset":10,"general_msg_list":"{\"list\":[]}"}"""),
      ("https://mp.weixin.example/mp/profile_ext?action=getmsg&__biz=B&offset=0",
        """{"can_msg_continue":1,"next_offset":"$1\\","general_msg_list":"{\"list\":[]}"}"""))
      .toDF("url", "text")
    assert(Extract.discovered(dirtyList).count() === 0) // no throw, no junk rows
    // bodiless rows are dropped; the partial row survives with null counts
    val arts = Extract.articles(junk).collect()
    assert(arts.length === 1)
    assert(arts.head.isNullAt(arts.head.fieldIndex("publish_ts")))
    assert(arts.head.isNullAt(arts.head.fieldIndex("read_count")))
    // truncated inner list JSON → zero discovered rows, no exception
    val badList = Seq(
      ("https://mp.weixin.example/mp/profile_ext?action=getmsg&__biz=BIZX&offset=0",
        """{"ret":0,"can_msg_continue":1,"next_offset":10,"general_msg_list":"{\"list\":[{bad"""))
      .toDF("url", "text")
    val d = Extract.discovered(badList).collect()
    assert(d.count(_.getAs[String]("kind") == "detail") === 0)
  }

  test("fused ExtractArticle expression == composed built-ins, byte for byte") {
    import spark.implicits._
    val a = detailPages.select(
      col("url"),
      ExtractArticle(col("text")).as("f"),
      BuiltinExtract.titleCol(col("text")).as("title"),
      BuiltinExtract.bodyCol(col("text")).as("body"),
      BuiltinExtract.publishTsCol(col("text")).cast("long").as("pub"),
      BuiltinExtract.readCountCol(col("text")).as("rd"),
      BuiltinExtract.likeCountCol(col("text")).as("lk"))
    a.collect().foreach { r =>
      val f = r.getStruct(r.fieldIndex("f"))
      assert(f.getString(0) === r.getString(r.fieldIndex("title")), r.getString(0))
      assert(f.getString(1) === r.getString(r.fieldIndex("body")), r.getString(0))
      assert(f.getLong(2) === r.getLong(r.fieldIndex("pub")))
      assert(f.getInt(3) === r.getInt(r.fieldIndex("rd")))
      assert(f.getInt(4) === r.getInt(r.fieldIndex("lk")))
    }
    // comments via fused payload == comments via composed path
    val viaFused = Extract.comments(detailPages)
      .collect().map(_.toSeq).toSet
    val viaBuiltins = detailPages.select(
      graft.url.UrlCanon.urlHashCol(col("url")).as("url_hash"),
      posexplode(BuiltinExtract.commentsCol(col("text"))).as(Seq("idx", "c")))
      .select(col("url_hash"), col("idx"), col("c.content"), col("c.nick_name"),
        col("c.like_num"), timestamp_seconds(col("c.create_time")))
      .collect().map(_.toSeq).toSet
    assert(viaFused === viaBuiltins)
  }

  test("discovered urls are canonical (volatile params stripped, idempotent)") {
    val urls = Extract.discovered(listPages)
      .select("url").collect().map(_.getString(0))
    urls.foreach { u =>
      assert(!u.contains("chksm=") && !u.contains("scene="))
      assert(UrlCanon.canonicalize(u) === u)
    }
  }
}
