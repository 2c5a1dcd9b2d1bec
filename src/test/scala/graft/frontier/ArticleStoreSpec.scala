package graft.frontier

import java.sql.Timestamp

import graft.SparkSpec
import graft.checkpoint.SnapshotCatalog
import org.apache.spark.sql.functions._

class ArticleStoreSpec extends SparkSpec {
  import spark.implicits._

  private def art(hash: Long, biz: String, read: Int, wave: Int) =
    (s"https://h/$hash", hash, biz, s"t$hash", s"b$hash",
      new Timestamp(1704067200000L), read, 0,
      s"""{"elected_comment":[{"content":"c$hash-w$wave","nick_name":"n","like_num":$read,"create_time":1704067200}]}""",
      wave)

  private val cols = Seq("url", "url_hash", "biz", "title", "body",
    "publish_ts", "read_count", "like_count", "comments_json", "wave")

  test("merged view is last-write-wins per url_hash across snapshots") {
    val dir = java.nio.file.Files.createTempDirectory("store").toString
    val c = new SnapshotCatalog(dir, spark)
    c.commit(0, -1, Map("articles_delta" ->
      Seq(art(1, "A", 100, 0), art(2, "A", 5, 0)).toDF(cols: _*)))
    // re-crawl updates read counts for url 1
    c.commit(1, 0, Map("articles_delta" ->
      Seq(art(1, "A", 250, 1), art(3, "B", 7, 1)).toDF(cols: _*)))
    val merged = ArticleStore.articles(c, 1)
    assert(merged.count() === 3)
    assert(merged.filter($"url_hash" === 1).select("read_count").as[Int].head() === 250)
    val stats = ArticleStore.accountStats(c, 1).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stats === Map("A" -> 2L, "B" -> 1L))
    // comments view is last-write-wins too (parse-on-read over merged)
    val cm = ArticleStore.comments(c, 1)
      .select("url_hash", "content").as[(Long, String)].collect().toMap
    assert(cm === Map(1L -> "c1-w1", 2L -> "c2-w0", 3L -> "c3-w1"))
  }

  test("compaction: view identical, reads only base + delta tail") {
    val cfg = graft.synth.SynthConfig(nAccounts = 3, articlesPerAccount = 10, longTail = 40)
    val idx = Wave.pageIndex(graft.synth.Synth.pages(spark, cfg).toDF())
    def drive(dir: String, compactEvery: Int) = {
      val catalog = new SnapshotCatalog(dir, spark)
      val rc = graft.CrawlDriver.RunConfig(dir, nWaves = 4,
        seenCapacity = 10000L, nShards = 2, compactEvery = compactEvery)
      graft.CrawlDriver.init(spark, catalog,
        graft.synth.Synth.seedFrontier(spark, cfg).toDF(),
        graft.synth.Synth.robots(spark, cfg).toDF(),
        graft.synth.Synth.budgets(spark, cfg).toDF(), rc)
      graft.CrawlDriver.run(spark, catalog, idx, rc)
      catalog
    }
    val plain = drive(
      java.nio.file.Files.createTempDirectory("nocompact").toString, 0)
    val compact = drive(
      java.nio.file.Files.createTempDirectory("compact").toString, 1)
    val k = plain.latest.get
    assert(compact.latest.get === k)
    val base = compact.latestCommittedWithTable(k, "articles_base").getOrElse(
      fail("no compaction base landed"))
    assert(base >= 2, "compaction must have run past the first fold")
    assert(!plain.hasTable(base, "articles_base"))
    // identical merged view
    val a = ArticleStore.articles(plain, k)
    val b = ArticleStore.articles(compact, k)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "compacted view must equal the full-delta view")
    // the compacted read's scan touches ONLY the newest base + the delta
    // tail after it — never the deltas the base already folded in (the
    // O(history) merge-on-read cost this exists to kill)
    def snap(i: Int) = f"/$i%06d/"
    val allowed = (s"${snap(base)}articles_base" +:
      (base to k).map(i => s"${snap(i)}articles_delta")).toSet
    val stray = b.inputFiles.toSeq.filterNot(f => allowed.exists(f.contains))
    assert(stray.isEmpty, s"read must touch only base@$base + tail: ${stray.take(3)}")
  }

  test("wave metrics carry per-partition lineage and consistent counts") {
    // run 2 waves and validate the metrics table invariants (G4)
    val cfg = graft.synth.SynthConfig(nAccounts = 3, articlesPerAccount = 10, longTail = 40)
    val idx = Wave.pageIndex(graft.synth.Synth.pages(spark, cfg).toDF())
    val dir = java.nio.file.Files.createTempDirectory("metrics").toString
    val catalog = new SnapshotCatalog(dir, spark)
    val rc = graft.CrawlDriver.RunConfig(dir, nWaves = 2, seenCapacity = 10000L, nShards = 2)
    graft.CrawlDriver.init(spark, catalog,
      graft.synth.Synth.seedFrontier(spark, cfg).toDF(),
      graft.synth.Synth.robots(spark, cfg).toDF(),
      graft.synth.Synth.budgets(spark, cfg).toDF(), rc)
    graft.CrawlDriver.run(spark, catalog, idx, rc)
    (1 to catalog.latest.get).foreach { snap =>
      val m = catalog.readTable(snap, "metrics")
      assert(m.count() > 0)
      // per-partition counts are REAL lineage: they must sum (not max —
      // no run-level literals repeated per row) to the wave's tables
      val total = m.agg(sum("fetched")).as[Long].head()
      assert(total === catalog.readTable(snap, "fetched").count(),
        "per-partition fetched must sum to the wave's fetched rows")
      val denied = m.agg(sum("denied")).as[Long].head()
      assert(denied === catalog.readTable(snap, "denied").count())
      // extracted lives in the manifest (observed during the write)
      val mf = catalog.manifest(snap)
      val extracted = "\"articles_delta\":\\{\"rows\":(\\d+)".r
        .findFirstMatchIn(mf).get.group(1).toLong
      assert(extracted === catalog.readTable(snap, "articles_delta").count())
    }
  }
}
