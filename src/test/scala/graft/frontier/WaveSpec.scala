package graft.frontier

import graft.SparkSpec
import graft.checkpoint.SnapshotCatalog
import graft.synth.{Synth, SynthConfig}
import graft.CrawlDriver
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class WaveSpec extends SparkSpec {
  import spark.implicits._

  val cfg: SynthConfig = SynthConfig(nAccounts = 8, articlesPerAccount = 25, longTail = 120)
  lazy val pagesIdx: DataFrame = Wave.pageIndex(Synth.pages(spark, cfg).toDF()).cache()

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("wave-spec").toString

  private def crawl(dir: String, nWaves: Int, fromScratch: Boolean = true,
      waveCfg: Wave.WaveConfig = Wave.WaveConfig(),
      robots: DataFrame = null): SnapshotCatalog = {
    val catalog = new SnapshotCatalog(dir, spark)
    val rc = CrawlDriver.RunConfig(dir, nWaves = nWaves, seenCapacity = 50000L,
      nShards = 4, waveCfg = waveCfg)
    if (fromScratch) {
      CrawlDriver.init(spark, catalog, Synth.seedFrontier(spark, cfg).toDF(),
        Option(robots).getOrElse(Synth.robots(spark, cfg).toDF()),
        Synth.budgets(spark, cfg).toDF(), rc)
    }
    CrawlDriver.run(spark, catalog, pagesIdx, rc)
    catalog
  }

  private def copyTree(from: String, to: String): Unit = {
    import java.nio.file.{Files, Paths}
    val src = Paths.get(from)
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val dest = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dest) else Files.copy(p, dest)
    } finally walk.close()
  }

  private def orderKey(c: SnapshotCatalog): Seq[(Int, Long, Long)] = {
    val last = c.latest.get
    c.readDeltasUpTo(last, "fetched")
      .select($"wave", $"priority", $"url_hash")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(identity).toSeq
  }

  /** The default two-wave crawl, shared by the specs that only read it. */
  private lazy val twoWaves: SnapshotCatalog = crawl(freshDir(), 2)

  test("robots-denied urls are never fetched, and are reported") {
    val c = twoWaves
    val denied = c.readDeltasUpTo(c.latest.get, "denied")
    assert(denied.count() > 0)
    // every denied host is a k%13==0 long-tail host with /page/ path
    denied.collect().foreach { r =>
      val host = r.getAs[String]("host")
      val k = "host(\\d+)\\.example".r.findFirstMatchIn(host).get.group(1).toInt
      assert(k % 13 === 0)
    }
    val fetched = c.readDeltasUpTo(c.latest.get, "fetched").select("url_hash")
    assert(fetched.join(denied, Seq("url_hash"), "inner").count() === 0)
  }

  test("robots tie-break: equal-length Allow + Disallow resolves to allow") {
    // RFC 9309 least-restrictive tie-break — and the verdict must be
    // independent of collect_list's post-shuffle rule order
    val frontier = Seq(
      ("https://t.example/a/x", 1L, "t.example", "", "detail", 0, 1L,
        new java.sql.Timestamp(0L))).toDF(
      "url", "url_hash", "host", "biz", "kind", "wave", "priority", "discovered_ts")
    Seq(
      Seq(("t.example", "/a", true), ("t.example", "/a", false)),
      Seq(("t.example", "/a", false), ("t.example", "/a", true))
    ).foreach { ruleRows =>
      val rules = ruleRows.toDF("host", "path_prefix", "allowed")
      val (allowed, denied) = Wave.robotsGate(frontier, rules)
      assert(allowed.count() === 1L && denied.count() === 0L,
        s"tie must resolve to allow for rules $ruleRows")
    }
    // longer disallow still beats shorter allow
    val rules2 = Seq(("t.example", "/", true), ("t.example", "/a", false))
      .toDF("host", "path_prefix", "allowed")
    val (a2, d2) = Wave.robotsGate(frontier, rules2)
    assert(a2.count() === 0L && d2.count() === 1L)
  }

  test("shuffle-joined host lookups (broadcast threshold -1) replay the default crawl") {
    // no config field picks the lookups' join: a rules or budgets table
    // above the broadcast threshold takes the planner's shuffle join,
    // and the crawl must not change with it
    val shuffled = withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(
      crawl(freshDir(), 2))
    def seen(c: SnapshotCatalog) =
      CrawlDriver.seenKeys(c, c.latest.get).as[Long].collect().sorted.toSeq
    def extracted(c: SnapshotCatalog) =
      c.readDeltasUpTo(c.latest.get, "articles_delta").select("url_hash")
        .as[Long].collect().sorted.toSeq
    assert(orderKey(shuffled) === orderKey(twoWaves))
    assert(seen(shuffled) === seen(twoWaves))
    assert(extracted(shuffled) === extracted(twoWaves))
    assert(extracted(twoWaves).nonEmpty)
  }

  test("politeness: per host per wave, fetched <= tokens_per_round") {
    val c = crawl(freshDir(), 3)
    val budgets = c.readTable(0, "budgets")
    (1 to c.latest.get).foreach { snap =>
      val perHost = c.readTable(snap, "fetched")
        .withColumn("host", graft.url.UrlCanon.hostCol($"url"))
        .groupBy("host").count()
        .join(budgets, Seq("host"))
        .filter($"count" > $"tokens_per_round")
      assert(perHost.count() === 0, s"budget violated in snapshot $snap")
    }
  }

  test("no url is ever fetched twice (seen set is exact)") {
    val c = crawl(freshDir(), 4)
    val fetched = c.readDeltasUpTo(c.latest.get, "fetched")
    val dupes = fetched.groupBy("url_hash").count().filter($"count" > 1)
    assert(dupes.count() === 0)
    // every committed fetch carries its event time
    assert(fetched.count() > 0)
    assert(fetched.filter($"discovered_ts".isNull).count() === 0,
      "every committed fetch carries its event time")
    // a real run has extracted detail fetches AND discovery-only list fetches
    val extracted = fetched.join(
      c.readDeltasUpTo(c.latest.get, "articles_delta").select("url_hash"),
      Seq("url_hash"), "left_semi").count()
    assert(extracted > 0 && extracted < fetched.count(),
      s"both extracted and discovery-only fetches must occur ($extracted of ${fetched.count()})")
  }

  test("crawl order is identical across shuffle parallelism (4 vs 9)") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val a = try { spark.conf.set("spark.sql.shuffle.partitions", "4"); orderKey(crawl(freshDir(), 3)) }
      finally spark.conf.set("spark.sql.shuffle.partitions", before)
    val b = try { spark.conf.set("spark.sql.shuffle.partitions", "9"); orderKey(crawl(freshDir(), 3)) }
      finally spark.conf.set("spark.sql.shuffle.partitions", before)
    assert(a === b)
  }

  test("kill/resume replays the exact crawl ordering") {
    val full = crawl(freshDir(), 4)
    val dirB = freshDir()
    crawl(dirB, 2) // "killed" after 2 waves
    val resumed = crawl(dirB, 4, fromScratch = false) // resume from latest
    assert(orderKey(resumed) === orderKey(full))
    // and the seen sets agree exactly
    val sa = full.readDeltasUpTo(full.latest.get, "fetched")
      .select("url_hash").as[Long].collect().sorted.toSeq
    val sb = resumed.readDeltasUpTo(resumed.latest.get, "fetched")
      .select("url_hash").as[Long].collect().sorted.toSeq
    assert(sa === sb)
  }

  test("salting splits hot host but preserves per-host budget and determinism") {
    val salted = Wave.WaveConfig(targetBucketRows = 20L)
    val a = orderKey(crawl(freshDir(), 3, waveCfg = salted))
    val b = orderKey(crawl(freshDir(), 3, waveCfg = salted))
    assert(a === b, "salted run must be deterministic")
    val c = crawl(freshDir(), 3, waveCfg = salted)
    val budgets = c.readTable(0, "budgets")
    (1 to c.latest.get).foreach { snap =>
      val over = c.readTable(snap, "fetched")
        .withColumn("host", graft.url.UrlCanon.hostCol($"url"))
        .groupBy("host").count()
        .join(budgets, Seq("host"))
        .filter($"count" > $"tokens_per_round")
      assert(over.count() === 0)
    }
  }

  test("list-then-detail ordering with per-account recency priority") {
    val c = crawl(freshDir(), 3)
    // wave 1 fetches: list pages (priority 0) + newest details per account
    val w1 = c.readTable(2, "fetched")
    val lists = w1.filter($"url".contains("profile_ext"))
    val details = w1.filter(!$"url".contains("profile_ext"))
    assert(lists.count() > 0 && details.count() > 0)
    assert(lists.select(max($"priority")).as[Long].head() === 0L)
    assert(details.select(min($"priority")).as[Long].head() >= 1L)
    // within an account, fetched details are a prefix of the recency rank
    val arts = c.readDeltasUpTo(c.latest.get, "articles_delta")
      .filter($"biz" =!= "")
    val perBiz = arts.groupBy("biz")
      .agg(count("*").as("n"), max("publish_ts").as("newest"))
    assert(perBiz.count() === cfg.nAccounts.toLong)
  }

  test("robots rules ingest from corpus /robots.txt pages (no pre-built table)") {
    val corpus = Synth.pages(spark, cfg).toDF()
      .unionByName(Synth.robotsPages(spark).toDF())
    val ingested = Synth.robotsFromPages(corpus)
    // parsed rules ≡ the pre-built table (as a set)
    val got = ingested.collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2))).toSet
    val want = Synth.robots(spark, cfg).collect()
      .map(r => (r.host, r.path_prefix, r.allowed)).toSet
    assert(got === want)
    // and an end-to-end crawl gated by the ingested rules replays the
    // pre-built-rules crawl exactly
    val a = orderKey(twoWaves)
    val b = orderKey(crawl(freshDir(), 2, robots = ingested))
    assert(a === b)
  }

  test("re-crawl refresh: retraction + re-fetch updates counts last-write-wins") {
    val small = SynthConfig(nAccounts = 2, articlesPerAccount = 6, longTail = 0)
    val corpus1 = Synth.pages(spark, small).toDF()
    val idx1 = Wave.pageIndex(corpus1).cache()
    val dir = freshDir()
    val catalog = new SnapshotCatalog(dir, spark)
    val rc = CrawlDriver.RunConfig(dir, nWaves = 5, seenCapacity = 10000L, nShards = 2)
    CrawlDriver.init(spark, catalog, Synth.seedFrontier(spark, small).toDF(),
      Synth.robots(spark, small).toDF(), Synth.budgets(spark, small).toDF(), rc)
    CrawlDriver.run(spark, catalog, idx1, rc)
    val drained = catalog.latest.get
    val before = ArticleStore.articles(catalog, drained)
    val beforeReads = before.filter($"biz" === "BIZ0000")
      .select("url_hash", "read_count").as[(Long, Int)].collect().toMap
    assert(beforeReads.size === small.articlesPerAccount)

    // the web changed: v2 captures for account 0's articles (read bumped)
    val v2 = (0 until small.articlesPerAccount).map(j => Synth.articlePageV2(small, j))
    val idx2 = Wave.pageIndexLatest(corpus1.unionByName(v2.toDF())).cache()
    // latest-wins index: v1-only urls unchanged, v2 urls picked
    assert(idx2.count() === idx1.count())

    val refreshEntries = before.filter($"biz" === "BIZ0000")
      .select($"url", $"url_hash", lit(Synth.HotHost).as("host"), $"biz",
        lit("detail").as("kind"), lit(0).cast("int").as("wave"),
        lit(0L).as("priority"),
        lit(new java.sql.Timestamp(Synth.BaseUnix * 1000L)).as("discovered_ts"))
    // contract gates: a never-fetched key must be filtered out (its
    // delete could evict a colliding live fingerprint), and a duplicated
    // refresh input must dedupe — the retraction delta carries exactly
    // the seen account-0 keys
    val hostile = refreshEntries
      .unionByName(refreshEntries.limit(2)) // duplicates
      .unionByName(refreshEntries.limit(1)
        .withColumn("url_hash", lit(987654321L))
        .withColumn("url", lit("https://never.fetched/x"))) // unseen key
    // duplicates that lose the first-wins order on priority, before the
    // originals in one union order and after them in the other: the
    // committed frontier must not depend on which one the caller built.
    // The second order runs on a copy of the catalog
    val demoted = refreshEntries.withColumn("priority", lit(5L))
    val twinDir = freshDir()
    copyTree(dir, twinDir)
    val twin = new SnapshotCatalog(twinDir, spark)
    val nextWave = CrawlDriver.enqueueRefresh(spark, catalog,
      demoted.unionByName(hostile), rc)
    assert(CrawlDriver.enqueueRefresh(spark, twin,
      hostile.unionByName(demoted), rc) === nextWave)
    val refreshed = beforeReads.keySet.toSeq.sorted
    Seq(catalog, twin).foreach { c =>
      val committed = c.readTable(nextWave, "frontier")
        .filter($"url_hash".isin(refreshed: _*))
        .select("url_hash", "priority").as[(Long, Long)].collect().sorted.toSeq
      assert(committed === refreshed.map(_ -> 0L),
        "the refresh must commit each key's lowest-priority-value row")
    }
    val retractedKeys = catalog.readTable(nextWave, "retracted")
      .select("url_hash").as[Long].collect().sorted.toSeq
    assert(retractedKeys === refreshed)
    CrawlDriver.run(spark, catalog, idx2, rc.copy(nWaves = nextWave + 1))

    val after = ArticleStore.articles(catalog, catalog.latest.get)
    val afterReads = after.filter($"biz" === "BIZ0000")
      .select("url_hash", "read_count").as[(Long, Int)].collect().toMap
    // merged view serves the REFRESHED counts, one row per url
    assert(afterReads.keySet === beforeReads.keySet)
    (0 until small.articlesPerAccount).foreach { j =>
      val h = graft.url.UrlCanon.urlHash(Synth.articleUrlRaw(small, j))
      assert(afterReads(h) === beforeReads(h) + 1000 + j,
        s"article $j read_count must be the v2 capture")
    }
    // account 1 untouched
    val others = after.filter($"biz" === "BIZ0001")
      .select("url_hash", "read_count").as[(Long, Int)].collect().toMap
    val othersBefore = before.filter($"biz" === "BIZ0001")
      .select("url_hash", "read_count").as[(Long, Int)].collect().toMap
    assert(others === othersBefore)
    // refreshed urls were genuinely fetched TWICE (seen-set retraction worked)
    val fetchCounts = catalog.readDeltasUpTo(catalog.latest.get, "fetched")
      .groupBy("url_hash").count().as[(Long, Long)].collect().toMap
    beforeReads.keySet.foreach(h => assert(fetchCounts(h) === 2L))
    othersBefore.keySet.foreach(h => assert(fetchCounts(h) === 1L))
    // resuming or refreshing with a different shard count must be
    // refused (the state's key space is pmod(url_hash, nShards)); the
    // resume asks for no further wave, so only the refusal can throw
    val wrongShards = rc.copy(nWaves = catalog.latest.get, nShards = 7)
    Seq[() => Any](
      () => CrawlDriver.run(spark, catalog, idx2, wrongShards),
      () => CrawlDriver.enqueueRefresh(spark, catalog, refreshEntries, wrongShards)
    ).foreach { call =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("n_shards=2"), e.getMessage)
    }
  }

  test("frontier drains to empty on a fully-crawlable corpus") {
    val small = SynthConfig(nAccounts = 2, articlesPerAccount = 8, longTail = 0)
    val idx = Wave.pageIndex(Synth.pages(spark, small).toDF()).cache()
    val dir = freshDir()
    val catalog = new SnapshotCatalog(dir, spark)
    val rc = CrawlDriver.RunConfig(dir, nWaves = 6, seenCapacity = 10000L, nShards = 2)
    CrawlDriver.init(spark, catalog, Synth.seedFrontier(spark, small).toDF(),
      Synth.robots(spark, small).toDF(), Synth.budgets(spark, small).toDF(), rc)
    CrawlDriver.run(spark, catalog, idx, rc)
    val last = catalog.latest.get
    assert(catalog.readTable(last, "frontier").count() === 0)
    val arts = catalog.readDeltasUpTo(last, "articles_delta")
    assert(arts.count() === small.nArticles.toLong)
  }
}
