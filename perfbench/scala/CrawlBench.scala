package graft.perfbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import graft.CrawlDriver
import graft.checkpoint.{Expiry, SnapshotCatalog}
import graft.frontier.{ArticleStore, Wave}
import graft.model.FrontierEntry
import graft.synth.{Synth, SynthConfig}
import graft.url.UrlCanon
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The crawl workload.
  *
  * Corpus: article-weight pages (list pages, detail pages, a long tail
  * on 200 zipf-sized hosts) where about 10% of URLs also carry an older
  * stale capture, so the index is built with `Wave.pageIndexLatest`
  * (latest capture wins). Budgets: the hot host is unbounded; each
  * long-tail host gets 20 tokens per wave, so the largest ones are
  * deferred once.
  *
  * One operation, on a fresh copy of snapshot 0: `CrawlDriver.run` to
  * drain (two fat waves, compaction every 2 snapshots so the
  * merge-on-read view reads bases). The traced run's layer operation
  * adds `enqueueRefresh` of one account's articles (seen-set deletes)
  * and a second `run` that re-fetches them.
  *
  * A run: corpus generation (the load generator, untimed) → setup
  * twice (session start + page index build/cache + snapshot-0 init) →
  * timed operations at local[N], with a heap probe at each chain
  * warm-up → correctness checks, view reads and expiry on the first
  * operation's catalog. The traced run skips those reads and adds warm
  * operations: the layer operation (checks and expiry on its catalog),
  * untraced and traced ones for the overhead, and one at local[1]. */
final class CrawlBench(a: Args, rec: Recorder, tracer: Option[Tracer]) {
  private val work = a.work
  private val corpusDir = s"$work/corpus"
  private val snap0 = s"$work/snap0"
  private val localDir = s"$work/spark-local"
  private var opSeq = 0

  val synth: SynthConfig = {
    val rows = 3000
    SynthConfig(nAccounts = rows * 7 / 100, articlesPerAccount = 10,
      longTail = rows * 3 / 10, seed = a.seed, richness = 8)
  }
  // the largest robots-allowed tail hosts hold 26-36 of the 900 tail
  // URLs (host0 is denied): 20 tokens defer them once, so the crawl
  // still drains in two waves
  private val tailTokens = 20
  private val refreshAccount = (a.seed % synth.nAccounts).toInt
  private def cfg(dir: String) = CrawlDriver.RunConfig(dir, nWaves = 1000,
    seenCapacity = math.max(synth.totalRows * 4L, 100000L), nShards = 16,
    compactEvery = 2)

  private def budgets(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (Seq((Synth.HotHost, 1000000)) ++
      (0 until Synth.NLongTailHosts).map(k => (s"host$k.example", tailTokens)))
      .toDF("host", "tokens_per_round")
  }

  /** Flat pages table (the columns the index reads); about 10% of URLs
    * get an earlier stale capture whose body is garbage (latest capture
    * must win). */
  private def writeCorpus(spark: SparkSession): Unit = {
    val base = Synth.pages(spark, synth).toDF().select("url", "warc_ts", "text")
      .persist(StorageLevel.MEMORY_AND_DISK)
    base.unionByName(
      base.filter(pmod(xxhash64(col("url")), lit(10)) === 0)
        .withColumn("warc_ts", (col("warc_ts").cast("long") - 1000L).cast("timestamp"))
        .withColumn("text", lit("<html><body>stale capture</body></html>")))
      .write.mode("overwrite").parquet(corpusDir)
    base.unpersist()
  }

  private def buildIndex(spark: SparkSession): DataFrame = {
    val idx = Wave.pageIndexLatest(spark.read.parquet(corpusDir))
      .persist(StorageLevel.MEMORY_AND_DISK)
    idx.count()
    idx
  }

  private def newCatalog(spark: SparkSession): (SnapshotCatalog, String) = {
    opSeq += 1
    val dir = s"$work/ckpt-$opSeq"
    Files2.copyTree(Paths.get(snap0), Paths.get(dir))
    (new SnapshotCatalog(dir, spark), dir)
  }

  private def refreshRows(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val ts = new Timestamp(Synth.BaseUnix * 1000L)
    (0 until synth.articlesPerAccount).map { j =>
      val u = UrlCanon.canonicalize(
        Synth.articleUrlRaw(synth, refreshAccount * synth.articlesPerAccount + j))
      FrontierEntry(u, UrlCanon.urlHash(u), Synth.HotHost, Synth.biz(refreshAccount),
        "detail", 0, j.toLong, ts)
    }.toDS().toDF()
  }

  /** One crawl operation on a fresh copy of snapshot 0: `run` to drain,
    * and with `refresh` also `enqueueRefresh` of one account plus a
    * second `run` that re-fetches it. Returns (URLs fetched, wall
    * seconds of those calls). */
  private def crawl(spark: SparkSession, pagesIdx: DataFrame, catalog: SnapshotCatalog,
      dir: String, opName: String, refresh: Boolean): (Long, Double) = {
    val rc = cfg(dir)
    def traced[T](name: String)(f: => T): T = tracer match {
      case Some(t) => t.op(s"$opName/$name")(f)
      case None => f
    }
    val (w1, s1) = Clock.secs(traced("run")(CrawlDriver.run(spark, catalog, pagesIdx, rc)))
    if (!refresh) return (w1.map(_._2).sum, s1)
    val (_, sr) = Clock.secs(traced("refresh")(
      CrawlDriver.enqueueRefresh(spark, catalog, refreshRows(spark), rc)))
    if (opName == "layers") rec.add("seen.refresh_s", sr)
    val (w2, s2) = Clock.secs(traced("run2")(CrawlDriver.run(spark, catalog, pagesIdx, rc)))
    ((w1 ++ w2).map(_._2).sum, s1 + sr + s2)
  }

  private def fetchedAll(catalog: SnapshotCatalog): DataFrame =
    catalog.readDeltasUpTo(catalog.latest.get, "fetched")

  private def crawlDigests(catalog: SnapshotCatalog): (String, String) = {
    val order = Digest.of(fetchedAll(catalog).select("wave", "priority", "url_hash"))
    val bodies = Digest.of(ArticleStore.articles(catalog, catalog.latest.get)
      .select("url_hash", "body"))
    (order, bodies)
  }

  def run(): Unit = {
    Files.createDirectories(Paths.get(localDir))
    val n = a.cores
    var spark = Sessions.start(n, n, aqe = false, localDir)
    rec.op("corpus")(writeCorpus(spark))
    Clock.mark("corpus written")

    // setup, twice: session start + page index + snapshot-0 init
    var pagesIdx: DataFrame = null
    for (_ <- 0 until 2) {
      Sessions.stop(spark)
      Files2.delete(snap0)
      val t0 = System.nanoTime()
      spark = Sessions.start(n, n, aqe = false, localDir)
      val (idx, idxSec) = Clock.secs(buildIndex(spark))
      rec.op("init")(CrawlDriver.init(spark, new SnapshotCatalog(snap0, spark),
        Synth.seedFrontier(spark, synth).toDF(), Synth.robots(spark, synth).toDF(),
        budgets(spark), cfg(snap0)))
      rec.add("setup_s", (System.nanoTime() - t0) / 1e9)
      rec.add("url.page_index_s", idxSec)
      pagesIdx = idx
      Clock.mark("setup")
    }
    HeapWatch.sample()

    // timed operations (a drain each): the first runs in a fresh JVM,
    // so it includes JIT and codegen warm-up, as every crawl process
    // pays them; more run while the window lasts. The first operation's
    // catalog feeds the correctness checks, the view reads and expiry
    val digests = scala.collection.mutable.ArrayBuffer.empty[(String, (String, String))]
    var kept: Option[(SnapshotCatalog, String)] = None
    def timedOps(until: Long, opName: String, idx: DataFrame, s: SparkSession,
        refresh: Boolean, inspect: (SnapshotCatalog, String) => Unit = (_, _) => ()): Unit = {
      var first = true
      while (first || System.nanoTime() < until) {
        first = false
        val (cat, dir) = newCatalog(s)
        rec.op(opName)(crawl(s, idx, cat, dir, opName, refresh)).foreach { case (urls, secs) =>
          rec.add(s"urls:$opName", urls.toDouble)
          rec.add(s"secs:$opName", secs)
          Clock.mark(s"$opName operation")
          // determinism across repeats and parallelism: the traced run
          // has several run-only operations to compare
          if (tracer.isDefined && !refresh) digests += ((s"$opName#$opSeq", crawlDigests(cat)))
          inspect(cat, dir)
        }
        if (kept.isEmpty) kept = Some((cat, dir)) else Files2.delete(dir)
        HeapWatch.sample()
      }
    }
    val probe = new HeapWatch.ChainWarmProbe
    spark.sparkContext.addSparkListener(probe)
    timedOps(System.nanoTime() + (a.seconds * 1e9).toLong, "crawl_n", pagesIdx, spark,
      refresh = false)
    spark.sparkContext.removeSparkListener(probe)

    // untraced run: checks, view reads (what a user reads from the
    // crawled store) and expiry on the first operation's catalog
    if (tracer.isEmpty) kept.filter(_ => rec.lists.contains("secs:crawl_n")).foreach {
      case (cat, _) =>
        rec.op("checks")(checks(pagesIdx, cat))
        Clock.mark("checks")
        viewReads(cat)
        expiry(cat)
        Clock.mark("view reads + expiry")
    }

    // traced run, warm operations; the first operation only warms up
    // (and joins the digest comparison). First a traced operation with
    // a refresh and re-crawl for the layer readings, whose catalog gets
    // the checks (now with retractions) and expiry. Then the trace overhead:
    // run-only operations, untraced (U) and traced (T) in the order U,
    // T, T, U, so JIT warm-up still under way weighs on both sides
    // alike. Last, after the session, a run-only operation at local[1]
    // on the same corpus and partitioning (with the untraced ones, the
    // W/F fit)
    tracer.foreach { t =>
      val sc = spark.sparkContext
      sc.addSparkListener(t)
      timedOps(System.nanoTime(), "layers", pagesIdx, spark, refresh = true, { (cat, dir) =>
        layerMetrics(pagesIdx, cat, dir, t)
        rec.op("checks")(checks(pagesIdx, cat))
        expiry(cat)
      })
      sc.removeSparkListener(t)
      def pairOp(opName: String): Unit =
        timedOps(System.nanoTime(), opName, pagesIdx, spark, refresh = false)
      pairOp("untraced")
      sc.addSparkListener(t)
      pairOp("traced")
      pairOp("traced")
      sc.removeSparkListener(t)
      pairOp("untraced")
    }
    pagesIdx.unpersist()
    Sessions.stop(spark)
    if (tracer.isDefined) {
      spark = Sessions.start(1, n, aqe = false, localDir)
      val idx1 = buildIndex(spark)
      timedOps(System.nanoTime(), "crawl_1", idx1, spark, refresh = false)
      Sessions.stop(spark)
    }

    val ref = digests.headOption.map(_._2)
    digests.foreach { case (name, d) =>
      rec.check(s"crawl order + body digest identical ($name vs first)",
        ref.contains(d), s"$d vs $ref")
    }
  }

  private def checks(pagesIdx: DataFrame, catalog: SnapshotCatalog): Unit = {
    val latest = catalog.latest.get
    val fetched = fetchedAll(catalog).cache()
    val retracted = catalog.readDeltasUpToOpt(latest, "retracted")
    // never-fetch-twice: a key is fetched again only after its refresh
    val multi = fetched.groupBy("url_hash").agg(count(lit(1)).as("n")).filter(col("n") > 1)
    val badMulti = retracted match {
      case None => multi.count()
      case Some(r) => multi.filter(col("n") > 2)
        .unionByName(multi.join(r.select("url_hash").distinct(), Seq("url_hash"), "left_anti"))
        .count()
    }
    rec.check("fetched url_hash unique (re-fetch only after refresh)", badMulti == 0,
      s"$badMulti keys fetched twice without a retraction")

    // per (host, wave) fetched ≤ that wave's tokens
    val b = catalog.readTable(0, "budgets")
    val over = fetched.groupBy("host", "wave").agg(count(lit(1)).as("n"))
      .join(b, Seq("host"), "left")
      .filter(col("n") > coalesce(col("tokens_per_round"), lit(Wave.WaveConfig().defaultTokens)))
      .count()
    rec.check("per (host, wave) fetched <= tokens", over == 0, s"$over (host, wave) over budget")

    // extracted articles = fetched detail pages
    val details = fetched.filter(Wave.kindOfUrl(col("url")) === "detail").count()
    val extracted = catalog.readDeltasUpTo(latest, "articles_delta").count()
    rec.check("extracted articles = fetched detail pages", details == extracted,
      s"details=$details extracted=$extracted")

    // seen keys = distinct fetched keys minus active retractions
    val lastFetch = fetched.groupBy("url_hash").agg(max("wave").as("fw"))
    val expect = retracted match {
      case None => lastFetch.select("url_hash")
      case Some(r) =>
        val rw = r.groupBy("url_hash").agg(max("wave").as("rw"))
        lastFetch.join(rw, Seq("url_hash"), "left")
          .filter(col("rw").isNull || col("rw") <= col("fw")).select("url_hash")
    }
    val engineSeen = CrawlDriver.seenKeys(catalog, latest)
    val (e1, e2) = (Digest.of(expect), Digest.of(engineSeen.select("url_hash")))
    rec.check("seen keys = distinct fetched minus active retractions", e1 == e2, s"$e1 vs $e2")

    {
      // every robots-allowed URL fetched: the page index minus URLs
      // under a Disallow prefix of their host (how often is the check
      // above)
      val disallow = catalog.readTable(0, "robots").filter(!col("allowed"))
      val denied = pagesIdx.select(col("url_hash"), col("url"))
        .withColumn("host", UrlCanon.hostCol(col("url")))
        .join(disallow, Seq("host"))
        .filter(try_parse_url(col("url"), lit("PATH")).startsWith(col("path_prefix")))
        .select("url_hash").distinct()
      val allowed = pagesIdx.select("url_hash").join(denied, Seq("url_hash"), "left_anti")
      val (want, got) = (Digest.of(allowed), Digest.of(fetched.select("url_hash").distinct()))
      rec.check("every robots-allowed URL fetched", want == got, s"$want vs $got")
    }
    fetched.unpersist()
  }

  /** Expiry + orphan removal, which must leave the article view
    * unchanged. */
  private def expiry(cat: SnapshotCatalog): Unit = rec.op("expiry") {
    val before = Digest.of(ArticleStore.articles(cat, cat.latest.get))
    val (st, secs) = Clock.secs(Expiry.expire(cat) + Expiry.removeOrphans(cat))
    rec.set("checkpoint.expire_s", secs)
    rec.set("checkpoint.freed_mb", st.bytesFreed / 1048576.0)
    rec.check("article view unchanged by expiry",
      Digest.of(ArticleStore.articles(cat, cat.latest.get)) == before)
  }

  private def viewReads(catalog: SnapshotCatalog): Unit = {
    val k = catalog.latest.get
    val biz = Synth.biz(refreshAccount)
    val reads: Seq[(String, () => DataFrame)] = Seq(
      "account_stats" -> (() => ArticleStore.accountStats(catalog, k)),
      "comments" -> (() => ArticleStore.comments(catalog, k)),
      "account_bodies" -> (() => ArticleStore.articles(catalog, k)
        .filter(col("biz") === biz).select("url_hash", "title", "body")))
    for (_ <- 0 until 5; (name, df) <- reads)
      rec.op(s"view_read:$name") {
        val (_, s) = Clock.secs(df().write.format("noop").mode("overwrite").save())
        rec.add(s"read:$name", s)
      }
  }

  /** Per-layer numbers for the traced operation, from the listener, the
    * manifests it committed and its checkpoint directory. */
  private def layerMetrics(pagesIdx: DataFrame,
      cat: SnapshotCatalog, dir: String, t: Tracer): Unit = rec.op("layers") {
    val run = Seq("layers/run", "layers/refresh", "layers/run2")
    val loopOps = run.flatMap(t.opsNamed)
    val loopWall = loopOps.map(o => (o.end - o.start) / 1e9).sum
    // plan time and wave count from the manifests the loop committed
    val latest = cat.latest.get
    val plans = (1 to latest).flatMap(i => cat.metaValue(i, "plan_ms")).map(_.toDouble / 1e3)
    rec.set("driver.plan_s", plans.sum)
    rec.set("driver.plan_share", plans.sum / math.max(loopWall, 1e-9))
    rec.set("driver.waves", plans.size)
    rec.set("driver.gap_s", run.map(t.gapSec).sum)
    // wave wall: from one chain warm-up to the next, each shifted back by
    // its wave's plan time; the last wave ends with its operation
    val planMs = (1 to latest).flatMap(i =>
      cat.metaValue(i, "plan_ms").map(p => i - 1 -> (p.toLong * 1000000L))).toMap
    for (name <- Seq("layers/run", "layers/run2"); o <- t.opsNamed(name)) {
      val starts = t.chainWarmStarts(name).map { case (w, s) => s - planMs.getOrElse(w, 0L) }
      val ends = starts.drop(1) :+ o.end
      starts.zip(ends).foreach { case (s, e) => rec.add("wave_s", (e - s) / 1e9) }
    }
    for (ph <- Seq("chain_warm", "loop_commit", "bulk_commit", "compact")) {
      val sums = run.map(t.phaseSums(_, ph))
      val wall = sums.map(_.wallSec).sum
      rec.set(s"phase.$ph.wall_s", wall)
      rec.set(s"phase.$ph.run_s", sums.map(_.runSec).sum)
      rec.set(s"phase.$ph.cpu_s", sums.map(_.cpuSec).sum)
      rec.set(s"phase.$ph.gc_s", sums.map(_.gcSec).sum)
      rec.set(s"phase.$ph.shuffle_mb", sums.map(_.shuffleMb).sum)
      rec.set(s"phase.$ph.spill_mb", sums.map(_.spillMb).sum)
      rec.set(s"phase.$ph.stages", sums.map(_.stagesRan).sum)
    }
    rec.set("seen.probe_s", run.map(t.probeRunSec).sum)

    // ledger counts from the committed metrics tables (fixed by the seed)
    val m = cat.readDeltasUpTo(latest, "metrics")
      .agg(sum("fetched"), sum("deferred"), sum("denied"), sum("deduped")).head()
    val Seq(f, d, dn, dd) = (0 until 4).map(i => if (m.isNullAt(i)) 0L else m.getLong(i))
    rec.set("frontier.fetched", f.toDouble)
    rec.set("frontier.deferred", d.toDouble)
    rec.set("frontier.denied", dn.toDouble)
    rec.set("seen.duplicates", dd.toDouble)
    rec.set("frontier.fetch_ratio", f.toDouble / math.max(1L, f + d + dn + dd))
    val root = Paths.get(dir)
    val sketch = (0 to latest).reverse.map(i => cat.snapshotPath(i).resolve("seen_sketch"))
      .find(Files.exists(_))
    rec.set("seen.sketch_mb", sketch.map(Files2.sizeBytes).getOrElse(0L) / 1048576.0)
    rec.set("checkpoint.written_mb", Files2.sizeBytes(root) / 1048576.0)
    rec.set("checkpoint.files", Files2.countFiles(root, ".parquet").toDouble)

    // extract vs encode on a fixed fetched sample: the crawl's detail
    // pages with their page text
    val sample = cat.readDeltasUpTo(latest, "fetched")
      .filter(Wave.kindOfUrl(col("url")) === "detail")
      .dropDuplicates("url_hash")
      .select(col("url_hash"), col("url"), col("wave"),
        regexp_extract(col("url"), "__biz=([^&]+)", 1).as("biz"))
      .join(pagesIdx.filter(col("kind") === "detail").select("url_hash", "text"), Seq("url_hash"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    rec.set("extract.pages", sample.count().toDouble)
    for (i <- 0 until 3) {
      val (_, noop) = Clock.secs(graft.extract.Extract.articlesIdentified(sample)
        .write.format("noop").mode("overwrite").save())
      val out = s"$work/encode-$i"
      val (_, pq) = Clock.secs(graft.extract.Extract.articlesIdentified(sample)
        .write.mode("overwrite").parquet(out))
      rec.add("extract.noop_s", noop)
      rec.add("extract.parquet_s", pq)
      rec.set("checkpoint.articles_mb", Files2.sizeBytes(Paths.get(out)) / 1048576.0)
      Files2.delete(out)
    }
    sample.unpersist()
  }
}
