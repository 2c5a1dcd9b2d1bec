package graft

import graft.checkpoint.SnapshotCatalog
import graft.frontier.Wave
import graft.seen.{ShardedSeen, SketchShard}
import graft.synth.{Synth, SynthConfig}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-wave crawl loop over a snapshot catalog (SURVEY.md §8 step 8).
  *
  * Snapshot 0 holds the seed state (frontier, budgets, robots, empty
  * shard table); snapshot k+1 holds wave k's outputs. Each wave reads
  * ONLY from committed snapshots and the immutable pages table, so a
  * killed run resumes from `catalog.latest` and — everything downstream
  * being a pure function of that state — replays the exact crawl
  * ordering (BASELINE.json north_rule replay gate).
  *
  * Per-wave driver work is deliberately minimal: the wave builds pure
  * plans; the snapshot commit materializes them as concurrent write jobs
  * whose row counts come from the committed parquet footers. There are
  * NO standalone count jobs (run starts no job before the first wave's
  * chain warm-up) and no state collect/broadcast on the driver (Amdahl:
  * driver serial time is what caps scaling efficiency at N→4N
  * executors). The robots and budgets tables need no per-run sizing:
  * their lookups carry no join hint, so the planner picks broadcast or
  * shuffle from their size.
  *
  * Re-crawl (upstream step-6 semantics): [[enqueueRefresh]] retracts
  * chosen URLs from the seen set (cuckoo delete + retraction delta) and
  * re-enqueues them; the next wave re-fetches them and the merged
  * article view ([[graft.frontier.ArticleStore.articles]]) serves
  * last-write-wins read/like counts.
  */
object CrawlDriver {

  final case class RunConfig(
      checkpointDir: String,
      nWaves: Int = 3,
      /** run-level seen-sketch capacity (10^10 at cluster scale);
        * per-shard allocation is seenCapacity/nShards. */
      seenCapacity: Long = 1000000L,
      nShards: Int = 16,
      waveCfg: Wave.WaveConfig = Wave.WaveConfig(),
      runId: String = "run-0",
      /** Rewrite the merged article store as an `articles_base` table
        * every N committed snapshots (0 = never). Keeps the
        * merge-on-read view at O(base + tail) instead of scanning every
        * delta ever written; rides the commit's bulk phase, off the
        * loop-critical path. */
      compactEvery: Int = 0)

  /** Commit snapshot 0 from seed tables. The seed frontier is derived
    * from the ACCOUNTS table (A2: one list-page entry per seeded
    * account) plus any extra entries (e.g. long-tail detail URLs). */
  def init(
      spark: SparkSession,
      catalog: SnapshotCatalog,
      frontier0: DataFrame,
      robots: DataFrame,
      budgets: DataFrame,
      cfg: RunConfig,
      accounts: Option[DataFrame] = None): Unit = {
    import spark.implicits._
    val emptyFetched = Seq.empty[graft.model.CrawlOrder].toDS().toDF()
      .withColumn("host", lit("")).withColumn("partition_id", lit(0))
      .withColumn("discovered_ts", lit(null).cast("timestamp"))
    catalog.commit(0, wave = -1,
      tables = Map(
        "frontier" -> frontier0,
        "fetched" -> emptyFetched,
        "robots" -> robots,
        "budgets" -> budgets,
        "seen_sketch" -> ShardedSeen.emptyShards(spark).toDF()) ++
        accounts.map("accounts" -> _),
      meta = Map("run_id" -> cfg.runId, "n_shards" -> cfg.nShards.toString))
  }

  /** The fetched log at snapshot k: the newest `fetched_base` compaction
    * (one row per seen key, last fetch wins, active retractions applied
    * — see [[compactedFetched]]) plus the delta tail after it; the plain
    * delta union before any compaction. Every whole-history consumer
    * (seen keys, the fetched-log compaction, counts) reads through this
    * view, so [[graft.checkpoint.Expiry]] can physically delete the
    * folded deltas. */
  private[graft] def fetchedView(catalog: SnapshotCatalog, k: Int): DataFrame =
    catalog.readWithBase(k, "fetched", "fetched_base")

  /** The fetched-log compaction product to commit INTO snapshot k+1 (as
    * table `fetched_base`, covering deltas 0..k): one row per currently-
    * seen key — last fetch wins, keys whose latest event is a retraction
    * dropped (they are un-seen; a later re-fetch re-adds them as a tail
    * delta row). A pure function of committed state, so kill/replay
    * rewrites the identical base. Incremental: builds on the previous
    * base + tail, never the full delta history. Re-applying retraction
    * deltas older than the previous base (when expiry has not yet
    * deleted them) is a no-op: their keys were either dropped by that
    * fold or re-fetched at a later wave. */
  private[graft] def compactedFetched(
      catalog: SnapshotCatalog, upToCommitted: Int): DataFrame = {
    val all = fetchedView(catalog, upToCommitted)
    val latest = graft.frontier.Wave.firstPerKey(all,
      Seq(col("url_hash")), Seq(col("wave").desc))
    catalog.readDeltasUpToOpt(upToCommitted, "retracted") match {
      case None => latest
      case Some(retr) =>
        // active = retracted strictly after the key's last fetch (the
        // same strict compare as seenKeys); retraction sets are
        // refresh-sized, hence broadcast
        val rmax = retr.groupBy("url_hash").agg(max("wave").as("__rw"))
        latest.join(broadcast(rmax), Seq("url_hash"), "left")
          .filter(col("__rw").isNull || col("__rw") <= col("wave"))
          .drop("__rw")
    }
  }

  /** Exact seen keys at wave k — ONE ROW PER KEY (the confirm join's
    * contract): all fetched url_hashes minus ACTIVE retractions
    * (retracted at a wave later than their last fetch — a re-fetch
    * re-seens the key). Without refreshes the fetched rows are unique
    * by never-fetch-twice and pass through with no extra stage; after a
    * refresh (re-fetched keys appear twice) the branch dedupes.
    * Retraction sets are refresh-sized (small) by design, hence
    * broadcast. */
  private[graft] def seenKeys(catalog: SnapshotCatalog, k: Int): DataFrame = {
    val fetched = fetchedView(catalog, k)
    catalog.readDeltasUpToOpt(k, "retracted") match {
      case None => fetched.select("url_hash")
      case Some(retr) =>
        val rmax = retr.groupBy("url_hash").agg(max("wave").as("__rw"))
        val fmax = fetched.groupBy("url_hash").agg(max("wave").as("__fw"))
        val active = rmax.join(fmax, Seq("url_hash"), "left")
          .filter(col("__fw").isNull || col("__rw") > col("__fw"))
          .select("url_hash")
        fetched.select("url_hash").distinct()
          .join(broadcast(active), Seq("url_hash"), "left_anti")
    }
  }

  /** Wave k's output plans + the updated shard table — pure plan
    * construction over snapshot k (no actions). */
  private def prepareWave(
      spark: SparkSession,
      catalog: SnapshotCatalog,
      pagesIdx: DataFrame,
      k: Int,
      cfg: RunConfig,
      robots: DataFrame,
      budgets: DataFrame): (Wave.WaveResult, DataFrame) = {
    import spark.implicits._
    val frontier = catalog.readTable(k, "frontier")
    val seenExact = seenKeys(catalog, k)
    val shards = catalog.readTable(k, "seen_sketch").as[SketchShard]
    val r = Wave.run(spark, frontier, seenExact, shards, cfg.nShards,
      robots, budgets, pagesIdx, cfg.waveCfg)
    // shard update is itself a lazy plan — materialized by its commit
    // write job like every other table (executor-side build + merge)
    val noDeletes = spark.range(0).select(col("id").as("url_hash"))
    val newShards = ShardedSeen.updatedShards(shards,
      r.fetched.select("url_hash"), noDeletes, cfg.seenCapacity, cfg.nShards)
    (r, newShards.toDF())
  }

  private def waveTables(r: Wave.WaveResult, newShards: DataFrame, cfg: RunConfig)
      : (Map[String, DataFrame], Map[String, DataFrame]) = (
    Map( // loop-critical: what wave k+1 reads
      "frontier" -> r.frontierNext,
      "fetched" -> r.fetched,
      "seen_sketch" -> newShards),
    Map( // bulk outputs: nothing downstream in the loop reads these
      "articles_delta" -> r.articles,
      // the gate runs BEFORE in-batch dedupe (robots verdicts are
      // per-canonical-url, order immaterial), so a denied URL with
      // duplicate frontier entries appears once per entry here —
      // dedupe to keep `denied` unique per url_hash per wave (round-1
      // semantics; the ledger's per-row `denied` fate is unchanged)
      "denied" -> r.denied.select("url_hash", "url", "host")
        .dropDuplicates("url_hash"),
      "metrics" -> Wave.metrics(cfg.runId, r.ledger)))

  /** Resume-aware PIPELINED loop: picks up from the latest committed
    * snapshot and stops early when the frontier drains.
    *
    * Pipelining (what buys the N→4N efficiency): wave k+1 only reads
    * snapshot k+1's loop tables (frontier / fetched / seen_sketch), so
    * as soon as those are durable (`commitAsync`'s `ready`) the next
    * wave's plan construction and cache warm-up run CONCURRENTLY with
    * the same snapshot's bulk writes (articles_delta — the wave's
    * largest output — plus metrics/denied) — the driver's per-wave
    * serial floor (plan build + stage barriers in the probe chain) is
    * hidden under executor work instead of extending the wall. Commit
    * ordering is preserved: snapshot k+1's manifest lands before
    * snapshot k+2's writes begin, and a kill anywhere replays from the
    * last manifest with identical results. */
  def run(spark: SparkSession, catalog: SnapshotCatalog, pagesIdx: DataFrame,
      cfg: RunConfig): Seq[(Int, Long, Long)] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val start = catalog.latest.getOrElse(
      sys.error("catalog not initialized — call init() first"))
    requireShardConfig(catalog, cfg)
    val robots0 = catalog.readTable(0, "robots")
    val budgets0 = catalog.readTable(0, "budgets")
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Future[Long])]
    var pendingDone: Future[Map[String, Long]] = Future.successful(Map.empty)
    var pendingCached: Seq[DataFrame] = Nil
    var k = start
    var frontierRows = -1L
    while (k < cfg.nWaves && frontierRows != 0L) {
      val t0 = System.nanoTime()
      // plans + chain warm-up — overlaps the PREVIOUS commit's bulk phase
      val (r, newShards) = prepareWave(spark, catalog, pagesIdx, k, cfg,
        robots0, budgets0)
      val planMs = (System.nanoTime() - t0) / 1000000L
      spark.sparkContext.setJobDescription(s"wave-$k/chain-warm")
      // warming frontierNext materializes the whole decision chain (its
      // deferred branch scans every decisions block) PLUS the list fetch
      // join + discovery parse — all during the previous commit's bulk
      // phase, so the loop-phase frontier write reads warm cache
      r.frontierNext.count()
      spark.sparkContext.setJobDescription(null)
      // snapshot k fully committed (manifest down) before k+1 writes start
      Await.result(pendingDone, Duration.Inf)
      pendingCached.foreach(_.unpersist())
      val (loop, bulk) = waveTables(r, newShards, cfg)
      // compaction rides the bulk phase: a pure function of the already-
      // committed snapshots 0..k (pendingDone was awaited above), so a
      // kill/replay rewrites the identical base
      val compact = // k ≥ 1: snapshot 0 carries no deltas to fold
        if (cfg.compactEvery > 0 && (k + 1) % cfg.compactEvery == 0 && k >= 1)
          Map("articles_base" -> graft.frontier.ArticleStore.compacted(catalog, k),
            // same cadence for the fetched-log fold: together they make
            // every delta before the bases expirable (checkpoint.Expiry)
            "fetched_base" -> compactedFetched(catalog, k))
        else Map.empty[String, DataFrame]
      val (ready, done) = catalog.commitAsync(k + 1, wave = k,
        loopTables = loop, bulkTables = bulk ++ compact,
        meta = Map("run_id" -> cfg.runId, "plan_ms" -> planMs.toString))
      val loopCounts = Await.result(ready, Duration.Inf)
      val fetched = loopCounts("fetched")
      frontierRows = loopCounts("frontier")
      pendingDone = done
      pendingCached = r.cached
      import scala.concurrent.ExecutionContext.Implicits.global
      out += ((k, fetched, done.map(_("articles_delta"))))
      val totalMs = (System.nanoTime() - t0) / 1000000L
      System.err.println(s"[wave $k] wall=${totalMs}ms (plan=${planMs}ms) " +
        s"fetched=$fetched frontier_next=$frontierRows")
      k += 1
    }
    Await.result(pendingDone, Duration.Inf)
    pendingCached.foreach(_.unpersist())
    out.toSeq.map { case (w, f, eF) =>
      (w, f, Await.result(eF, Duration.Inf))
    }
  }

  /** Re-crawl: retract `refresh` URLs (FrontierEntry-shaped rows) from
    * the seen set and enqueue them for the next wave. Commits snapshot
    * latest+1 holding: frontier ∪ refresh rows, the retraction delta,
    * and the shard table with cuckoo deletes applied.
    *
    * The cuckoo delete contract (only keys known inserted) is ENFORCED
    * here, not assumed: refresh keys are deduped and semi-joined against
    * the CURRENT seen view (fetched minus already-active retractions),
    * so a double refresh, a never-fetched URL, or a still-pending URL
    * never issues a delete — each of those could otherwise evict a
    * colliding fingerprint and break never-fetch-twice. The call is
    * therefore idempotent. The following [[run]] (nWaves ≥ latest+2)
    * re-fetches the keys; [[graft.frontier.ArticleStore.articles]] then
    * serves the refreshed read/like counts last-write-wins. */
  def enqueueRefresh(
      spark: SparkSession,
      catalog: SnapshotCatalog,
      refresh: DataFrame,
      cfg: RunConfig): Int = {
    import spark.implicits._
    val latest = catalog.latest.getOrElse(
      sys.error("catalog not initialized — call init() first"))
    requireShardConfig(catalog, cfg)
    val nextWave = latest + 1
    // contract gate: only currently-seen keys are retractable. The
    // wave's first-wins rule picks the row per key, so a killed and
    // re-run refresh commits the same frontier
    val entries = Wave.dedupeInBatch(refresh)
      .join(seenKeys(catalog, latest), Seq("url_hash"), "left_semi")
      .withColumn("wave", lit(nextWave).cast("int"))
      .select("url", "url_hash", "host", "biz", "kind", "wave", "priority",
        "discovered_ts")
    val retracted = entries.select(col("url_hash"), col("wave"))
    val shards = catalog.readTable(latest, "seen_sketch").as[SketchShard]
    val noInserts = spark.range(0).select(col("id").as("url_hash"))
    val newShards = ShardedSeen.updatedShards(shards, noInserts,
      retracted.select("url_hash"), cfg.seenCapacity, cfg.nShards)
    // normalize carried-over rows to the new wave: every frontier(k) row
    // carries wave=k (the invariant the fetched/retraction wave compare
    // in seenKeys depends on)
    val frontier = catalog.readTable(latest, "frontier")
      .withColumn("wave", lit(nextWave).cast("int"))
      .unionByName(entries)
    catalog.commit(nextWave, wave = latest,
      tables = Map(
        "frontier" -> frontier,
        "retracted" -> retracted,
        "seen_sketch" -> newShards.toDF()),
      meta = Map("run_id" -> cfg.runId, "refresh" -> "true",
        "n_shards" -> cfg.nShards.toString))
    nextWave
  }

  /** Shard count is part of the persisted state's key space: resuming
    * with a different nShards would probe the wrong shard and silently
    * produce false negatives. Validated against snapshot-0 meta. */
  private def requireShardConfig(catalog: SnapshotCatalog, cfg: RunConfig): Unit =
    catalog.metaValue(0, "n_shards").foreach { v =>
      require(v.toInt == cfg.nShards,
        s"seen_sketch was built with n_shards=$v; resume must use the same " +
          s"value (got ${cfg.nShards})")
    }

  /** Standalone main: synthesize a corpus, crawl it for N waves, print a
    * summary. args: [nPages] [nWaves] [checkpointDir] */
  def main(args: Array[String]): Unit = {
    val nPages = args.lift(0).map(_.toInt).getOrElse(2000)
    val nWaves = args.lift(1).map(_.toInt).getOrElse(4)
    val dir = args.lift(2).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-crawl").toString)
    val spark = HostFit.session("graft-crawl")

    val synthCfg = SynthConfig.forTargetRows(nPages)
    // the corpus includes each host's /robots.txt page — the crawl
    // ingests its own gating rules instead of trusting a side table
    val pages = Synth.pages(spark, synthCfg).toDF()
      .unionByName(Synth.robotsPages(spark).toDF())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pagesIdx = Wave.pageIndex(pages)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pagesIdx.count()

    val catalog = new SnapshotCatalog(dir, spark)
    // compaction every 3 snapshots: the demo exercises the full storage
    // lifecycle (deltas → bases → expiry below), like a production run
    val cfg = RunConfig(checkpointDir = dir, nWaves = nWaves,
      seenCapacity = math.max(nPages * 4L, 100000L), compactEvery = 3)
    if (catalog.latest.isEmpty) {
      // A2: seed frontier derives from the accounts table (+ long tail)
      val accounts = Synth.accounts(spark, synthCfg).toDF()
      init(spark, catalog,
        Synth.seedFrontier(spark, synthCfg).toDF(),
        Synth.robotsFromPages(pages),
        Synth.budgets(spark, synthCfg).toDF(), cfg,
        accounts = Some(accounts))
    }
    val results = run(spark, catalog, pagesIdx, cfg)
    results.foreach { case (k, f, e) =>
      println(s"[crawl] wave $k: fetched=$f extracted=$e")
    }
    val totalArticles = graft.frontier.ArticleStore
      .articles(catalog, catalog.latest.get).count()
    val totalSeen = seenKeys(catalog, catalog.latest.get).count()
    println(s"[crawl] done: snapshots=${catalog.latest.get} articles=$totalArticles seen=$totalSeen dir=$dir")

    // storage maintenance, AFTER all consumers (Iceberg-style expire
    // between runs, never on the wave path): physically reclaim
    // superseded snapshot data; manifests/lineage survive
    val ex = graft.checkpoint.Expiry.expire(catalog)
    println(s"[expiry] dirs_deleted=${ex.dirsDeleted} bytes_freed=${ex.bytesFreed}")
    // safe here: the run loop has drained, no commit is in flight
    val orph = graft.checkpoint.Expiry.removeOrphans(catalog)
    if (orph.dirsDeleted > 0)
      println(s"[expiry] orphan_dirs_deleted=${orph.dirsDeleted} bytes_freed=${orph.bytesFreed}")

    spark.stop()
  }
}
