package graft.frontier

import graft.extract.Extract
import graft.model._
import graft.seen.{ShardedSeen, SketchShard}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** One crawl wave = one typed Dataset pipeline (SURVEY.md §4.2):
  *
  *   frontier(k) → robots gate → ShardedProbe (in-batch dedupe fused
  *     with the bloom/cuckoo seen probe) → exact confirm
  *     → host-salted repartition → token-bucket mapPartitions
  *     (fetch/defer) → fetch-join pages → extract (articles / discovery)
  *     → frontier(k+1) = deferred ∪ discovered
  *
  * Determinism contract (BASELINE.json north_rule): every decision is a
  * pure function of (wave, priority, url_hash) and the input tables —
  * never wall clock, partition index (except as reported lineage), or
  * iteration order. All tie-breaks end in url_hash, so the emitted crawl
  * order replays identically across parallelism levels and kill/resume.
  */
object Wave {

  final case class WaveConfig(
      /** Hosts with more frontier rows than this get salted into
        * ceil(count/target) buckets — derived from the DATA each wave,
        * not hardcoded (skew handling, SURVEY.md §8 hard-parts). */
      targetBucketRows: Long = 5000L,
      /** Politeness tokens for hosts absent from the budgets table. */
      defaultTokens: Int = 8)

  final case class WaveResult(
      decisions: Dataset[FetchDecision],
      /** extracted articles INCLUDING the raw comments_json payload —
        * the one persisted extraction product per wave; typed comments
        * are a read-view ([[graft.frontier.ArticleStore.comments]]). */
      articles: DataFrame,
      frontierNext: DataFrame,
      /** one row per URL fetched this wave: (wave, priority, url_hash,
        * url, host, partition_id) — serves both the seen-set delta and
        * the replay-gate crawl ordering. */
      fetched: DataFrame,
      denied: DataFrame,
      /** one row per URL of the wave's DEDUPED batch with its fate
        * (fetched / deferred / duplicate / denied) and the partition
        * that decided it — the G4 per-partition metrics source. Counts
        * derive from THIS plan, never from driver-side literals.
        * In-batch first-wins losers (same url_hash enqueued twice in
        * ONE wave — possible after a refresh, since
        * [[graft.CrawlDriver.enqueueRefresh]] commits frontier ∪
        * refresh without deduping across the two) are dropped inside
        * the fused probe before flagging and are NOT ledger rows:
        * "duplicate" means seen-set duplicate. So sum(statuses) counts
        * distinct batch keys, not raw frontier rows — the (rare)
        * in-batch drop count is the difference. */
      ledger: DataFrame,
      /** persisted intermediates — caller unpersists after commit. */
      cached: Seq[DataFrame])

  // ------------------------------------------------------- host lookups

  /** `df` left-joined to `table` on the row's host, with xxhash64(host)
    * as the only equi-join key. There is no join hint: the planner
    * broadcasts `table` when its size estimate is under the session's
    * `spark.sql.autoBroadcastJoinThreshold` and shuffle-joins it
    * otherwise, so a Common-Crawl-sized rules, budgets or salt-count
    * table takes the scale path with no knob. It is the wave's only
    * per-host join.
    *
    * Why host lookups are long-keyed: a hash join on a string key builds
    * an `UnsafeHashedRelation`, whose `BytesToBytesMap` reserves one full
    * `spark.buffer.pageSize` memory page however few rows it holds (the
    * default page grows with heap per core up to 64 MB, reached at a 7 GB
    * heap on 4 cores). A 201-row budgets broadcast then pins as much heap
    * as a million-row one, and the pipelined loop keeps two waves'
    * broadcasts alive at once. A single long key builds a
    * `LongHashedRelation`, sized to its rows, which keeps every row of a
    * key. The exact host match is a residual condition, so a 64-bit
    * collision can neither drop a host's rows nor lend them to another
    * host, and a null host matches nothing, as in the host-string join.
    * It is wrapped in `coalesce(…, false)` because a plain host equality
    * would be lifted into a second, string-typed build key. PlanSpec
    * fails a wave plan whose robots, budgets or salt-count lookup builds
    * on a string key. `hash` lets a test force several hosts into one
    * bucket.
    *
    * Output columns as `df.join(table, Seq("host"), "left")`: host,
    * `df`'s other columns, then `table`'s. */
  def joinByHost(df: DataFrame, table: DataFrame,
      hash: Column => Column = xxhash64(_)): DataFrame = {
    val values = table.columns.filter(_ != "host")
    val build = table.select(Seq(hash(col("host")).as("__build_hash"),
      col("host").as("__build_host")) ++ values.map(col): _*)
    df.withColumn("__probe_hash", hash(col("host")))
      .join(build, col("__probe_hash") === col("__build_hash") &&
        coalesce(col("host") === col("__build_host"), lit(false)), "left")
      .select(("host" +: df.columns.filter(_ != "host") ++: values).map(col): _*)
  }

  // ------------------------------------------------------------- robots

  /** Robots gating (J4/P3): longest-prefix-match per URL, default-allow
    * when a host has no rules. The verdict is the
    * [[graft.functions.RobotsAllowed]] kernel, a static call inside
    * codegen, over the per-host rules array — no UDF, no window. The rules are aggregated per host
    * and looked up with [[joinByHost]], so the planner picks broadcast or
    * shuffle from the aggregate's size.
    */
  def robotsGate(frontier: DataFrame, robots: DataFrame): (DataFrame, DataFrame) = {
    val rulesByHost = robots
      .groupBy(col("host"))
      .agg(collect_list(struct(col("path_prefix"), col("allowed"))).as("__rules"))
    // parse_url returns "" (not NULL) for path-less URLs — both must
    // normalize to "/" or no Disallow prefix ever matches such a URL
    val rawPath = try_parse_url(col("url"), lit("PATH"))
    val withPath = frontier.withColumn("__path",
      when(rawPath.isNull || rawPath === "", lit("/")).otherwise(rawPath))
    val joined = joinByHost(withPath, rulesByHost)
    // longest matching prefix wins; equal-length tie → allow wins (RFC
    // 9309 least-restrictive tie-break). The verdict is order-
    // independent: the result is (max matching len, "any allow rule at
    // that len"), so collect_list's post-shuffle nondeterminism cannot
    // flip it. No rules / no match → allow. r6: the fold runs as the
    // fused kernel [[graft.functions.RobotsAllowed]] — the
    // higher-order aggregate/filter lambdas were interpreted per
    // frontier row, and the gate is evaluated up to three times per
    // wave (allowed branch, denied table, metrics ledger);
    // RobotsKernelSpec pins kernel ≡ fold.
    val verdict = graft.functions.RobotsAllowed(col("__rules"), col("__path"))
    val tagged = joined.withColumn("__allowed",
      when(col("__rules").isNull, lit(true)).otherwise(verdict))
      .drop("__rules", "__path")
    (tagged.filter(col("__allowed")).drop("__allowed"),
      tagged.filter(!col("__allowed")).drop("__allowed"))
  }

  // -------------------------------------------------- in-batch dedupe

  /** Shared top-1-per-key idiom (W3 dedupe, the article merge view, the
    * fetched-log compaction, the latest-capture collapse): deterministic
    * winner per `keys` under `order` — callers must make `order` total
    * (tie-breaks end in a deterministic key, per the file contract). */
  def firstPerKey(df: DataFrame, keys: Seq[Column], order: Seq[Column]): DataFrame =
    df.withColumn("__rn",
      row_number().over(Window.partitionBy(keys: _*).orderBy(order: _*)))
      .filter(col("__rn") === 1).drop("__rn")

  /** W3 first-wins dedupe inside one frontier batch: one row per
    * url_hash, deterministic winner by (priority, kind, url). */
  def dedupeInBatch(frontier: DataFrame): DataFrame =
    firstPerKey(frontier, Seq(col("url_hash")),
      Seq(col("priority").asc, col("kind").asc, col("url").asc))

  // ------------------------------------------------ politeness budgets

  /** Host-salted token-bucket enforcement (U5/W2 — the one deliberate
    * non-Catalyst island, mandated by BASELINE.json north_star).
    *
    * Salting: hosts whose row count exceeds cfg.targetBucketRows are
    * split into ceil(count/target) salt buckets by pmod(url_hash, n) —
    * the mp.weixin-style hot host no longer lands on one task. The
    * host's per-wave token budget is split across buckets (bucket s
    * gets t/n + 1 if s < t mod n), so per-host fetched ≤ tokens holds
    * exactly. Within a bucket, rows are consumed in (priority, url_hash)
    * order — sortWithinPartitions after repartition on (host, salt)
    * makes groups contiguous and the scan deterministic.
    */
  def enforceBudgets(
      frontier: DataFrame,
      budgets: DataFrame,
      cfg: WaveConfig,
      /** Where to count per-host rows for salt derivation. The crawl
        * loop passes the COMMITTED frontier table: a slim parquet scan
        * makes the salt lookup's build an independent query stage (it
        * materializes concurrently with the probe instead of
        * serializing behind the whole decision chain — one less barrier
        * on the wave's critical path). Pre-gate counts are an upper
        * bound on post-gate rows; over-salting a host never breaks the
        * exact per-host token split (bucket s gets t/n + (s < t mod n))
        * and the counts stay a pure function of committed state, so
        * replay determinism holds. */
      saltSource: DataFrame): Dataset[FetchDecision] = {
    val spark = frontier.sparkSession
    import spark.implicits._

    // data-derived salt factors: only hot hosts, so the table is tiny
    // (empty without skew)
    val saltCounts = saltSource.groupBy("host").count()
      .filter(col("count") > cfg.targetBucketRows)
      .select(col("host"),
        ceil(col("count").cast("double") / cfg.targetBucketRows)
          .cast(IntegerType).as("n_salts"))

    val annotated =
      joinByHost(joinByHost(frontier, saltCounts),
        budgets.select(col("host"), col("tokens_per_round")))
      .na.fill(Map("n_salts" -> 1, "tokens_per_round" -> cfg.defaultTokens))
      .withColumn("salt", pmod(col("url_hash"), col("n_salts")).cast(IntegerType))
      .select(col("url"), col("url_hash"), col("host"), col("biz"), col("kind"),
        col("wave"), col("priority"), col("discovered_ts"),
        col("n_salts").cast(IntegerType), col("tokens_per_round").cast(IntegerType),
        col("salt"))
      .as[BudgetRow]

    annotated.repartition(col("host"), col("salt"))
      .sortWithinPartitions(col("host"), col("salt"), col("priority"), col("url_hash"))
      .mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        var curHost: String = null
        var curSalt: Int = -1
        var remaining = 0
        it.map { r =>
          if (r.host != curHost || r.salt != curSalt) {
            curHost = r.host; curSalt = r.salt
            val base = r.tokens_per_round / r.n_salts
            remaining = base + (if (r.salt < r.tokens_per_round % r.n_salts) 1 else 0)
          }
          val take = remaining > 0
          if (take) remaining -= 1
          FetchDecision(r.url, r.url_hash, r.host, r.biz, r.kind, r.wave,
            r.priority, r.discovered_ts, take, pid)
        }
      }
  }

  // ------------------------------------------------------------ wave

  /** Runs one full wave. `pagesIdx` must be the canonical page index:
    * (url_hash, url, text) keyed by canonicalized URL (see
    * [[pageIndex]]). `seenExact` holds the url_hash keys the `shards`
    * sketches cover. Mutates nothing; all outputs are returned — and
    * nothing is COUNTED here: the wave builds pure plans, the caller's
    * snapshot commit materializes them once with observed row counts
    * (zero standalone driver-barrier count jobs per wave). */
  def run(
      spark: SparkSession,
      frontier: DataFrame,
      seenExact: DataFrame,
      shards: Dataset[SketchShard],
      nShards: Int,
      robots: DataFrame,
      budgets: DataFrame,
      pagesIdx: DataFrame,
      cfg: WaveConfig = WaveConfig()): WaveResult = {
    import spark.implicits._
    val DISK = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

    // robots gate first (a broadcast lookup + filter rides the frontier
    // scan stage; see joinByHost for when the planner shuffles instead).
    // Gate-vs-dedupe order is immaterial: duplicates share a canonical
    // url, hence a robots verdict.
    val (allowed, denied) = robotsGate(frontier, robots)
    // ONE ShardedProbe operator fuses first-wins in-batch dedupe (W3)
    // with the shard-aligned sketch probe (no broadcast state) — the
    // wave's critical path pays a single frontier shuffle before budget
    // enforcement. Persisted lazily: the commit's concurrent write jobs
    // materialize the caches (block-level cache locking dedupes
    // concurrent computes).
    val probed = graft.plans.GraftPlanner.probeDedupe(allowed, shards.toDF(), nShards,
      ShardedSeen.DefaultMaxShardBufferRows).persist(DISK)
    val flagged = ShardedSeen.confirmFlag(probed, seenExact).persist(DISK)
    val fresh = flagged.filter(!col("__dup")).drop("__dup")
    val dups = flagged.filter(col("__dup")).drop("__dup")

    val decisions = enforceBudgets(fresh, budgets, cfg, saltSource = frontier)
      .persist(DISK)
    val toFetch = decisions.filter(col("fetched")).toDF()

    // J1 fetch-simulate: equi-join on url_hash against the canonical page
    // index, SPLIT per consumer — detail pages feed exactly one plan
    // (articles) and list pages exactly one (discovery), so neither join
    // output needs caching (a cache of the joined page text costs a
    // multi-GB columnar write + re-read per wave; two map-side joins over
    // the already-cached page index move fewer bytes).
    // JOIN PHYSICS: [[pageIndex]] is hash-partitioned on url_hash (the
    // local analog of a bucketed table), so this shuffle_hash join moves
    // ONLY the slim frontier slice — the page text NEVER exchanges, and
    // there is no driver-serial broadcast build of a wave-sized slice on
    // the critical path (a 210k-row broadcast build is ~1-2 s of
    // non-scaling driver time per join per wave). At cluster scale the
    // same plan reads both sides bucketed by url_hash → shuffle-free
    // joins (BucketedLayoutSpec pins that plan).
    // kind-filtered index scans: the cached page index is clustered by
    // kind within each hash partition, so each side's scan batch-prunes
    // the other side's text
    def pageText(kind: String) =
      pagesIdx.filter(col("kind") === kind).select(col("url_hash"), col("text"))
    val detailJoined = toFetch.filter(col("kind") === "detail").hint("shuffle_hash")
      .join(pageText("detail"), Seq("url_hash"), "inner")
    val listPages = toFetch.filter(col("kind") === "list").hint("shuffle_hash")
      .join(pageText("list"), Seq("url_hash"), "inner")
      .select(col("url"), col("text"), col("wave"))

    // extraction runs ONCE per page into ONE product: articles carry the
    // raw comments_json payload (store-raw-once; comments are a typed
    // read-view over the committed table) and URL identity comes from
    // the frontier side of the join — no UrlParts re-parse, no second
    // regex pass, no second sink, no cache of extracted bodies.
    val articles = Extract.articlesIdentified(detailJoined)

    // discovery → frontier entries for wave k+1 with per-account recency
    // priority: lists first (0), details ranked newest-first per biz (W1)
    // wave numbers derive from the data (src_wave + 1), never a literal:
    // the whole plan is wave-invariant (see Extract.discovered for why
    // that still recompiles most generated classes each wave)
    val disc = Extract.discovered(listPages)
    val wPrio = Window.partitionBy(col("biz"))
      .orderBy(col("publish_unix").desc, col("url_hash").asc)
    val discovered = disc.withColumn("priority",
      when(col("kind") === "list", lit(0L))
        .otherwise(row_number().over(wPrio).cast(LongType)))
      .withColumn("wave", (col("src_wave") + 1).cast(IntegerType))
      .withColumn("discovered_ts",
        coalesce(timestamp_seconds(col("publish_unix")),
          timestamp_seconds(lit(graft.synth.Synth.BaseUnix))))
      .select("url", "url_hash", "host", "biz", "kind", "wave", "priority",
        "discovered_ts")

    val deferred = decisions.filter(!col("fetched")).toDF()
      .withColumn("wave", (col("wave") + 1).cast(IntegerType))
      .select("url", "url_hash", "host", "biz", "kind", "wave", "priority",
        "discovered_ts")

    // persisted so the loop can WARM it during the previous commit's
    // bulk phase: one count materializes the decisions cache (deferred
    // branch scans every block), the list fetch join + discovery parse,
    // and this cache — the frontier write then reads warm blocks off
    // the critical path (slim rows; wave-sized)
    val frontierNext = dedupeInBatch(deferred.unionByName(discovered)).persist(DISK)

    val fetchedTbl = toFetch.select(col("wave"), col("priority"),
      col("url_hash"), col("url"), col("host"), col("partition_id"),
      col("discovered_ts"))

    // G4 ledger: every frontier-batch row's fate, with REAL per-partition
    // lineage — duplicate/denied rows record the partition that evaluated
    // them (spark_partition_id at tag time), fetch decisions the token-
    // bucket partition. `stage` namespaces the partition ids: the three
    // fates are decided by different physical stages, so partition 7 of
    // the budget stage is not partition 7 of the gate scan. Metrics
    // aggregate this plan; no run-level literals.
    val ledgerCols = Seq("url_hash", "host", "wave", "status", "stage", "partition_id")
    def asLedger(df: DataFrame, status: String, stage: String): DataFrame =
      df.withColumn("status", lit(status))
        .withColumn("stage", lit(stage))
        .withColumn("partition_id", spark_partition_id())
        .select(ledgerCols.map(col): _*)
    val ledger = decisions.toDF()
      .withColumn("status", when(col("fetched"), "fetched").otherwise("deferred"))
      .withColumn("stage", lit("budget"))
      .select(ledgerCols.map(col): _*)
      .unionByName(asLedger(dups, "duplicate", "seen"))
      .unionByName(asLedger(denied, "denied", "robots"))

    WaveResult(decisions, articles, frontierNext,
      fetchedTbl, denied, ledger,
      cached = Seq(probed, flagged, decisions.toDF(), frontierNext))
  }

  /** P1 endpoint classifier: list endpoints (paginated msg feeds) vs
    * detail pages, derived from the URL grammar — the same rule
    * discovery uses to assign frontier `kind`, so the two sides of the
    * fetch join agree by construction. */
  def kindOfUrl(url: Column): Column =
    when(url.contains("/mp/profile_ext"), lit("list")).otherwise(lit("detail"))

  /** Canonical page index for the fetch join: url re-keyed to canonical
    * form, html column NEVER read (column pruning — the fat column stays
    * on disk; SURVEY.md §5).
    *
    * Physical layout (the bucketed-table analog, built ONCE outside the
    * wave loop): hash-partitioned on url_hash at the session's shuffle
    * parallelism, so every per-wave fetch join co-locates with the
    * frontier slice's exchange and the page text itself never shuffles
    * OR broadcasts. Within each partition rows are CLUSTERED by endpoint
    * kind so a kind-filtered scan of the cached index prunes whole
    * column batches via batch stats — the list-page join (≈7% of rows)
    * stops paying a full materialization of every detail page's text
    * (the wave's single biggest byte mover); the sort leaves the hash
    * partitioning intact. Requires one version per canonical URL — use
    * [[pageIndexLatest]] for multi-snapshot corpora. */
  def pageIndex(pages: DataFrame): DataFrame = {
    val parts = pages.sparkSession.sessionState.conf.numShufflePartitions
    pages.select(graft.url.UrlParts(col("url")).as("__u"), col("text"))
      .select(col("__u.url_hash").as("url_hash"), col("__u.url").as("url"),
        kindOfUrl(col("__u.url")).as("kind"), col("text"))
      .repartition(parts, col("url_hash"))
      .sortWithinPartitions(col("kind"))
  }

  /** Page index over a multi-snapshot corpus (Common-Crawl-style: the
    * same URL captured at several warc_ts): latest capture wins. One
    * window over (url_hash, warc_ts desc) — an index-build cost paid
    * once, outside the wave loop. The window's own exchange already
    * leaves the result hash-partitioned on url_hash (the layout
    * [[pageIndex]] builds explicitly), so no extra repartition. */
  def pageIndexLatest(pages: DataFrame): DataFrame = {
    val parsed = pages
      .select(graft.url.UrlParts(col("url")).as("__u"), col("warc_ts"), col("text"))
      .select(col("__u.url_hash").as("url_hash"), col("__u.url").as("url"),
        kindOfUrl(col("__u.url")).as("kind"), col("warc_ts"), col("text"))
    // tie-break equal-warc_ts captures by content hash (url_hash is the
    // partition key — constant within the window — so without this the
    // winner would be shuffle arrival order, breaking the replay /
    // parallelism-invariance contract every tie-break must end in a
    // deterministic key)
    firstPerKey(parsed, Seq(col("url_hash")),
      Seq(col("warc_ts").desc, xxhash64(col("text")).desc))
      .drop("warc_ts")
      .sortWithinPartitions(col("kind"))
  }

  /** G4 per-partition metrics rollup from the wave's ledger, keyed by
    * (stage, partition_id) — a row's counts all come from one physical
    * partition of one stage. Every count is a real aggregate over the
    * ledger plan (wave derived from the data, not a literal — keeps
    * wave plans identical across waves); wave-level extracted/wall_ms
    * live in the snapshot manifest, not here. */
  def metrics(runId: String, ledger: DataFrame): DataFrame = {
    def n(status: String) =
      sum(when(col("status") === status, 1L).otherwise(0L))
    ledger.groupBy(col("stage"), col("partition_id"))
      .agg(max(col("wave")).as("wave"),
        n("fetched").as("fetched"), n("duplicate").as("deduped"),
        n("denied").as("denied"), n("deferred").as("deferred"))
      .select(lit(runId).as("run_id"), col("wave"), col("stage"),
        col("partition_id"),
        col("fetched"), col("deduped"), col("denied"), col("deferred"))
  }
}
