package graft.model

import java.sql.Timestamp

/** Case-class data model for the crawl engine (SURVEY.md §2.1).
  *
  * All tables use fixed schemas (Encoders.product); the `pages` shape
  * (url, warc_ts, html, text, lang) is mandated verbatim by
  * BASELINE.json `input_hint`.
  */
final case class Page(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

final case class Account(biz: String, name: String, seed_rank: Int)

/** One frontier row. `kind` is "list" | "detail".
  * `priority` is the per-account recency rank (smaller = fetch sooner).
  */
final case class FrontierEntry(
    url: String,
    url_hash: Long,
    host: String,
    biz: String,
    kind: String,
    wave: Int,
    priority: Long,
    discovered_ts: Timestamp)

/** One extracted article. `comments_json` is the page's raw embedded
  * comments payload (store-raw-once: the typed comments table is a
  * parse-on-read view, [[graft.frontier.ArticleStore.comments]]). */
final case class Article(
    url: String,
    url_hash: Long,
    biz: String,
    title: String,
    body: String,
    publish_ts: Timestamp,
    read_count: Int,
    like_count: Int,
    comments_json: String,
    wave: Int)

final case class RobotsRule(host: String, path_prefix: String, allowed: Boolean)

/** Politeness budget. Tokens REFILL every wave — a "round" is the
  * politeness window (per-host rate cap per crawl round, the upstream
  * semantics), so the run-constant `budgets` table committed in
  * snapshot 0 is the whole per-host budget state. */
final case class HostBudget(host: String, tokens_per_round: Int)

/** G4 per-partition wave metrics — every field is aggregated from the
  * wave's ledger plan (real lineage, no run-level literals); `stage`
  * names the physical stage whose partition decided the rows (budget /
  * seen / robots); wave-level extracted/wall_ms live in the snapshot
  * manifest. */
final case class CrawlMetrics(
    run_id: String,
    wave: Int,
    stage: String,
    partition_id: Int,
    fetched: Long,
    deduped: Long,
    denied: Long,
    deferred: Long)

/** Emitted crawl ordering, the replay-gate artifact (FIXTURES.md §5). */
final case class CrawlOrder(wave: Int, priority: Long, url_hash: Long, url: String)

/** Frontier row salted + budget-annotated, input to the token-bucket
  * mapPartitions island (SURVEY.md §3 U5). */
final case class BudgetRow(
    url: String,
    url_hash: Long,
    host: String,
    biz: String,
    kind: String,
    wave: Int,
    priority: Long,
    discovered_ts: Timestamp,
    n_salts: Int,
    tokens_per_round: Int,
    salt: Int)

/** Token-bucket decision: fetch this wave or defer to the next. */
final case class FetchDecision(
    url: String,
    url_hash: Long,
    host: String,
    biz: String,
    kind: String,
    wave: Int,
    priority: Long,
    discovered_ts: Timestamp,
    fetched: Boolean,
    partition_id: Int)
