package graft.frontier

import graft.checkpoint.SnapshotCatalog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Merged views over the append-only snapshot deltas (SURVEY.md §3 J5/A4).
  *
  * The crawl writes per-wave delta tables; consumers read a MERGE view:
  * last-write-wins per url_hash on (wave, publish_ts) — the upstream
  * "re-crawl updates read/like counts" semantics without rewriting
  * history (the Iceberg MERGE pattern over our snapshot layer).
  */
object ArticleStore {

  /** Last-write-wins merge of already-deduped base rows + raw deltas. */
  private def merged(df: DataFrame): DataFrame =
    Wave.firstPerKey(df, Seq(col("url_hash")),
      Seq(col("wave").desc, col("publish_ts").desc))

  /** Latest version of every article as of snapshot k.
    *
    * Reads the newest compaction base ≤ k plus only the delta TAIL
    * after it — without compaction a long-lived crawl's merge-on-read
    * cost grows linearly with wave count; with [[compacted]] riding the
    * commit every N waves it is O(store + N waves), the Iceberg
    * rewrite-data-files pattern. Falls back to the full delta scan when
    * no base exists. */
  def articles(catalog: SnapshotCatalog, k: Int): DataFrame =
    // base at snapshot b covers deltas 0..b-1; tail = b..k — the shared
    // base-aware read that makes pre-base deltas physically expirable
    // (checkpoint.Expiry)
    merged(catalog.readWithBase(k, "articles_delta", "articles_base"))

  /** The compaction product to commit INTO snapshot k+1 (as table
    * `articles_base`): the merged store over committed snapshots 0..k —
    * a pure function of committed state, so kill/replay rewrites the
    * identical base. */
  def compacted(catalog: SnapshotCatalog, upToCommitted: Int): DataFrame =
    articles(catalog, upToCommitted)

  /** Typed comments view over the merged articles (U6): the crawl
    * stores ONE extraction product per page (articles + raw
    * comments_json); this parses the small embedded JSON on read.
    * Last-write-wins applies to comments too — a re-crawl's payload
    * replaces the old one. */
  def comments(catalog: SnapshotCatalog, k: Int): DataFrame =
    graft.extract.Extract.commentsOf(
      articles(catalog, k).select(col("url_hash"), col("comments_json")))

  /** G1 rollup: per-account crawl progress. */
  def accountStats(catalog: SnapshotCatalog, k: Int): DataFrame =
    articles(catalog, k)
      .filter(col("biz") =!= "")
      .groupBy(col("biz"))
      .agg(count(lit(1)).as("n_articles"),
        max(col("publish_ts")).as("newest_publish"),
        sum(col("read_count")).as("total_reads"),
        sum(col("like_count")).as("total_likes"))
}
