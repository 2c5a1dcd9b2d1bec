package graft.checkpoint

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Physical bucketed layout for the cluster-scale join story.
  *
  * At a 10^10-URL frontier the per-wave fetch join and seen-confirm join
  * cannot broadcast either side, and re-shuffling a 100 TB page corpus
  * every wave is the bottleneck the north rule forbids. The scale answer
  * is the classic warehouse layout: persist BOTH sides bucketed by
  * `url_hash` into the same bucket count, so every url_hash-equi-join is
  * a zero-exchange sort-merge join — each task reads bucket i of each
  * side, no shuffle of the fat page text, ever.
  *
  * Locally the crawl loop approximates this with an in-memory
  * hash-partitioned page index ([[graft.frontier.Wave.pageIndex]]) and
  * never writes this layout; this object is the durable-table variant,
  * kept beside BucketedLayoutSpec, which pins the zero-exchange plan
  * with broadcast disabled — the proof that the layout works, not just
  * a comment claiming it would.
  *
  * Bucket-count sizing at scale: pages ~100 TB / target 256 MB per
  * bucket-file per partition → O(400k) buckets is absurd; instead the
  * table is date/segment-partitioned with O(4k) buckets per partition so
  * a bucket's file set stays executor-memory-sized. The frontier, seen
  * and fetched tables reuse the SAME bucket count so all crawl-loop
  * joins co-locate.
  */
object BucketedLayout {

  /** Persist `df` bucketed (+ sorted within buckets) by `url_hash`.
    * `table` is a catalog table name; files land in the session
    * warehouse. Parquet + sortBy makes the merge join sort-free when
    * each bucket has one file per writer task. */
  def writeBucketed(df: DataFrame, table: String, buckets: Int): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "url_hash")
      .sortBy("url_hash")
      .saveAsTable(table)

  /** The fetch join over bucketed tables: frontier-slice columns plus
    * the page text, joined on url_hash with NO exchange on either side
    * (both scans are bucket-aligned). Column pruning still applies —
    * pass projected tables or let Catalyst prune. */
  def fetchJoin(spark: SparkSession, frontierTable: String, pagesTable: String,
      pageCols: Seq[String] = Seq("text")): DataFrame = {
    val pages = spark.table(pagesTable)
      .select("url_hash", pageCols: _*)
    spark.table(frontierTable).join(pages, Seq("url_hash"))
  }
}
