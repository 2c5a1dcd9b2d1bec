package graft

import graft.frontier.Wave
import graft.queries.{RelationalQueries, TextQueries}
import graft.seen.ShardedSeen
import graft.synth.{Synth, SynthConfig}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §8 + the builder prompt. */
object SparkEntry {

  /** Flagship: one full crawl wave (robots gate → bloom/cuckoo dedupe →
    * priority + politeness budgets → fetch-join → byte-exact extraction)
    * over a deterministic synthetic pages corpus. Returns the extracted
    * articles table; driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val cfg = SynthConfig(nAccounts = 5, articlesPerAccount = 12, longTail = 30)
    val pagesIdx = Wave.pageIndex(Synth.pages(spark, cfg).toDF())
    val r = Wave.run(spark,
      frontier = Synth.seedFrontier(spark, cfg).toDF(),
      seenExact = Seq.empty[Long].toDF("url_hash"),
      shards = ShardedSeen.emptyShards(spark),
      nShards = 4,
      robots = Synth.robots(spark, cfg).toDF(),
      budgets = Synth.budgets(spark, cfg).toDF(),
      pagesIdx = pagesIdx)
    r.articles
  }

  /** One entry per implemented operator from SURVEY.md §3 + the
    * training-data pipeline battery. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalQueries.queries ++ TextQueries.queries

  /** DuckDB-equivalent ANSI SQL per query; hash-signature queries
    * (minhash/simhash/LSH/winnow/top-k) are intentionally omitted →
    * driver records a rows-only check; their semantics are pinned by
    * ScalaTest on planted fixtures. */
  def oracleSql: Map[String, String] =
    RelationalQueries.oracles ++ TextQueries.oracles
}
