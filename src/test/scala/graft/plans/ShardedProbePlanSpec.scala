package graft.plans

import graft.SparkSpec
import graft.seen.{CogroupProbe, ShardedSeen}
import org.apache.spark.sql.functions._

/** The custom probe operator must be plan-visible, broadcast-free and
  * row-identical to the Dataset-cogroup reference implementation. */
class ShardedProbePlanSpec extends SparkSpec {
  import spark.implicits._

  private def shardTable(keys: Seq[Long], cap: Long, nShards: Int) =
    ShardedSeen.updatedShards(
      ShardedSeen.emptyShards(spark), keys.toDF("url_hash"),
      spark.range(0).selectExpr("id as url_hash"), cap, nShards)

  test("custom exec ≡ cogroup path: same rows, same winners, same flags") {
    val nShards = 4
    val seen = (1L to 400L).map(_ * 0x9e3779b97f4a7c15L)
    val shards = shardTable(seen, 2000, nShards).toDF()
    // frontier with duplicates per url_hash and mixed priorities
    val frontier = ((1L to 300L) ++ (900001L to 900500L)).flatMap { i =>
      val h = i * 0x9e3779b97f4a7c15L
      Seq((s"https://h/a$i", h, "h", s"b${i % 7}", "detail", 0, (i % 5).toLong,
        new java.sql.Timestamp(0L)),
        (s"https://h/b$i", h, "h", s"b${i % 7}", "list", 0, ((i + 2) % 5).toLong,
          new java.sql.Timestamp(0L)))
    }.toDF("url", "url_hash", "host", "biz", "kind", "wave", "priority", "discovered_ts")

    val fast = GraftPlanner.probeDedupe(frontier, shards, nShards, 1000000L)
    val slow = CogroupProbe.probeDedupe(frontier,
      shards.as[graft.seen.SketchShard], nShards,
      prioIdx = frontier.schema.fieldIndex("priority"),
      kindIdx = frontier.schema.fieldIndex("kind"),
      urlIdx = frontier.schema.fieldIndex("url"))

    // structural gates: custom exec present, co-partitioned exchanges,
    // zero broadcast of sketch state
    val plan = fast.queryExecution.executedPlan.toString()
    assert(plan.contains("ShardedProbe"), plan.take(900)) // exec prints without the Exec suffix
    assert(!plan.contains("BroadcastExchange"), plan.take(900))
    assert(plan.contains("pmod"), "frontier side must cluster on pmod(url_hash, n)")

    val key = (r: org.apache.spark.sql.Row) =>
      (r.getAs[Long]("url_hash"), r.getAs[String]("url"), r.getAs[Boolean]("__maybe"))
    val a = fast.collect().map(key).sortBy(identity).toSeq
    val b = slow.collect().map(key).sortBy(identity).toSeq
    assert(a === b, "custom operator must match the cogroup reference exactly")
    assert(a.size === 800, "one winner per url_hash")
    // every seen key flagged maybe (no false negatives)
    val flags = fast.collect().map(r =>
      r.getAs[Long]("url_hash") -> r.getAs[Boolean]("__maybe")).toMap
    seen.take(300).foreach(h => assert(flags(h), s"false negative on $h"))
  }

  test("buffer bound fails fast with an actionable message") {
    val shards = shardTable(Seq(1L), 100, 1).toDF()
    val frontier = (1L to 50L).map(i =>
      (s"u$i", i, "h", "b", "detail", 0, 0L, new java.sql.Timestamp(0L)))
      .toDF("url", "url_hash", "host", "biz", "kind", "wave", "priority", "discovered_ts")
    val probe = GraftPlanner.probeDedupe(frontier, shards, 1, maxBufferRows = 10L)
    val e = intercept[org.apache.spark.SparkException] { probe.count() }
    assert(e.getMessage.contains("maxBufferRows") ||
      Option(e.getCause).exists(_.getMessage.contains("maxBufferRows")))
  }

  test("renamed/missing frontier column fails at plan construction, not execute") {
    val shards = shardTable(Seq(1L), 100, 1).toDF()
    val renamed = (1L to 5L).map(i =>
      (s"u$i", i, "h", "b", "detail", 0, 0L, new java.sql.Timestamp(0L)))
      .toDF("url", "url_hash", "host", "biz", "kind", "wave", "priority", "discovered_ts")
      .withColumnRenamed("priority", "prio")
    val e = intercept[IllegalArgumentException] {
      GraftPlanner.probeDedupe(renamed, shards, 1, 1000000L) // no action issued
    }
    assert(e.getMessage.contains("priority"), e.getMessage)
    // sketch side too: a shard table missing `bytes` is rejected up front
    val e2 = intercept[IllegalArgumentException] {
      GraftPlanner.probeDedupe(
        (1L to 5L).map(i =>
          (s"u$i", i, "h", "b", "detail", 0, 0L, new java.sql.Timestamp(0L)))
          .toDF("url", "url_hash", "host", "biz", "kind", "wave", "priority", "discovered_ts"),
        shards.withColumnRenamed("bytes", "blob"), 1, 1000000L)
    }
    assert(e2.getMessage.contains("bytes"), e2.getMessage)
  }

  test("works under whole-stage-codegen consumers and filters downstream") {
    val nShards = 2
    val seen = (1L to 50L).map(_ * 31L)
    val shards = shardTable(seen, 500, nShards).toDF()
    val frontier = (1L to 200L).map(i =>
      (s"u$i", i * 31L, "h", "b", "detail", 0, 0L, new java.sql.Timestamp(0L)))
      .toDF("url", "url_hash", "host", "biz", "kind", "wave", "priority", "discovered_ts")
    val out = GraftPlanner.probeDedupe(frontier, shards, nShards, 1000000L)
      .filter(!col("__maybe"))
      .groupBy("kind").agg(count(lit(1)).as("n"))
    val n = out.collect().head.getLong(1)
    // 150 definitely-new (sketch has 1..50) minus false positives ≥ 140
    assert(n >= 140 && n <= 150, s"got $n")
  }
}
