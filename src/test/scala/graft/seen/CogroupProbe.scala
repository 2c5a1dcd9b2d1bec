package graft.seen

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BooleanType

/** Reference twin of the seen probe as a Dataset `cogroup` on the shard
  * key: the semantics [[graft.plans.ShardedProbeExec]] must reproduce
  * row for row (ShardedProbePlanSpec), and the probe SeenSpec's
  * `notSeen` properties run through. Encoder round-trips per row make
  * it the slow path; the crawl never plans it. */
object CogroupProbe {

  /** Row + one boolean column with ONE array copy. */
  private def appendFlag(r: Row, flag: Boolean): Row = {
    val n = r.length
    val arr = new Array[Any](n + 1)
    var i = 0
    while (i < n) { arr(i) = r.get(i); i += 1 }
    arr(n) = flag
    new GenericRow(arr)
  }

  /** Tag every frontier row with `__maybe` via the shard-aligned sketch
    * probe (cogroup — no broadcast, no driver). */
  def probeShards(
      frontier: DataFrame,
      shards: Dataset[SketchShard],
      nShards: Int): DataFrame = {
    val spark = frontier.sparkSession
    import spark.implicits._
    val hashIdx = frontier.schema.fieldIndex("url_hash")
    val outEnc = Encoders.row(frontier.schema.add("__maybe", BooleanType))
    frontier
      .groupByKey(r => ShardedSeen.shardOf(r.getLong(hashIdx), nShards))
      .cogroup(shards.groupByKey(_.shard)) { (_, rows, sks) =>
        val sketch = sks.map(s => ShardSketch.deserialize(s.bytes))
          .reduceOption(_.merge(_))
        sketch match {
          case None => rows.map(r => appendFlag(r, false))
          case Some(sk) => rows.map(r =>
            appendFlag(r, sk.mightContain(r.getLong(hashIdx))))
        }
      }(outEnc)
  }

  /** [[probeShards]] fused with first-wins in-batch dedupe: one row per
    * url_hash, the (priority, kind, url) minimum — exactly
    * [[graft.frontier.Wave.dedupeInBatch]]'s ordering. */
  def probeDedupe(
      frontier: DataFrame,
      shards: Dataset[SketchShard],
      nShards: Int,
      prioIdx: Int,
      kindIdx: Int,
      urlIdx: Int): DataFrame = {
    val spark = frontier.sparkSession
    import spark.implicits._
    val hashIdx = frontier.schema.fieldIndex("url_hash")
    val outEnc = Encoders.row(frontier.schema.add("__maybe", BooleanType))
    implicit val rowOrd: Ordering[Row] = new Ordering[Row] {
      def compare(a: Row, b: Row): Int = {
        val h = java.lang.Long.compare(a.getLong(hashIdx), b.getLong(hashIdx))
        if (h != 0) return h
        val p = java.lang.Long.compare(a.getLong(prioIdx), b.getLong(prioIdx))
        if (p != 0) return p
        val k = a.getString(kindIdx).compareTo(b.getString(kindIdx))
        if (k != 0) return k
        a.getString(urlIdx).compareTo(b.getString(urlIdx))
      }
    }
    frontier
      .groupByKey(r => ShardedSeen.shardOf(r.getLong(hashIdx), nShards))
      .cogroup(shards.groupByKey(_.shard)) { (_, rows, sks) =>
        val sketch = sks.map(s => ShardSketch.deserialize(s.bytes))
          .reduceOption(_.merge(_))
        var lastHash = 0L
        var first = true
        rows.toArray.sorted.iterator.filter { r =>
          val h = r.getLong(hashIdx)
          val keep = first || h != lastHash
          lastHash = h; first = false
          keep
        }.map(r =>
          appendFlag(r, sketch.exists(_.mightContain(r.getLong(hashIdx)))))
      }(outEnc)
  }

  /** Rows of `frontier` whose url_hash is NOT in the seen set. */
  def notSeen(
      frontier: DataFrame,
      seenExact: DataFrame,
      shards: Dataset[SketchShard],
      nShards: Int): DataFrame =
    ShardedSeen.confirmFlag(probeShards(frontier, shards, nShards), seenExact)
      .filter(!col("__dup")).drop("__dup")
}
