package graft.seen

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** One shard's sketch state: a bloom + a cuckoo filter over the shard's
  * url_hash keys (SURVEY.md §3 U3/U4/G5). Bloom answers the bulk of
  * probes from a bitset scan; the cuckoo adds DELETE (frontier
  * retraction for re-crawl). `mightContain` is the AND of both, so a
  * cuckoo delete makes a key "definitely new" again even though bloom
  * bits are sticky. Zero false negatives for inserted-and-not-deleted
  * keys — the invariant the two-stage seen filter rests on.
  */
final class ShardSketch(val bloom: BloomFilter, val cuckoo: CuckooFilter) {

  def insert(h: Long): Unit = { bloom.putLong(h); cuckoo.insert(h) }

  /** Only for keys known inserted (see [[CuckooFilter.delete]]). */
  def delete(h: Long): Unit = cuckoo.delete(h)

  def mightContain(h: Long): Boolean =
    bloom.mightContain(h) && cuckoo.mightContain(h)

  /** Merge a sibling shard built at the same capacity. */
  def merge(other: ShardSketch): ShardSketch = {
    bloom.mergeInPlace(other.bloom)
    cuckoo.mergeInPlace(other.cuckoo)
    this
  }

  def serialize(): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    val bloomBytes = { val b = new ByteArrayOutputStream(); bloom.writeTo(b); b.toByteArray }
    out.writeInt(bloomBytes.length); out.write(bloomBytes)
    val ck = cuckoo.serialize()
    out.writeInt(ck.length); out.write(ck)
    out.flush(); bos.toByteArray
  }
}

object ShardSketch {
  /** Bloom false-positive rate: at most this share of unseen keys
    * still take the exact confirm join. */
  private val Fpp: Double = 0.01

  def empty(perShardCapacity: Long): ShardSketch =
    new ShardSketch(
      BloomFilter.create(math.max(perShardCapacity, 256L), Fpp),
      new CuckooFilter(math.max(perShardCapacity, 256L)))

  def deserialize(bytes: Array[Byte]): ShardSketch = {
    val in = new java.io.DataInputStream(new ByteArrayInputStream(bytes))
    val bloomBytes = new Array[Byte](in.readInt()); in.readFully(bloomBytes)
    val bloom = BloomFilter.readFrom(new ByteArrayInputStream(bloomBytes))
    val ck = new Array[Byte](in.readInt()); in.readFully(ck)
    new ShardSketch(bloom, CuckooFilter.deserialize(ck))
  }
}

/** One row of the `seen_sketch` snapshot table. */
final case class SketchShard(shard: Int, bytes: Array[Byte])

/** Sharded URL-seen set — the 10^10-scale design (SURVEY.md §3 J2/G5).
  *
  * The run-level sketch state lives as a TABLE of shards keyed by
  * pmod(url_hash, nShards), never as one driver-side blob: at 10^10 URLs
  * a 1%-fpp bloom alone is ~12 GB — unbroadcastable, and any driver-side
  * merge is a serial stall. Instead:
  *
  *   - PROBE: [[graft.plans.GraftPlanner.probeDedupe]] co-partitions
  *     the frontier with the shards table on the shard key — each task
  *     sees exactly its shards' rows plus those shards' (small) sketch
  *     bytes. No broadcast, no driver; the only data movement is one
  *     linear shuffle of the frontier slice plus sketch bytes ≈
  *     state/nShards per task. At cluster scale the seen table and
  *     frontier are bucketed on the same key, so this aligns with the
  *     exact join's partitioning.
  *   - ROUTE: rows whose shard sketch says "definitely new" skip the
  *     exact join entirely; only the maybe-slice (true dupes + a few %
  *     false positives) joins the exact seen table.
  *   - UPDATE: per-wave inserts/deletes are applied by cogrouping the
  *     previous shards with the wave's delta keys — built, merged and
  *     written entirely on executors.
  *
  * Correctness does not depend on sketch internals: sketches only ROUTE
  * rows toward or away from the exact join (no false negatives for live
  * keys), so probe results — and therefore crawl ordering — are
  * independent of fingerprint layout, merge order and parallelism.
  * Property-tested equal to a plain left_anti join.
  */
object ShardedSeen {

  /** Per-task buffer ceiling for the fused dedupe+probe: ~16M
    * slim frontier Rows ≈ a few GB — comfortably inside a normal
    * executor; a wave bigger than nShards × this is a sizing bug the
    * guard reports instead of OOM-ing. */
  val DefaultMaxShardBufferRows: Long = 16000000L

  def shardOf(urlHash: Long, nShards: Int): Int =
    ((urlHash % nShards) + nShards).toInt % nShards

  def emptyShards(spark: SparkSession): Dataset[SketchShard] = {
    import spark.implicits._
    spark.emptyDataset[SketchShard]
  }

  /** Stage 2: turn `__maybe` into `__dup` (true = already seen) by
    * confirming sketch-positive rows against the exact seen table — the
    * exact join only ever sees the maybe-slice. `seenExact` MUST hold
    * one row per url_hash (a dup would multiply frontier rows through
    * the left join): the crawl's seen view is unique by construction —
    * never-fetch-twice — and [[graft.CrawlDriver.seenKeys]] dedupes the
    * (small) re-crawl branch explicitly. */
  def confirmFlag(probed: DataFrame, seenExact: DataFrame): DataFrame = {
    val definitelyNew = probed.filter(!col("__maybe")).withColumn("__dup", lit(false))
    // shuffle_hash, not broadcast: the seen table is the BIG side at
    // scale (bucketed SMJ on a cluster)
    val confirmed = probed.filter(col("__maybe"))
      .join(seenExact.select(col("url_hash"))
          .withColumn("__dup", lit(true)).hint("shuffle_hash"),
        Seq("url_hash"), "left")
      .withColumn("__dup", coalesce(col("__dup"), lit(false)))
    definitelyNew.unionByName(confirmed.select(definitelyNew.columns.map(col): _*))
      .drop("__maybe")
  }

  /** Apply a wave's delta to the shard table: deletes first (frontier
    * retraction), then inserts (the wave's fetched keys). Runs entirely
    * on executors — prev state and deltas are cogrouped per shard; keys
    * are sorted in-memory per shard so snapshot bytes are byte-stable
    * across parallelism (each shard's delta is wave-sized/nShards).
    *
    * `capacity` is the RUN-level expected key count: sketches only merge
    * at identical sizes, so shards are allocated at capacity/nShards from
    * the first wave (≈ the shard's final size — per-shard, not per-run,
    * memory). */
  def updatedShards(
      prev: Dataset[SketchShard],
      inserts: DataFrame,
      deletes: DataFrame,
      capacity: Long,
      nShards: Int): Dataset[SketchShard] = {
    val spark = prev.sparkSession
    import spark.implicits._
    val perShard = math.max(capacity / nShards, 256L)
    val ops = inserts.select(col("url_hash"), lit(false).as("del"))
      .unionByName(deletes.select(col("url_hash"), lit(true).as("del")))
      .as[(Long, Boolean)]
    prev.groupByKey(_.shard)
      .cogroup(ops.groupByKey(o => shardOf(o._1, nShards))) { (shard, sks, opIt) =>
        val opsList = opIt.toArray
        val prevSketch = sks.map(s => ShardSketch.deserialize(s.bytes))
          .reduceOption(_.merge(_))
        if (opsList.isEmpty) {
          prevSketch.map(s => SketchShard(shard, s.serialize())).iterator
        } else {
          val sk = prevSketch.getOrElse(ShardSketch.empty(perShard))
          opsList.filter(_._2).map(_._1).sorted.foreach(sk.delete)
          opsList.filterNot(_._2).map(_._1).sorted.foreach(sk.insert)
          Iterator.single(SketchShard(shard, sk.serialize()))
        }
      }
  }
}
