package graft.seen

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CuckooFilterSpec extends org.scalatest.funsuite.AnyFunSuite {
  private def keys(n: Int, seed: Long = 7L): Array[Long] = {
    val r = new java.util.SplittableRandom(seed)
    Array.fill(n)(r.nextLong())
  }

  test("no false negatives up to design load") {
    val ks = keys(10000)
    val cf = new CuckooFilter(10000)
    ks.foreach(cf.insert)
    assert(!cf.isSaturated)
    ks.foreach(k => assert(cf.mightContain(k), s"false negative for $k"))
  }

  test("false positive rate is small") {
    val ks = keys(10000)
    val cf = new CuckooFilter(10000)
    ks.foreach(cf.insert)
    val probes = keys(20000, seed = 999L)
    val inSet = ks.toSet
    val fps = probes.count(k => !inSet.contains(k) && cf.mightContain(k))
    assert(fps.toDouble / probes.length < 0.01, s"fpp too high: $fps/20000")
  }

  test("delete removes and lookup respects it") {
    val ks = keys(1000)
    val cf = new CuckooFilter(2000)
    ks.foreach(cf.insert)
    ks.take(500).foreach(k => assert(cf.delete(k)))
    // deleted keys may still collide with survivors' fingerprints, but
    // the un-deleted half must all still be present:
    ks.drop(500).foreach(k => assert(cf.mightContain(k)))
    assert(cf.size === 500)
  }

  test("serialization round-trips exactly") {
    val ks = keys(5000)
    val cf = new CuckooFilter(5000)
    ks.foreach(cf.insert)
    val back = CuckooFilter.deserialize(cf.serialize())
    assert(back.size === cf.size && back.numBuckets === cf.numBuckets)
    ks.foreach(k => assert(back.mightContain(k)))
    assert(back.serialize().sameElements(cf.serialize()))
  }

  test("merge of disjoint shards keeps all keys; saturation degrades safely") {
    val a = keys(3000, 1L); val b = keys(3000, 2L)
    val f1 = new CuckooFilter(8000); val f2 = new CuckooFilter(8000)
    a.foreach(f1.insert); b.foreach(f2.insert)
    f1.mergeInPlace(f2)
    (a ++ b).foreach(k => assert(f1.mightContain(k)))
    // overload a tiny filter far past capacity → saturates, never lies
    val tiny = new CuckooFilter(64)
    val many = keys(5000, 3L)
    many.foreach(tiny.insert)
    assert(tiny.isSaturated)
    many.foreach(k => assert(tiny.mightContain(k)))
  }

  test("size counts every logical insert consistently across paths") {
    // saturated direct inserts and saturated merges must count the same
    // way: size = logically-inserted keys (a saturated filter answers
    // "maybe" for all of them, so they are in)
    val tiny = new CuckooFilter(64)
    val many = keys(1000, 4L)
    many.foreach(tiny.insert)
    assert(tiny.isSaturated)
    assert(tiny.size === many.length.toLong,
      "saturated insert() must keep counting like insertFp does")
    val other = new CuckooFilter(64) // same expected capacity → same geometry
    assert(other.numBuckets === tiny.numBuckets, "same shard geometry")
    keys(100, 5L).foreach(other.insert)
    val before = tiny.size
    tiny.mergeInPlace(other)
    assert(tiny.size === before + other.size, "merge adds the other side's count")
  }

  test("bucket cap keeps the serialized form inside an Int-indexed array") {
    // 2^28 buckets would need a 2^31-byte buffer (Int overflow in
    // serialize); the cap is 2^27 = a 1 GiB table + 13-byte header
    val capBuckets = CuckooFilter.bucketsFor(Long.MaxValue)
    assert(capBuckets === (1 << 27))
    val bytes = 4L + 8L + 1L + capBuckets.toLong * CuckooFilter.SlotsPerBucket * 2L
    assert(bytes > 0 && bytes <= Int.MaxValue.toLong,
      s"max-capacity filter must be serializable: $bytes bytes")
  }
}

class ShardedSeenSpec extends SparkSpec {
  import spark.implicits._

  private def empty(spark: org.apache.spark.sql.SparkSession) =
    ShardedSeen.emptyShards(spark)

  private def build(keys: Seq[Long], capacity: Long, nShards: Int) =
    ShardedSeen.updatedShards(empty(spark), keys.toDF("url_hash"),
      spark.range(0).selectExpr("id as url_hash"), capacity, nShards)

  test("shard table build/update is executor-side and has no false negatives") {
    val keys = (1L to 5000L).map(_ * 2654435761L)
    val shards = build(keys, 5000, nShards = 8)
    val rows = shards.collect()
    assert(rows.map(_.shard).toSet.subsetOf((0 until 8).toSet))
    val sketches = rows.map(s => s.shard -> ShardSketch.deserialize(s.bytes)).toMap
    keys.foreach { h =>
      val sk = sketches(ShardedSeen.shardOf(h, 8))
      assert(sk.mightContain(h), s"false negative for $h")
    }
    // second wave merges per shard at the same capacity (table round-trip)
    val wave2 = (5001L to 6000L).map(_ * 2654435761L)
    val merged = ShardedSeen.updatedShards(shards, wave2.toDF("url_hash"),
      spark.range(0).selectExpr("id as url_hash"), 5000, 8)
    val m = merged.collect().map(s => s.shard -> ShardSketch.deserialize(s.bytes)).toMap
    (keys ++ wave2).foreach(h =>
      assert(m(ShardedSeen.shardOf(h, 8)).mightContain(h)))
  }

  test("two-stage notSeen equals plain left_anti join") {
    val seenKeys = (1L to 3000L).map(i => i * 0x9e3779b9L)
    val seen = seenKeys.toDF("url_hash")
    val shards = build(seenKeys, 3000, nShards = 4)
    // frontier: half dupes, half new, extra payload column
    val frontier = ((1L to 1500L) ++ (100001L to 101500L))
      .map(i => (i * 0x9e3779b9L, s"u$i")).toDF("url_hash", "url")
    val got = CogroupProbe.notSeen(frontier, seen, shards, 4)
      .select("url_hash", "url").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val want = frontier.join(seen, Seq("url_hash"), "left_anti")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === want)
    assert(got.size === 1500)
  }

  test("notSeen result is identical across parallelism (4 vs 1 partitions)") {
    val seen = (1L to 500L).map(_ * 31L).toDF("url_hash")
    val shards = build((1L to 500L).map(_ * 31L), 500, nShards = 4)
    val frontier = (1L to 2000L).map(i => (i * 31L, i)).toDF("url_hash", "id")
    val a = CogroupProbe.notSeen(frontier.repartition(4), seen, shards, 4)
      .select("id").as[Long].collect().sorted.toSeq
    val b = CogroupProbe.notSeen(frontier.coalesce(1), seen, shards, 4)
      .select("id").as[Long].collect().sorted.toSeq
    assert(a === b)
  }

  test("retraction: cuckoo delete makes keys definitely-new; re-insert re-seens") {
    val keys = (1L to 400L).map(_ * 0x9e3779b9L)
    val shards = build(keys, 1000, nShards = 4)
    val retractKeys = keys.take(100)
    val retracted = ShardedSeen.updatedShards(shards,
      spark.range(0).selectExpr("id as url_hash"),
      retractKeys.toDF("url_hash"), 1000, 4)
    val m = retracted.collect().map(s => s.shard -> ShardSketch.deserialize(s.bytes)).toMap
    // kept keys still maybe-seen (never a false negative for live keys)
    keys.drop(100).foreach(h =>
      assert(m(ShardedSeen.shardOf(h, 4)).mightContain(h)))
    // probe path: retracted keys flow as definitely-new even though the
    // exact table still lists them (the seen-keys view excludes them)
    val frontier = retractKeys.map(h => (h, s"u$h")).toDF("url_hash", "url")
    val stillSeen = keys.toDF("url_hash") // stale exact table
    val out = CogroupProbe.notSeen(frontier, stillSeen, retracted, 4)
    assert(out.count() === 100, "cuckoo delete must route around the exact join")
    // re-fetch re-inserts → seen again
    val reinserted = ShardedSeen.updatedShards(retracted,
      retractKeys.toDF("url_hash"),
      spark.range(0).selectExpr("id as url_hash"), 1000, 4)
    val m2 = reinserted.collect().map(s => s.shard -> ShardSketch.deserialize(s.bytes)).toMap
    retractKeys.foreach(h =>
      assert(m2(ShardedSeen.shardOf(h, 4)).mightContain(h)))
  }
}
