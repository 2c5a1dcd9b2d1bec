package graft.tools

import graft.plans.GraftPlanner
import graft.seen.{ShardedSeen, SketchShard}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Same-JVM A/B of the probe+dedupe paths (custom ShardedProbeExec vs
  * Dataset cogroup) — alternating reps on one session so host noise
  * hits both arms equally. args: [cores] [rows] [reps] */
object ProbeBench {
  def main(args: Array[String]): Unit = {
    val cores = args.lift(0).map(_.toInt).getOrElse(graft.HostFit.cores)
    val rows = args.lift(1).map(_.toInt).getOrElse(2000000)
    val reps = args.lift(2).map(_.toInt).getOrElse(5)
    val nShards = 16
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("probe-ab")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftPlanner.install(spark)
    import spark.implicits._

    // frontier: realistic column mix, 25% duplicate url_hashes
    val frontier = spark.range(rows.toLong)
      .select(
        concat(lit("https://mp.weixin.qq.com/s?__biz=b"), col("id") % 1000,
          lit("&mid="), col("id")).as("url"),
        xxhash64(col("id") % (rows * 3L / 4)).as("url_hash"),
        lit("mp.weixin.qq.com").as("host"),
        concat(lit("b"), col("id") % 1000).as("biz"),
        when(col("id") % 20 === 0, "list").otherwise("detail").as("kind"),
        lit(0).as("wave"),
        (col("id") % 7).cast("long").as("priority"),
        timestamp_seconds(lit(1700000000L)).as("discovered_ts"))
      .persist()
    frontier.count()
    val seenKeys = spark.range(rows / 4L).select(xxhash64(col("id")).as("url_hash"))
    val shards = ShardedSeen.updatedShards(
      ShardedSeen.emptyShards(spark), seenKeys,
      spark.range(0).selectExpr("id as url_hash"), rows.toLong, nShards)
      .toDF().persist()
    shards.count()

    val sch = frontier.schema
    def cogroup() = ShardedSeen.probeDedupe(frontier,
      shards.as[SketchShard], nShards,
      prioIdx = sch.fieldIndex("priority"),
      kindIdx = sch.fieldIndex("kind"),
      urlIdx = sch.fieldIndex("url"))
    def custom() = GraftPlanner.probeDedupe(frontier, shards, nShards, 100000000L)

    def time(df: => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      // realistic consumer: aggregate over the flag (forces full scan)
      df.agg(sum(when(col("__maybe"), 1).otherwise(0))).collect()
      (System.nanoTime() - t0) / 1e9
    }
    // warm both
    time(cogroup()); time(custom())
    val co = collection.mutable.ArrayBuffer.empty[Double]
    val cu = collection.mutable.ArrayBuffer.empty[Double]
    (1 to reps).foreach { i =>
      co += time(cogroup())
      cu += time(custom())
      println(f"[probe-ab] rep=$i cogroup=${co.last}%.2fs custom=${cu.last}%.2fs")
    }
    println(f"[probe-ab] rows=$rows cores=$cores MIN cogroup=${co.min}%.2fs " +
      f"custom=${cu.min}%.2fs speedup=${co.min / cu.min}%.2fx")
    spark.stop()
  }
}
