package graft.perfbench

import org.apache.spark.sql.functions._

/** Self-test of the harness's own arithmetic on the JVM side: the
  * order-insensitive digest and the tracer's interval and phase logic.
  * Run through `python3 perfbench/selftest.py --jvm`. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    var failures = 0
    def expect(what: String, ok: Boolean): Unit = {
      println(s"${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) failures += 1
    }

    val t = new Tracer(4)
    expect("union of overlapping intervals",
      t.unionSec(Seq((0L, 2000000000L), (1000000000L, 3000000000L), (5000000000L, 6000000000L))) == 4.0)
    expect("union ignores empty and inverted intervals",
      t.unionSec(Seq((5L, 5L), (9L, 3L))) == 0.0)
    expect("phase: chain warm-up", t.phase("wave-3/chain-warm") == "chain_warm")
    expect("phase: loop commit", t.phase("commit-4/seen_sketch") == "loop_commit")
    expect("phase: bulk commit", t.phase("commit-4/articles_delta") == "bulk_commit")
    expect("phase: compaction", t.phase("commit-4/fetched_base") == "compact")
    expect("phase: undescribed job", t.phase("") == "other")

    val dir = java.nio.file.Files.createTempDirectory("perfbench-selftest").toString
    val spark = Sessions.start(2, 2, aqe = false, s"$dir/local")
    try {
      import spark.implicits._
      val base = (1 to 200).map(i => (i.toLong, s"row$i", i * 0.1)).toDF("k", "s", "x")
      val d0 = Digest.of(base)
      expect("digest ignores row order and partitioning",
        Digest.of(base.orderBy(col("k").desc).repartition(7)) == d0)
      expect("digest sees a changed value",
        Digest.of(base.withColumn("s", when(col("k") === 17, "other").otherwise(col("s")))) != d0)
      expect("digest sees a duplicated row",
        Digest.of(base.unionByName(base.filter(col("k") === 5))) != d0)
      expect("digest ignores last-bit float differences",
        Digest.of(base.withColumn("x", col("x") + 1e-12)) == d0)
      expect("digest of an empty frame", Digest.of(base.limit(0)) == "0:0")
    } finally {
      Sessions.stop(spark)
      Files2.delete(dir)
    }
    if (failures > 0) sys.exit(1)
  }
}
