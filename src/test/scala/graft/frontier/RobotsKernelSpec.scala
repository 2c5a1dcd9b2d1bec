package graft.frontier

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** r6: the fused [[graft.functions.RobotsAllowed]] kernel (a static call
  * inside codegen) must yield the exact verdict of the round-5
  * higher-order fold it replaced — randomized rule sets, equal-length
  * allow/deny ties, unicode prefixes (numChars ≠ numBytes), no-match and
  * empty-rules rows. Its rules column is the
  * array<struct<path_prefix: string, allowed: boolean>> that
  * [[Wave.robotsGate]] builds. */
class RobotsKernelSpec extends SparkSpec {

  private def oldVerdict(rules: org.apache.spark.sql.Column,
      path: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(
      filter(rules, r => startswith(path, r.getField("path_prefix"))),
      struct(lit(-1).as("len"), lit(true).as("allowed")),
      (acc, r) => when(
        length(r.getField("path_prefix")) > acc.getField("len") ||
          (length(r.getField("path_prefix")) === acc.getField("len") &&
            r.getField("allowed")),
        struct(length(r.getField("path_prefix")).as("len"),
          r.getField("allowed").as("allowed"))).otherwise(acc))
      .getField("allowed")

  test("RobotsAllowed kernel ≡ higher-order fold on randomized rule sets") {
    import spark.implicits._
    val rnd = new scala.util.Random(6L)
    val prefixes = Seq("/", "/a", "/ab", "/abc", "/b", "/中", "/中文", "/中文/页",
      "/x/y", "/x/yz", "/long/prefix/path")
    val rows = (0 until 400).map { i =>
      val nRules = rnd.nextInt(6) // 0..5 rules (0 = empty array)
      val rules = (0 until nRules).map(_ =>
        (prefixes(rnd.nextInt(prefixes.size)), rnd.nextBoolean()))
      val path = Seq("/", "/a", "/ab/c", "/abc", "/abcd", "/b/z", "/中文/页面",
        "/nomatch", "/x/yz/deep")(rnd.nextInt(9))
      (i.toLong, rules, path)
    } ++ Seq(
      // equal-length allow+deny tie on the same matching prefix
      (1000L, Seq(("/a", false), ("/a", true)), "/ab"),
      (1001L, Seq(("/a", true), ("/a", false)), "/ab"),
      // deny at longer prefix beats shallow allow and vice versa
      (1002L, Seq(("/", true), ("/a", false)), "/ab"),
      (1003L, Seq(("/", false), ("/ab", true)), "/ab"),
      // unicode: numChars(prefix) differs from byte length
      (1004L, Seq(("/中", false), ("/中文", true)), "/中文/x"),
      (1005L, Seq.empty[(String, Boolean)], "/anything"))
    // force a real (non-local) plan so codegen actually runs
    val df = rows.toDF("id", "rules_raw", "path")
      .repartition(3)
      .select(col("id"), col("path"),
        transform(col("rules_raw"),
          r => struct(r.getField("_1").as("path_prefix"),
            r.getField("_2").as("allowed"))).as("__rules"))
    val both = df.select(col("id"),
      oldVerdict(col("__rules"), col("path")).as("old"),
      graft.functions.RobotsAllowed(col("__rules"), col("path")).as("new"))
      .collect()
    both.foreach { r =>
      assert(r.get(1) === r.get(2), s"row ${r.getLong(0)}: old=${r.get(1)} new=${r.get(2)}")
    }
    assert(both.length === rows.size)
  }

  test("robotsGate end-to-end verdicts unchanged (broadcast + shuffle regimes)") {
    import spark.implicits._
    val frontier = Seq(
      ("https://h1.example/a/x", 1L, "h1.example"),
      ("https://h1.example/b/x", 2L, "h1.example"),
      ("https://h1.example/", 3L, "h1.example"),
      ("https://h2.example/anything", 4L, "h2.example"),
      ("https://h1.example", 5L, "h1.example") // path-less → "/"
    ).toDF("url", "url_hash", "host")
      .withColumn("biz", lit("b")).withColumn("kind", lit("detail"))
      .withColumn("wave", lit(0)).withColumn("priority", lit(0L))
      .withColumn("discovered_ts", timestamp_seconds(lit(0L)))
    val robots = Seq(
      ("h1.example", "/", true), ("h1.example", "/a", false),
      ("h1.example", "/a/x", true)).toDF("host", "path_prefix", "allowed")
    // the default threshold broadcasts the rules; -1 forces the
    // planner's shuffle join
    for (threshold <- Seq("10MB", "-1"))
      withConf("spark.sql.autoBroadcastJoinThreshold" -> threshold) {
        val (allowed, denied) = Wave.robotsGate(frontier, robots)
        assert(allowed.select("url_hash").collect().map(_.getLong(0)).toSet ===
          Set(1L, 2L, 3L, 4L, 5L), s"threshold=$threshold")
        assert(denied.count() === 0)
      }
    // flip: /a/x denied at the longest prefix
    val robots2 = Seq(
      ("h1.example", "/", true), ("h1.example", "/a", true),
      ("h1.example", "/a/x", false)).toDF("host", "path_prefix", "allowed")
    val (a2, d2) = Wave.robotsGate(frontier, robots2)
    assert(d2.select("url_hash").collect().map(_.getLong(0)).toSet === Set(1L))
    assert(a2.count() === 4)
  }
}
