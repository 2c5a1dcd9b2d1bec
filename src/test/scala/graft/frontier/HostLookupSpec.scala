package graft.frontier

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The budgets and robots-rules lookups ([[Wave.joinByHost]]) must
  * resolve exactly as the host-string join they replaced, also when
  * several hosts share one host-hash bucket. Real xxhash64 collisions
  * cannot be produced, so the test swaps in hashes that fold every host
  * into two buckets or into one. */
class HostLookupSpec extends SparkSpec {
  import spark.implicits._

  private val hashes: Seq[(String, Column => Column)] = Seq(
    "xxhash64" -> (h => xxhash64(h)),
    "two buckets" -> (h => pmod(xxhash64(h), lit(2L))),
    "one bucket" -> (_ => lit(0L)))

  /** Rows of `df` as sorted strings: a multiset, so dropped or
    * duplicated rows show as well as wrong values. */
  private def rows(df: DataFrame): Seq[String] =
    df.select(col("id"), col("value")).collect().map(_.toString).toSeq.sorted

  private def check(frontier: DataFrame, table: DataFrame, what: String): Unit = {
    val reference = frontier.join(table, Seq("host"), "left")
    val expected = rows(reference)
    hashes.foreach { case (label, hash) =>
      val joined = Wave.joinByHost(frontier, table, hash)
      assert(joined.columns.toSeq === reference.columns.toSeq)
      val got = rows(joined)
      assert(got.length === expected.length, s"$what via $label: row count")
      val wrong = got.diff(expected)
      assert(wrong.isEmpty, s"$what via $label: ${wrong.size} wrong rows, " +
        s"e.g. ${wrong.take(5)}")
    }
  }

  private val rnd = new scala.util.Random(7L)
  private val hosts = (0 until 30).map(i => s"h$i.example")
  // tables cover hosts 0..19; the frontier also holds absent hosts
  // (20..29, which land in shared buckets) and null hosts
  private lazy val frontier = (0 until 400).map { i =>
    (i.toLong, if (i % 37 == 0) null else hosts(rnd.nextInt(hosts.size)))
  }.toDF("id", "host").repartition(3)

  test("token lookup ≡ host-string join with shared buckets, absent and null hosts") {
    check(frontier, hosts.take(20).map(h => (h, 1 + rnd.nextInt(50))).toDF("host", "value"),
      "tokens")
    // an empty table: every row finds nothing
    check(frontier, Seq.empty[(String, Int)].toDF("host", "value"), "empty table")
    // a null value stays null; a null-host table row never matches; a
    // duplicated host duplicates its probe rows, as the host join did
    check(frontier, Seq[(String, Integer)](("h0.example", null), (null, 99),
      ("h1.example", 3), ("h2.example", 4), ("h2.example", 5)).toDF("host", "value"),
      "nulls and duplicates")
  }

  test("robots rules lookup ≡ host-string join with shared buckets") {
    val prefixes = Seq("/", "/a", "/ab", "/b", "/中")
    val rules = hosts.take(20).filter(_ => rnd.nextInt(4) > 0).flatMap(h =>
      (0 until 1 + rnd.nextInt(4)).map(_ =>
        (h, prefixes(rnd.nextInt(prefixes.size)), rnd.nextBoolean())))
      .toDF("host", "path_prefix", "allowed")
    // the gate's build side: one sorted rules array per host
    val byHost = rules.groupBy("host").agg(
      sort_array(collect_list(struct(col("path_prefix"), col("allowed")))).as("value"))
    check(frontier, byHost, "rules")
  }
}
