package graft.model

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.types._

/** Fixed schemas for every snapshot table (SURVEY.md §2.1) and for the
  * query battery's source tables ([[Tables.sources]]).
  *
  * The snapshot layer imposes these on read (`spark.read.schema(...)`)
  * instead of inferring from parquet footers: schema inference opens a
  * footer per read — a per-wave driver-latency tax the crawl loop pays
  * on its critical path (the crawl's fixed per-wave cost is what caps
  * N→4N scaling efficiency, BASELINE.json north_rule). Known schemas
  * make every snapshot read plan-only.
  *
  * Drift safety: an imposed schema silently nulls a column missing from
  * the files, so SnapshotCatalogSpec pins committed-file schemas against
  * this registry.
  */
object Tables {

  private def of[T: org.apache.spark.sql.Encoder]: StructType =
    implicitly[org.apache.spark.sql.Encoder[T]].schema

  /** `fetched`: CrawlOrder + lineage columns + the fetch's event time
    * (`discovered_ts`, committed with the row; see Wave.run
    * fetchedTbl). */
  val fetched: StructType = of[CrawlOrder](Encoders.product[CrawlOrder])
    .add("host", StringType).add("partition_id", IntegerType)
    .add("discovered_ts", TimestampType)

  /** `denied`: the robots-denied delta (url identity + host only). */
  val denied: StructType = StructType(Seq(
    StructField("url_hash", LongType),
    StructField("url", StringType),
    StructField("host", StringType)))

  /** `retracted`: re-crawl retraction delta. */
  val retracted: StructType = StructType(Seq(
    StructField("url_hash", LongType),
    StructField("wave", IntegerType)))

  val byName: Map[String, StructType] = Map(
    "frontier" -> of[FrontierEntry](Encoders.product[FrontierEntry]),
    "fetched" -> fetched,
    // the fetched-log compaction (CrawlDriver.compactedFetched): same
    // row shape as the deltas it folds
    "fetched_base" -> fetched,
    "articles_delta" -> of[Article](Encoders.product[Article]),
    "articles_base" -> of[Article](Encoders.product[Article]),
    "denied" -> denied,
    "retracted" -> retracted,
    "robots" -> of[RobotsRule](Encoders.product[RobotsRule]),
    "budgets" -> of[HostBudget](Encoders.product[HostBudget]),
    "accounts" -> of[Account](Encoders.product[Account]),
    "metrics" -> of[CrawlMetrics](Encoders.product[CrawlMetrics]),
    "seen_sketch" -> of[SketchShardSchema](Encoders.product[SketchShardSchema]))

  /** Imposed schemas are nullable-relaxed: nullability is a hint the
    * parquet reader must not enforce against older files. */
  def forRead(name: String): Option[StructType] =
    byName.get(name).map(s => StructType(s.map(_.copy(nullable = true))))

  private def struct(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  /** The query battery's source tables (`<dir>/<name>.parquet`), with
    * the exact types parquet inference yields on the generated sf data:
    * unzoned parquet timestamps read as `timestamp_ntz`, float lists as
    * `array<float>`. Same reason as the snapshot registry: inference
    * runs one footer-reading job per read, ~55 reads per battery pass.
    * SourceTablesSpec pins these against every testdata directory. */
  val sources: Map[String, StructType] = Map(
    "region" -> struct("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> struct("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> struct("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
    "supplier" -> struct("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> struct("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
      "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> struct("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "lineitem" -> struct("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
      "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    "events" -> struct("event_id" -> LongType, "ts" -> TimestampNTZType,
      "user_id" -> LongType, "event_type" -> StringType, "value" -> DoubleType,
      "props" -> StringType),
    "documents" -> struct("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> struct("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType, containsNull = true), "label" -> IntegerType))

  /** Reads source table `name` under `dir` with its registered schema:
    * plan-only, no Spark job. A column missing from the files reads as
    * null (specs that write a table with fewer columns rely on this). */
  def readSource(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(sources(name)).parquet(s"$dir/$name.parquet")
}

/** Structural twin of [[graft.seen.SketchShard]] (kept here so the model
  * package has no dependency on the seen package). */
final case class SketchShardSchema(shard: Int, bytes: Array[Byte])
