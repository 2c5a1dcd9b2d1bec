package graft.extract

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Article + list-page extraction (SURVEY.md §3 S3–S8, U2, U6; P4).
  *
  * The grammar is normatively fixed by FIXTURES.md §1 and is the
  * byte-identity surface of BASELINE.json's input_hint ("byte-identical
  * extracted text per url"): `body` is the `js_content` div's inner
  * text, UNTRIMMED, and must never pass through anything that re-encodes
  * or normalizes it. Articles come from the fused [[ExtractArticle]]
  * column (a static call inside codegen); discovery and comments are
  * Catalyst built-ins
  * (get_json_object / from_json / timestamp_seconds) — whole-stage
  * codegen end to end, no UDFs.
  */
object Extract {

  val CommentSchema: ArrayType = ArrayType(StructType(Seq(
    StructField("content", StringType),
    StructField("nick_name", StringType),
    StructField("like_num", IntegerType),
    StructField("create_time", LongType))))

  /** Inner `general_msg_list` JSON of a WeChat-style list page. */
  val MsgListSchema: StructType = {
    val commMsgInfo = StructType(Seq(
      StructField("id", LongType),
      StructField("type", IntegerType),
      StructField("datetime", LongType)))
    val multiItem = StructType(Seq(
      StructField("title", StringType),
      StructField("content_url", StringType)))
    val appMsgExtInfo = StructType(Seq(
      StructField("title", StringType),
      StructField("content_url", StringType),
      StructField("multi_app_msg_item_list", ArrayType(multiItem))))
    val item = StructType(Seq(
      StructField("comm_msg_info", commMsgInfo),
      StructField("app_msg_ext_info", appMsgExtInfo)))
    StructType(Seq(StructField("list", ArrayType(item))))
  }

  // ------------------------------------------------------- scalar pieces

  /** ANSI-safe numeric cast: real-world pages are dirty; a malformed row
    * must extract as NULL, never throw and kill a 1000-executor wave
    * (Spark 4 ANSI mode makes bare cast('' as long) raise). Digit-count
    * bounds also reject range-overflow strings (20-digit "ct" etc.),
    * which pass a bare \d+ guard but still throw in the cast. */
  private[extract] def tryNum(c: Column, dt: DataType): Column = {
    val maxDigits = dt match {
      case IntegerType => 9
      case _ => 18
    }
    when(c.rlike(s"^-?\\d{1,$maxDigits}$$"), c.cast(dt))
  }

  /** `from_json(json, schema)` with the schema bound as a DataType. The
    * `from_json` builtin passes the schema to the analyzer as a JSON
    * string, which every analysis re-parses: first as DDL (which fails on
    * JSON, at the cost of a parser exception) and only then as JSON. */
  private[extract] def fromJson(json: Column, schema: DataType): Column =
    ColumnBridge.column(JsonToStructs(schema, Map.empty, ColumnBridge.expression(json)))

  // ------------------------------------------------------- whole tables

  /** Outer payload of the comments script: {"elected_comment":[…]} */
  val CommentsPayloadSchema: StructType =
    StructType(Seq(StructField("elected_comment", CommentSchema)))

  /** pages(url, text, …) [+ wave] → (url, url_hash, biz, text [, wave]):
    * the URL identity the crawl's fetch join carries from the frontier,
    * derived here with [[graft.url.UrlParts]] for callers that hold
    * only raw page rows. */
  private def identified(pages: DataFrame): DataFrame = {
    val wave = pages.columns.filter(_ == "wave").map(col).toSeq
    pages.select(Seq(graft.url.UrlParts(col("url")).as("__u"), col("text")) ++ wave: _*)
      .select(Seq(col("__u.url").as("url"), col("__u.url_hash").as("url_hash"),
        col("__u.biz").as("biz"), col("text")) ++ wave: _*)
  }

  /** pages(url, text, …) [+ wave] → articles rows. */
  def articles(pages: DataFrame): DataFrame = articlesIdentified(identified(pages))

  /** Articles from fetch-join rows that ALREADY carry URL identity
    * (url, url_hash, biz from the frontier side of the join) — the
    * crawl's hot path: re-deriving identity with UrlParts would URI-
    * parse every fetched page a second time for values the frontier
    * already holds.
    *
    * Output: the FIXTURES.md §5 article schema + `comments_json`, the
    * raw embedded payload; rows whose text lacks an article body
    * extract as empty and are dropped. Carrying `comments_json` is the
    * store-raw-once pattern: the crawl persists ONE extraction pass per
    * page into one table, and the typed comments view ([[commentsOf]])
    * parses the (small) JSON on read — no second regex pass, no second
    * sink. The fused [[ExtractArticle]] column scans each page once,
    * in place, instead of six String conversions —
    * byte-identical to the composed-built-in path, property-tested in
    * ExtractSpec. */
  def articlesIdentified(pages: DataFrame): DataFrame = {
    val wave = if (pages.columns.contains("wave")) col("wave") else lit(0)
    pages.select(col("url"), col("url_hash"), col("biz"),
        ExtractArticle(col("text")).as("__a"),
        wave.cast(IntegerType).as("wave"))
      .select(col("url"), col("url_hash"), col("biz"),
        col("__a.title").as("title"),
        col("__a.body").as("body"),
        timestamp_seconds(col("__a.publish_unix")).as("publish_ts"),
        col("__a.read_count").as("read_count"),
        col("__a.like_count").as("like_count"),
        col("__a.comments_json").as("comments_json"),
        col("wave"))
      .filter(col("body") =!= "")
  }

  /** (url_hash, comments_json) → exploded typed comments (U6). */
  def commentsOf(flat: DataFrame): DataFrame =
    flat.select(
      col("url_hash"),
      posexplode(fromJson(col("comments_json"),
        CommentsPayloadSchema).getField("elected_comment")).as(Seq("idx", "c")))
      .select(
        col("url_hash"), col("idx"),
        col("c.content").as("content"),
        col("c.nick_name").as("nick_name"),
        col("c.like_num").as("like_count"),
        timestamp_seconds(col("c.create_time")).as("create_ts"))

  /** Exploded comments keyed by url_hash (SURVEY.md §3 U6), one per
    * page, including pages whose body extracts empty. */
  def comments(pages: DataFrame): DataFrame =
    commentsOf(identified(pages).select(col("url_hash"),
      ExtractArticle(col("text")).getField("comments_json").as("comments_json")))

  /** List-page discovery: one row per discovered URL.
    *
    * Output: (url canonical, url_hash, host, biz, kind, publish_unix).
    * - every type-49 item's content_url (+ multi items) → kind "detail"
    * - if can_msg_continue == 1, the next list page (offset rewritten)
    *   → kind "list" (SURVEY.md §1 step 2 pagination).
    * Non-article items (type != 49) are dropped (P4 validity filter).
    */
  def discovered(listPages: DataFrame): DataFrame = {
    // pass the source wave through as src_wave when present, so callers
    // can derive the next wave from DATA instead of a literal and
    // every wave builds the same plan. That does not buy codegen-cache
    // hits: a wave compiles ~170 classes and Spark's JVM-wide cache keeps
    // spark.sql.codegen.cache.maxEntries (default 100, a static conf), so
    // most of them are evicted before the next wave asks for them again
    val srcWave = if (listPages.columns.contains("wave")) col("wave")
      else lit(0).cast(IntegerType)
    val parsed = listPages.select(
      col("url"),
      srcWave.as("src_wave"),
      tryNum(get_json_object(col("text"), "$.can_msg_continue"), IntegerType)
        .as("can_continue"),
      get_json_object(col("text"), "$.next_offset").as("next_offset"),
      fromJson(get_json_object(col("text"), "$.general_msg_list"), MsgListSchema)
        .as("msgs"))

    val details = parsed
      .select(col("src_wave"), explode(col("msgs.list")).as("item"))
      .filter(col("item.comm_msg_info.type") === 49 &&
        col("item.app_msg_ext_info.content_url").isNotNull)
      .select(col("src_wave"), explode(concat(
        array(col("item.app_msg_ext_info.content_url")),
        coalesce(col("item.app_msg_ext_info.multi_app_msg_item_list.content_url"),
          array()))).as("raw_url"),
        col("item.comm_msg_info.datetime").as("publish_unix"))
      .select(lit("detail").as("kind"), col("raw_url"), col("publish_unix"),
        col("src_wave"))

    // pagination guards: only rewrite when the current url actually has
    // an offset param (otherwise the "next" url silently equals the
    // current one) and next_offset is purely digits (a hostile value
    // containing $ or \ is a group reference to Java replaceAll → throw)
    val nextLists = parsed
      .filter(col("can_continue") === 1 &&
        col("next_offset").rlike("^\\d{1,9}$") &&
        col("url").rlike("offset=\\d+"))
      .select(lit("list").as("kind"),
        regexp_replace(col("url"), lit("offset=\\d+"),
          concat(lit("offset="), col("next_offset"))).as("raw_url"),
        lit(null).cast(LongType).as("publish_unix"),
        col("src_wave"))

    // kind is DERIVED from the canonical URL's grammar (kindOfUrl), not
    // carried from the emitting branch: the fetch join splits the page
    // index by kindOfUrl(page url), so a frontier row whose branch-kind
    // disagreed with its URL pattern (hostile content_url pointing at a
    // list endpoint) would silently never match — deriving both sides
    // from the same function makes the invariant structural. The branch
    // `kind` stays only as the publish_unix carrier distinction.
    details.unionByName(nextLists)
      .select(graft.url.UrlParts(col("raw_url")).as("__u"),
        col("publish_unix"), col("src_wave"))
      .select(col("__u.url").as("url"), col("__u.url_hash").as("url_hash"),
        col("__u.host").as("host"), col("__u.biz").as("biz"),
        graft.frontier.Wave.kindOfUrl(col("__u.url")).as("kind"),
        col("publish_unix"), col("src_wave"))
  }
}
