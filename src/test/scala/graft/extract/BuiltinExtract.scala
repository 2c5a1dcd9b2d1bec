package graft.extract

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** The extraction grammar (FIXTURES.md §1) as composed Catalyst
  * built-ins — one regexp_extract per field. Reference twin of the fused
  * [[ExtractArticle]] expression, which ExtractSpec pins byte for byte
  * against these columns. */
object BuiltinExtract {

  val TitleRe = "(?s)<h2 class=\"rich_media_title\"[^>]*>\\s*(.*?)</h2>"
  val BodyRe = "(?s)<div id=\"js_content\"[^>]*>(.*?)</div>"
  val PublishRe = "var ct = \"(\\d+)\""
  val AppMsgExtRe = "(?s)<script type=\"application/json\" id=\"appmsgext\">(.*?)</script>"
  val CommentsRe = "(?s)<script type=\"application/json\" id=\"comments\">(.*?)</script>"

  def titleCol(text: Column): Column = trim(regexp_extract(text, TitleRe, 1))

  /** UNTRIMMED body — the byte-identity column. */
  def bodyCol(text: Column): Column = regexp_extract(text, BodyRe, 1)

  def publishTsCol(text: Column): Column =
    timestamp_seconds(Extract.tryNum(regexp_extract(text, PublishRe, 1), LongType))

  def readCountCol(text: Column): Column =
    Extract.tryNum(get_json_object(regexp_extract(text, AppMsgExtRe, 1),
      "$.appmsgstat.read_num"), IntegerType)

  def likeCountCol(text: Column): Column =
    Extract.tryNum(get_json_object(regexp_extract(text, AppMsgExtRe, 1),
      "$.appmsgstat.like_num"), IntegerType)

  def commentsCol(text: Column): Column =
    Extract.fromJson(get_json_object(regexp_extract(text, CommentsRe, 1),
      "$.elected_comment"), Extract.CommentSchema)
}
