package graft.tools

import graft.extract.Extract
import graft.synth.{Synth, SynthConfig}
import org.apache.spark.sql.functions._

/** End-to-end smoke drive of the public API: synthesize a corpus, run
  * list-page discovery and article extraction, print observable output.
  * Also probes malformed input (garbage HTML / truncated JSON rows).
  */
object SmokeDrive {
  def main(args: Array[String]): Unit = {
    val spark = graft.HostFit.session("graft-smoke")
    import spark.implicits._

    val cfg = SynthConfig(nAccounts = 20, articlesPerAccount = 25, longTail = 150)
    println(s"[smoke] corpus: ${cfg.totalRows} pages " +
      s"(${cfg.nList} list, ${cfg.nArticles} articles, ${cfg.longTail} tail)")
    val pages = Synth.pages(spark, cfg).toDF().cache()
    println(s"[smoke] pages rows = ${pages.count()}")

    val lists = pages.filter(col("url").contains("/mp/profile_ext"))
    val details = pages.filter(!col("url").contains("/mp/profile_ext"))
    val disc = Extract.discovered(lists)
    println(s"[smoke] discovered = ${disc.count()} " +
      s"(detail=${disc.filter($"kind" === "detail").count()}, list=${disc.filter($"kind" === "list").count()})")
    disc.orderBy("url_hash").show(3, truncate = 60)

    val arts = Extract.articles(details)
    val cmts = Extract.comments(details)
    println(s"[smoke] articles = ${arts.count()}, comments = ${cmts.count()}")
    arts.orderBy("url_hash").select("url", "biz", "title", "read_count", "publish_ts").show(3, truncate = 50)

    // PROBE: malformed rows — garbage html, truncated list json, empty text
    val junk = Seq(
      ("https://mp.weixin.example/s?__biz=BIZX&mid=1&idx=1&sn=ff", "<html>no body here"),
      ("https://hostX.example/page/1", ""),
      ("https://mp.weixin.example/mp/profile_ext?action=getmsg&__biz=BIZX&offset=0",
        """{"ret":0,"can_msg_continue":1,"next_offset":10,"general_msg_list":"{\"list\":[{bad json"""))
      .toDF("url", "text")
    val junkArts = Extract.articles(junk.limit(2))
    val junkDisc = Extract.discovered(junk.filter($"url".contains("profile_ext")))
    println(s"[smoke-probe] junk articles extracted = ${junkArts.count()} (want 0)")
    println(s"[smoke-probe] junk discovery rows = ${junkDisc.count()}")
    junkDisc.show(5, truncate = 60)
    spark.stop()
  }
}
