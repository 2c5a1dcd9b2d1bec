package graft.tools

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import graft.extract.Extract
import graft.synth.{Synth, SynthConfig}
import org.apache.spark.sql.functions._

/** One-off generator for the golden extraction fixture
  * (src/test/resources/golden_articles.jsonl). Committed output is LAW:
  * the byte-identity gate (BASELINE.json input_hint) compares sha256 of
  * the extracted body bytes against this file on every test run.
  * Regenerate ONLY on a deliberate, documented grammar change.
  */
object GenGoldens {
  val GoldenCfg: SynthConfig = SynthConfig(nAccounts = 5, articlesPerAccount = 12, longTail = 30)

  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map("%02x".format(_)).mkString

  def main(args: Array[String]): Unit = {
    val spark = graft.HostFit.session("graft-gen-goldens")

    val pages = Synth.pages(spark, GoldenCfg).toDF()
      .filter(!col("url").contains("/mp/profile_ext"))
    val arts = Extract.articles(pages)
      .withColumn("body_sha", sha256Udf(col("body")))
      .select("url_hash", "url", "title", "body_sha", "read_count", "like_count", "publish_ts")
      .orderBy("url_hash")
    val lines = arts.collect().map { r =>
      s"""{"url_hash":${r.getLong(0)},"url":"${r.getString(1)}","title":"${r.getString(2)}",""" +
        s""""body_sha":"${r.getString(3)}","read_count":${r.getInt(4)},"like_count":${r.getInt(5)},""" +
        s""""publish_unix":${r.getTimestamp(6).getTime / 1000}}"""
    }
    val out = Paths.get("src/test/resources/golden_articles.jsonl")
    Files.createDirectories(out.getParent)
    Files.write(out, lines.mkString("\n").getBytes(UTF_8))
    println(s"wrote ${lines.length} golden rows to $out")
    spark.stop()
  }

  val sha256Udf = udf((s: String) => sha256(s))
}
