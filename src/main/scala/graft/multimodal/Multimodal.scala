package graft.multimodal

import java.nio.charset.StandardCharsets.UTF_8

import graft.model.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (builder-prompt first-class component).
  *
  * Assets (image/audio/video) are opaque `BINARY` columns with typed
  * metadata, processed in partition-sized batches through a pluggable
  * decoder. The image/audio codec libraries are not in this container,
  * so [[StubDecoder]] is a clearly-marked deterministic fake — the
  * Spark-side plumbing (schema, batch shape, partitioning, the
  * mapPartitions loop) is real and tested, and a real decoder drops in
  * behind the same trait without touching the pipeline.
  *
  * Scala analog of the mapInPandas pattern: Dataset[AssetRow] →
  * mapPartitions with per-batch state (a decoder instantiated once per
  * partition, NOT per row) → Dataset[AssetFeatures].
  */
final case class AssetRow(
    asset_id: Long,
    kind: String, // "image" | "audio" | "video"
    bytes: Array[Byte],
    source: String)

final case class AssetFeatures(
    asset_id: Long,
    kind: String,
    n_bytes: Long,
    width: Int,
    height: Int,
    n_frames: Int,
    feature: Array[Float])

/** One decoder instance per partition; must be deterministic. */
trait AssetDecoder extends Serializable {
  def decode(kind: String, bytes: Array[Byte]): (Int, Int, Int) // (w, h, frames)
  def featurize(bytes: Array[Byte], dim: Int): Array[Float]
}

/** STUB — deterministic fake standing in for the real codec libraries
  * (not installed in this container). Real implementation would wrap
  * e.g. javax.imageio / ffmpeg bindings behind the same trait. */
object StubDecoder extends AssetDecoder {
  override def decode(kind: String, bytes: Array[Byte]): (Int, Int, Int) = {
    // ??? real decode goes here; deterministic fake derived from content:
    val h = bytes.foldLeft(17L)((a, b) => a * 31 + (b & 0xff))
    val w = 16 + math.abs(h % 1024).toInt
    val ht = 16 + math.abs((h >> 10) % 1024).toInt
    val frames = kind match {
      case "video" => 1 + math.abs((h >> 20) % 300).toInt
      case "audio" => 1 + math.abs((h >> 20) % 48000).toInt
      case _ => 1
    }
    (w, ht, frames)
  }

  override def featurize(bytes: Array[Byte], dim: Int): Array[Float] = {
    // ??? real feature extraction goes here; fake = seeded projection
    val out = new Array[Float](dim)
    var i = 0
    while (i < bytes.length) {
      out(i % dim) += (bytes(i) & 0xff) / 255.0f
      i += 1
    }
    out
  }
}

object Multimodal {

  val FeatureDim = 16

  /** Batch featurization: one decoder per PARTITION (the expensive init
    * happens num-partitions times, not num-rows times), rows streamed.
    * Partition by asset_id for even batches when upstream is skewed. */
  def featurize(assets: Dataset[AssetRow], decoder: AssetDecoder = StubDecoder)
      : Dataset[AssetFeatures] = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets.mapPartitions { it =>
      val d = decoder // per-partition instance (deserialized once)
      it.map { a =>
        val (w, h, frames) = d.decode(a.kind, a.bytes)
        AssetFeatures(a.asset_id, a.kind, a.bytes.length.toLong, w, h, frames,
          d.featurize(a.bytes, FeatureDim))
      }
    }
  }

  /** Treat documents.text bytes as a fake asset payload — exercises the
    * full plumbing on driver testdata. */
  def assetsFromDocuments(spark: SparkSession, dir: String): Dataset[AssetRow] = {
    import spark.implicits._
    Tables.readSource(spark, dir, "documents")
      .select(col("doc_id").as("asset_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
        encode(col("text"), "UTF-8").as("bytes"),
        col("source"))
      .as[AssetRow]
  }

  /** Frame sampling for video assets: every k-th frame index, exploded —
    * pure Catalyst (sequence + explode), no UDF. */
  def sampleFrames(features: DataFrame, everyK: Int): DataFrame =
    features.filter(col("kind") === "video")
      .select(col("asset_id"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(everyK)))
          .as("frame_idx"))
}
