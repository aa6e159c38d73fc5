package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata.
  *
  * The Spark-side plumbing is real and tested — schema, partitioning,
  * batched per-partition decode boundary. The codec itself is a STUB
  * (this container has no image/audio libraries):
  * [[decodeStub]] produces deterministic fake features from the bytes.
  * On a real cluster the stub body is replaced by the actual decoder
  * (JNI/ffmpeg, or `mapInPandas` from PySpark callers) — signatures and
  * batch shape stay identical.
  */
object Multimodal {

  case class MediaRow(media_id: Long, kind: String, bytes: Array[Byte],
                      width: Int, height: Int, sample_rate: Int)
  case class DecodedRow(media_id: Long, kind: String, n_bytes: Long,
                        features: Array[Float])

  /** Deterministic synthetic media table derived from the documents table
    * (text bytes stand in for encoded payloads).
    */
  def syntheticMedia(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
      col("text").cast("binary").as("bytes"),
      (pmod(col("doc_id"), lit(4)) * 160 + 320).cast("int").as("width"),
      (pmod(col("doc_id"), lit(4)) * 90 + 180).cast("int").as("height"),
      lit(16000).as("sample_rate"))

  /** Batched decode boundary: one pass per partition (the Scala analog of
    * `mapInPandas` — per-batch amortized setup, vectorizable body).
    *
    * STUB: features are a deterministic hash-fold of the payload bytes.
    * Replace the body of `fakeFeature` with a real codec to productionize;
    * everything else (schema, typed boundary, partition batching) stands.
    */
  def decodeStub(media: DataFrame, dim: Int = 8): Dataset[DecodedRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("kind"), col("bytes"),
      col("width"), col("height"), col("sample_rate")).as[MediaRow]
      .mapPartitions { it =>
        // per-partition setup would open the codec once here
        it.map { m =>
          val feats = Array.tabulate(dim)(j => fakeFeature(m.bytes, j))
          DecodedRow(m.media_id, m.kind, m.bytes.length.toLong, feats)
        }
      }
  }

  /** STUB feature: stable rolling-hash fold of the payload (mod 1e9+7, so
    * the arithmetic never wraps and the value is reproducible in any
    * engine — the DuckDB oracle recomputes it exactly). Stands in for the
    * decoder output so downstream plumbing (ANN over decoded features,
    * dedup on them) is exercised deterministically.
    */
  private def fakeFeature(bytes: Array[Byte], j: Int): Float = {
    var h = 7L
    var i = 0
    while (i < bytes.length) { h = (h * 31 + (bytes(i) & 0xFF)) % 1000000007L; i += 1 }
    (((h + j * 2654435761L) % 2000L) - 1000L) / 1000.0f
  }
}
