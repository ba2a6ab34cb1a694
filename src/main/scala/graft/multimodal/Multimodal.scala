package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column handling for a training-data pipeline: image/audio/
  * video payloads travel as opaque `binary` columns with typed metadata
  * structs, and per-batch feature extraction runs through the same
  * partition-batched shape a Pandas-UDF/`mapInPandas` pipeline would use —
  * expressed Scala-side as `mapPartitions` over a typed Dataset.
  *
  * The actual codec work (JPEG decode, audio resample, frame sampling) is
  * STUBBED — this container ships no media libraries — behind
  * deterministic byte-level stand-ins, clearly marked. Everything Spark
  * cares about (schema, nullability, batching, partition sizing,
  * shuffle-free column derivation) is real and tested.
  */
object Multimodal {

  case class MediaRecord(media_id: Long, kind: String, payload: Array[Byte],
      width: Int, height: Int, duration_ms: Long, codec: String)
  case class MediaFeatures(media_id: Long, kind: String, n_bytes: Int,
      features: Array[Double])

  /** Wrap a text/doc table into a media table (test harness: payload =
    * UTF-8 bytes standing in for encoded media). */
  def fromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      (when(pmod(col("doc_id"), lit(3)) === 0, "image")
        .when(pmod(col("doc_id"), lit(3)) === 1, "audio")
        .otherwise("video")).as("kind"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        (pmod(col("doc_id"), lit(640)) + 1).cast("int").as("width"),
        (pmod(col("doc_id"), lit(480)) + 1).cast("int").as("height"),
        (col("n_chars") * 10).as("duration_ms"),
        lit("stub").as("codec")).as("meta"))

  /** Decode + feature extract through the [[Codec]] seam: per-kind codecs
    * (e.g. `Map("image" -> ImageIoCodec)` — a REAL pure-JVM PNG/BMP/JPEG
    * decode) with the deterministic byte-histogram stub as the fallback
    * for unmapped kinds and undecodable payloads. The Spark plumbing —
    * partition batching, typed encoders, schema — is identical whichever
    * codec runs; swapping a stub for a real decoder touches nothing here. */
  def extractFeatures(media: DataFrame, featureDim: Int = 16,
      codecs: Map[String, Codec] = Map.empty): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val ds: Dataset[MediaRecord] = media.select(
        col("media_id"), col("kind"), col("payload"),
        col("meta.width"), col("meta.height"), col("meta.duration_ms"), col("meta.codec"))
      .as[MediaRecord]
    ds.mapPartitions { it =>
      // per-partition (≙ per-batch) processing: amortize any per-batch model
      // setup here, exactly where a mapInPandas body would do it
      it.map { r =>
        val bytes = if (r.payload == null) Array.emptyByteArray else r.payload
        val feats = codecs.get(r.kind)
          .flatMap(_.features(bytes, featureDim))
          .orElse(ByteHistogramCodec.features(bytes, featureDim))
          .get
        MediaFeatures(r.media_id, r.kind, bytes.length, feats)
      }
    }.toDF()
  }

  case class FrameFeatures(media_id: Long, kind: String, frame_idx: Int,
      features: Array[Double])

  /** REAL frame sampling + featurization through the [[FrameCodec]] seam:
    * one binary payload row in, one typed row PER DECODED FRAME out —
    * the 1→N shape [[sampleFrames]] stubs with byte slicing, backed by an
    * actual multi-frame decoder (e.g. [[GifFramesCodec]]). Rows whose
    * payload no codec decodes fall back to `fallbackFrames` byte-slice
    * "frames" through the byte-histogram stub — per-row error
    * containment, same partition-batched plumbing as
    * [[extractFeatures]]. */
  def extractFrameFeatures(media: DataFrame, featureDim: Int = 16,
      codecs: Map[String, FrameCodec] = Map.empty,
      fallbackFrames: Int = 4): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val ds: Dataset[MediaRecord] = media.select(
        col("media_id"), col("kind"), col("payload"),
        col("meta.width"), col("meta.height"), col("meta.duration_ms"), col("meta.codec"))
      .as[MediaRecord]
    ds.mapPartitions { it =>
      it.flatMap { r =>
        val bytes = if (r.payload == null) Array.emptyByteArray else r.payload
        val frames = codecs.get(r.kind)
          .flatMap(_.frameFeatures(bytes, featureDim))
          .getOrElse {
            // stub tier: slice the payload into equal chunks and
            // byte-histogram each — deterministic, never fails
            val n = math.max(1, fallbackFrames)
            (0 until n).map { f =>
              val from = f * bytes.length / n
              val until = math.min(bytes.length, (f + 1) * bytes.length / n)
              ByteHistogramCodec
                .features(java.util.Arrays.copyOfRange(bytes, from, until), featureDim)
                .get
            }
          }
        frames.iterator.zipWithIndex.map { case (feat, i) =>
          FrameFeatures(r.media_id, r.kind, i, feat)
        }
      }
    }.toDF()
  }

  /** STUB resize: deterministic byte decimation to ≈targetBytes (stands in
    * for image resize keeping the binary-in/binary-out contract). */
  def resizePayload(media: DataFrame, targetBytes: Int): DataFrame =
    media.withColumn("payload",
      expr(s"substring(payload, 1, $targetBytes)"))

  /** STUB frame sampling: split payload into `frames` equal binary chunks
    * (stands in for video frame extraction: one row in, N typed rows out). */
  def sampleFrames(media: DataFrame, frames: Int): DataFrame =
    media
      .withColumn("frame_idx", explode(sequence(lit(0), lit(frames - 1))))
      .withColumn("frame_bytes",
        expr(s"substring(payload, cast(frame_idx * length(payload) / $frames AS INT) + 1, " +
          s"cast(length(payload) / $frames AS INT))"))
      .drop("payload")
}
