package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing for the LLM-data pipeline (builder brief):
  * media as opaque `binary` columns + typed metadata, with decode /
  * feature-extract / resize / frame-sample stages.
  *
  * The Spark-side plumbing — schema, partitioning, batch shapes, column
  * lineage — is REAL and tested, and so are all three codec kernels:
  * `graft.multimodal.BmpCodec` parses genuine 24-bit Windows BMP
  * containers (header, bottom-up BGR rows, 4-byte padding),
  * `graft.multimodal.WavCodec` parses genuine 16-bit PCM RIFF/WAVE
  * containers (chunk walk, foreign-chunk skip, interleaved LE frames),
  * and `graft.multimodal.AviCodec` parses genuine uncompressed
  * DIB-in-AVI video containers (RIFF LIST descent, header-only
  * `avi_meta` scalar + stride-sampling `avi_frames` generator). Each is
  * cross-validated against an independent JDK reader — javax.imageio
  * for BMP (q31b + BmpCodecSpec), javax.sound.sampled for WAV (q31c +
  * WavCodecSpec), and for AVI (q31d + AviCodecSpec) every sampled
  * frame against javax.imageio reading the BMP rendering of the same
  * pixel grid. `decodeStub` survives only as the q31 plumbing
  * exemplar: it shows where a production deployment would swap in a
  * kernel for codecs OUTSIDE the pure-JVM profile (JPEG/H.264 via
  * JNI/FFI inside the same expression shape). The surrounding plan —
  * scan → per-row decode → explode frames → aggregate — is exactly
  * what runs at 100 TB, where the design rules are: decode per-row
  * inside the scan stage (no shuffle of raw bytes), frame fan-out via
  * explode AFTER filtering (q31d's avi_meta filter runs header-only
  * parses before any frame bytes are touched), aggregates on
  * extracted features only.
  */
object MultimodalOps {

  /** Synthesize a media table from `documents` (UTF-8 bytes of the text
    * as the opaque payload): the deterministic stand-in for an ingest of
    * real image/audio blobs. kind cycles by doc_id; meta is derived. */
  def mediaFromDocuments(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.load(spark, sfDir, "documents")
      .select(
        col("doc_id").as("media_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("doc_id"), lit(3)) + 1).cast(IntegerType)).as("kind"),
        encode(col("text"), "UTF-8").as("bytes"),
        struct(
          (pmod(col("doc_id"), lit(4)) * 160 + 320).cast(IntegerType).as("width"),
          (pmod(col("doc_id"), lit(4)) * 120 + 240).cast(IntegerType).as("height"),
          lit(16000).cast(IntegerType).as("sample_rate")).as("meta"),
        col("source"))

  /** STUB decode: deterministic pseudo-features from the raw bytes.
    * Replace this expression with a real codec kernel in production —
    * everything downstream keeps working unchanged. */
  def decodeStub(media: DataFrame): DataFrame =
    media
      .withColumn("n_bytes", octet_length(col("bytes")).cast(LongType))
      .withColumn("checksum", md5(col("bytes")))
      // "resize": cap the payload at 256 bytes (stride-1 crop).
      .withColumn("resized", substring(col("bytes"), 1, 256))
      // 4-dim pseudo-embedding from strided byte positions.
      .withColumn("features", expr(
        """transform(sequence(0, 3), i ->
             CAST(ascii(substring(CAST(bytes AS STRING), i * 7 + 1, 1)) AS FLOAT))"""))

  /** Frame sampling: split the payload into fixed-size frames (explode
    * AFTER decode/filter so raw bytes fan out as late as possible). */
  def sampleFrames(decoded: DataFrame, frameBytes: Int = 64): DataFrame =
    decoded.withColumn("frame", expr(
      s"""explode(transform(
            sequence(0, CAST(greatest(ceil(n_bytes / $frameBytes) - 1, 0) AS INT)),
            i -> substring(bytes, i * $frameBytes + 1, $frameBytes)))"""))
      .withColumn("frame_bytes", octet_length(col("frame")).cast(LongType))
}
