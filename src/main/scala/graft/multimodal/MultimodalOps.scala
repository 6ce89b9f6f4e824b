package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: opaque `BINARY` media payloads with
  * typed metadata, processed batch-wise via `mapPartitions` (the Scala
  * counterpart of a pandas-batch UDF: one buffer reuse per partition,
  * no per-row setup).
  *
  * Decode is REAL for image formats ([[ImageCodec]]: 24-bit BMP and
  * binary PGM via pure byte parsing, PNG/JPEG/GIF via the JDK's own
  * `javax.imageio`) and for RIFF/WAVE integer PCM audio
  * ([[AudioCodec]], pure byte parsing) — features compute over decoded
  * pixels/samples, and [[resizeImages]] is a genuine nearest-neighbor
  * image resize with BMP re-encode. Compressed audio (MP3/AAC/Opus)
  * falls back to the deterministic byte-histogram STUB — the JDK ships
  * no decoder for those — and swapping in a JNI/javacv decoder changes
  * no query shape.
  */
object MultimodalOps {

  final case class MediaRow(id: Long, media: Array[Byte], kind: String)
  final case class MediaFeatures(id: Long, n_bytes: Int, n_distinct_bytes: Int,
      entropy: Double, fingerprint: Long)

  object MediaCodec {
    /** Decoded sample bytes: real pixels for decodable image payloads
      * (BMP/PGM/PNG/JPEG/GIF), the 16-bit-LE PCM byte stream for
      * RIFF/WAVE audio, the raw payload itself for everything else
      * (deterministic stub). */
    def sampleBytes(media: Array[Byte]): Array[Byte] =
      ImageCodec.decode(media).map(_.data)
        .orElse(AudioCodec.decode(media).map(AudioCodec.pcmBytes))
        .getOrElse(media)

    /** Byte histogram over the decoded samples. */
    def histogram(media: Array[Byte]): Array[Int] = {
      val hist = new Array[Int](256)
      if (media == null) return hist // null payloads decode to nothing
      val s = sampleBytes(media)
      var i = 0
      while (i < s.length) { hist(s(i) & 0xff) += 1; i += 1 }
      hist
    }

    def features(id: Long, media: Array[Byte]): MediaFeatures = {
      val hist = histogram(media)
      val n = if (media == null) 0 else sampleBytes(media).length
      var distinct = 0
      var entropy = 0.0
      var fp = 0xcbf29ce484222325L // FNV-1a 64 over the histogram
      var i = 0
      while (i < 256) {
        if (hist(i) > 0) {
          distinct += 1
          val p = hist(i).toDouble / n
          entropy -= p * math.log(p) / math.log(2.0)
        }
        fp ^= hist(i)
        fp *= 0x100000001b3L
        i += 1
      }
      MediaFeatures(id, n, distinct, entropy, fp)
    }
  }

  /** documents.text → media rows (UTF-8 payload bytes standing in for
    * image/audio blobs; the pipeline shape is media-agnostic). */
  def docsAsMedia(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("id"),
      encode(col("text"), "UTF-8").as("media"),
      lit("text/utf-8").as("kind"))

  /** Batched feature extraction over binary media via mapPartitions. */
  def extractFeatures(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select("id", "media").as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) => MediaCodec.features(id, bytes) })
      .toDF()
  }

  /** "Resize" plumbing: media → fixed-size payload (decode → scale →
    * re-encode in a real pipeline; the STUB deterministically samples
    * source bytes at a fixed stride). Output schema carries the new
    * size metadata the way an image pipeline would. */
  def resize(spark: SparkSession, media: DataFrame, targetBytes: Int): DataFrame = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    import spark.implicits._
    media.select("id", "media").as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val out = new Array[Byte](targetBytes)
        // null/empty payloads resize to an all-zero target
        if (bytes != null && bytes.length > 0) {
          val n = bytes.length
          var i = 0
          while (i < targetBytes) {
            out(i) = bytes((i.toLong * n / targetBytes).toInt % n)
            i += 1
          }
        }
        (id, out, targetBytes, if (bytes == null) 0 else bytes.length)
      })
      .toDF("id", "media", "n_bytes", "orig_bytes")
  }

  /** REAL image resize over decodable payloads (BMP/PGM/PNG/JPEG/GIF):
    * decode → nearest-neighbor scale to (w, h) → re-encode as 24bpp BMP.
    * Non-image payloads are dropped (a production pipeline routes them
    * to a dead-letter column); use [[resize]] for codec-free
    * byte-payload shaping. */
  def resizeImages(spark: SparkSession, media: DataFrame, w: Int, h: Int): DataFrame = {
    import spark.implicits._
    media.select("id", "media").as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        ImageCodec.decode(bytes).map { img =>
          val scaled = ImageCodec.resizeNearest(img, w, h)
          (id, ImageCodec.encodeBmp(scaled), scaled.width, scaled.height,
            img.width, img.height)
        }
      })
      .toDF("id", "media", "width", "height", "orig_width", "orig_height")
  }

  /** Frame-sampling plumbing: treat the payload as consecutive
    * `frameBytes`-sized frames, keep every `stride`-th frame — the
    * shape of video keyframe extraction (one binary → array of binary
    * frames + positions). */
  def sampleFrames(spark: SparkSession, media: DataFrame,
      frameBytes: Int, stride: Int): DataFrame = {
    require(frameBytes > 0, s"frameBytes must be positive, got $frameBytes")
    require(stride > 0, s"stride must be positive, got $stride")
    import spark.implicits._
    media.select("id", "media").as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        val nFrames = if (bytes == null) 0 else bytes.length / frameBytes
        (0 until nFrames by stride).map { f =>
          val frame = java.util.Arrays.copyOfRange(bytes, f * frameBytes, (f + 1) * frameBytes)
          (id, f, frame)
        }
      })
      .toDF("id", "frame_ix", "frame")
  }
}
