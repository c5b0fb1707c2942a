package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns — image/audio/video as opaque `binary` + typed
  * metadata (training-data-pipeline extension; no reference counterpart).
  *
  * Design for 100 TB: media bytes never leave the executors — every transform
  * is `mapPartitions` over an iterator (constant memory per task, no
  * `collect`), and metadata-only queries prune the binary column at the scan
  * (columnar parquet: reading `media_meta.*` does not fetch `media_bytes`).
  * Batch shape mirrors what a Python `mapInPandas` pipeline would see: one
  * partition = one decode batch.
  *
  * Decode is REAL for the formats the standard JDK ships: header-pass
  * dimensions/durations parse genuine PNG/JPEG/GIF/WAV/MP4 wire formats
  * here, and full PIXEL decode / resize / perceptual hashing lives in
  * [[ImageCodec]] (`javax.imageio` — part of every JVM, no external
  * dependency) with PCM sample math in [[AudioCodec]]. Only payloads
  * outside those formats (e.g. compressed audio, video FRAME decode)
  * fall back to [[DecodeStub.decode]]'s deterministic hash-derived
  * stand-in — those genuinely need codec libraries this container
  * doesn't ship; swap that one branch for a JNI/javacv decoder in
  * production, the Spark plumbing is unchanged.
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType),          // image | audio | video
    StructField("media_bytes", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("source_doc", LongType),
      StructField("mime", StringType))))))

  final case class MediaRow(media_id: Long, kind: String,
                            media_bytes: Array[Byte],
                            source_doc: Long, mime: String)

  final case class DecodedMeta(media_id: Long, kind: String, n_bytes: Int,
                               width: Int, height: Int, duration_ms: Long,
                               ok: Boolean)

  object DecodeStub {
    /** Header-pass decode: image dimensions come from a REAL container
      * parse (PNG/JPEG/GIF wire formats, [[graft.catalyst.ImageDimsUtil]])
      * when the payload is one; only the non-image fallback (audio/video
      * duration, unknown formats) stays a deterministic hash-derived
      * stand-in — those containers need codec libraries this environment
      * doesn't ship. Swap the fallback for e.g. a JNI/javacv decoder in
      * production — the Spark plumbing around it is unchanged.
      */
    def decode(r: MediaRow): DecodedMeta = {
      if (r.media_bytes == null || r.media_bytes.isEmpty)
        return DecodedMeta(r.media_id, r.kind, 0, 0, 0, 0L, ok = false)
      val parsed = graft.catalyst.ImageDimsUtil.parse(r.media_bytes)
      if (parsed != null)
        return DecodedMeta(r.media_id, r.kind, r.media_bytes.length,
          parsed.getInt(1), parsed.getInt(2), 0L, ok = true)
      // REAL RIFF/WAVE header walk: verify the RIFF..WAVE magic, then
      // scan chunks for `fmt ` (byte rate, payload offset 8) and `data`
      // (payload size); duration = dataSize * 1000 / byteRate. Header
      // metadata only — no sample decode, which is exactly the metadata
      // pass a 100 TB audio pipeline runs before any codec work.
      locally {
        val b = r.media_bytes
        if (b.length >= 44 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
            b(3) == 'F' && b(8) == 'W' && b(9) == 'A' && b(10) == 'V' &&
            b(11) == 'E') {
          def le32(o: Int): Long = (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
            ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
          var off = 12; var byteRate = 0L; var dataSize = -1L
          while (off + 8 <= b.length && (byteRate == 0 || dataSize < 0)) {
            val id = new String(b, off, 4,
              java.nio.charset.StandardCharsets.US_ASCII)
            val sz = le32(off + 4)
            if (id == "fmt " && off + 24 <= b.length) byteRate = le32(off + 16)
            else if (id == "data") dataSize = sz
            // chunks are word-aligned: odd payloads carry a pad byte.
            // Advance in Long arithmetic — sz is an untrusted u32, and a
            // corrupt/hostile size truncated through toInt could move the
            // cursor backwards into an infinite loop. Any chunk that walks
            // past the buffer ends the scan.
            val next = off.toLong + 8L + sz + (sz & 1L)
            off = if (next <= off || next > b.length) b.length else next.toInt
          }
          if (byteRate > 0 && dataSize >= 0)
            return DecodedMeta(r.media_id, r.kind, b.length, 0, 0,
              dataSize * 1000 / byteRate, ok = true)
        }
      }
      // REAL ISO-BMFF (MP4) header walk (graft.catalyst.Mp4MetaUtil):
      // ftyp → top-level box list → moov → mvhd timescale + duration —
      // the video twin of the WAV branch above. Header metadata only; no
      // frame is decoded, exactly the 100 TB metadata pass.
      val mp4 = graft.catalyst.Mp4MetaUtil.parse(r.media_bytes)
      if (mp4 != null)
        return DecodedMeta(r.media_id, r.kind, r.media_bytes.length, 0, 0,
          mp4.getLong(2), ok = true)
      var h = 1125899906842597L
      r.media_bytes.foreach(b => h = 31 * h + b)
      val pos = (x: Long) => (x % 1920 + 1920) % 1920 + 1
      DecodedMeta(r.media_id, r.kind, r.media_bytes.length,
        pos(h).toInt, pos(h >> 16).toInt,
        if (r.kind == "image") 0L else (h & 0xffff) + 1, ok = true)
    }
  }

  /** Distributed decode: one iterator pass per partition, no driver hop. */
  def decodeMeta(media: Dataset[MediaRow])
                (implicit spark: SparkSession): Dataset[DecodedMeta] = {
    import spark.implicits._
    media.mapPartitions(_.map(DecodeStub.decode))
  }

  final case class ResizedMeta(media_id: Long, kind: String,
                               width: Int, height: Int,
                               target_w: Int, target_h: Int, scale: Double)

  /** Resize planning: compute the aspect-preserving target box per item —
    * the metadata half of a resize stage (pixel work lives in the stubbed
    * codec). Same mapPartitions shape as decode.
    */
  def resizeMeta(media: Dataset[MediaRow], maxSide: Int)
                (implicit spark: SparkSession): Dataset[ResizedMeta] = {
    import spark.implicits._
    media.mapPartitions(_.map { r =>
      val d = DecodeStub.decode(r)
      val scale =
        if (d.width.max(d.height) <= maxSide || d.width == 0) 1.0
        else maxSide.toDouble / d.width.max(d.height)
      ResizedMeta(r.media_id, r.kind, d.width, d.height,
        math.max(1, math.round(d.width * scale).toInt),
        math.max(1, math.round(d.height * scale).toInt), scale)
    })
  }

  final case class Frame(media_id: Long, frame_idx: Int, frame_ms: Long)

  /** Frame sampling: n evenly spaced frames per video — one media row
    * explodes into n frame rows (iterator flatMap, still no driver hop).
    */
  def frameSample(media: Dataset[MediaRow], n: Int)
                 (implicit spark: SparkSession): Dataset[Frame] = {
    import spark.implicits._
    media.mapPartitions(_.flatMap { r =>
      val d = DecodeStub.decode(r)
      if (r.kind != "video" || !d.ok || d.duration_ms <= 0) Iterator.empty
      else (0 until n).iterator.map(i =>
        Frame(r.media_id, i, d.duration_ms * i / n))
    })
  }

  final case class PixelFeatures(media_id: Long, width: Int, height: Int,
                                 luma_mean: Double, luma_std: Double,
                                 ahash: Long, ok: Boolean)

  /** REAL pixel-feature extraction ([[ImageCodec]]): decode, luminance
    * stats, perceptual hash — one iterator pass per partition, pixels
    * never leave the task. Non-images come back `ok = false` (the
    * quarantine path of a mixed-media corpus), never an exception. */
  def pixelFeatures(media: Dataset[MediaRow])
                   (implicit spark: SparkSession): Dataset[PixelFeatures] = {
    import spark.implicits._
    media.mapPartitions(_.map { r =>
      ImageCodec.decode(r.media_bytes) match {
        case Some((w, h, _)) =>
          val (m, sd) = ImageCodec.lumaStats(r.media_bytes)
            .getOrElse((0.0, 0.0))
          PixelFeatures(r.media_id, w, h, m, sd,
            ImageCodec.aHash64(r.media_bytes).getOrElse(0L), ok = true)
        case None =>
          PixelFeatures(r.media_id, 0, 0, 0.0, 0.0, 0L, ok = false)
      }
    })
  }

  final case class ResizedImage(media_id: Long, png: Array[Byte],
                                width: Int, height: Int)

  /** REAL resize ([[ImageCodec.resizePng]]): longest side capped at
    * `maxSide`, bilinear, PNG re-encoded — the thumbnail/normalize stage
    * of an image-corpus pipeline, executor-side only. Non-images drop. */
  def resizePixels(media: Dataset[MediaRow], maxSide: Int)
                  (implicit spark: SparkSession): Dataset[ResizedImage] = {
    import spark.implicits._
    media.mapPartitions(_.flatMap { r =>
      ImageCodec.resizePng(r.media_bytes, maxSide).flatMap(png =>
        ImageCodec.decode(png).map { case (w, h, _) =>
          ResizedImage(r.media_id, png, w, h) })
    })
  }

  /** Synthesize a media table from the `documents` testdata (text bytes as
    * payload) — lets the binary plumbing run against driver-provided data
    * without shipping real media.
    */
  def fromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      when(col("doc_id") % 3 === 0, lit("image"))
        .when(col("doc_id") % 3 === 1, lit("audio"))
        .otherwise(lit("video")).as("kind"),
      col("text").cast(BinaryType).as("media_bytes"),
      struct(col("doc_id").as("source_doc"),
        lit("application/octet-stream").as("mime")).as("meta"))
}
