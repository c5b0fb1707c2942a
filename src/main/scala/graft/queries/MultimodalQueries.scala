package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.sources.Tables

/** Binary-column queries, oracle-checked: the metadata pass (header
  * parses of genuine PNG/JPEG/GIF/WAV/MP4 wire bytes), REAL pixel work
  * (`mm_pixel_dedup` decodes actual PNGs via the JDK's imageio and
  * clusters by perceptual hash; `mm_mjpeg_frames` demuxes and decodes
  * MOTION-JPEG video frames the same way) and REAL PCM sample math
  * (`mm_audio_pcm`). Inter-frame video codecs (H.264-class) remain the
  * one documented out — no JVM codec exists; their container metadata
  * walk is `mm_video_meta`.
  */
object MultimodalQueries {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables(s, dir, n)

  private def be4(c: org.apache.spark.sql.Column) =
    unhex(lpad(hex(c), 8, "0"))

  /** Genuine minimal MP4: ftyp(isom) + free (the walk must skip it) +
    * moov[mvhd v0] with big-endian timescale/duration and the full 80
    * trailing bytes (rate/volume/reserved/matrix/pre_defined/next_track)
    * a spec-sized version-0 mvhd carries.
    */
  private def mp4Header(ts: org.apache.spark.sql.Column,
                        dur: org.apache.spark.sql.Column) = concat(
    unhex(lit("000000146674797069736F6D000002006D703431")), // ftyp isom
    unhex(lit("00000010667265650000000000000000")),         // free box
    unhex(lit("000000746D6F6F76")),                         // moov (116)
    unhex(lit("0000006C6D766864")),                         // mvhd (108)
    unhex(lit("000000000000000000000000")), // v0+flags, creation, modif.
    be4(ts), be4(dur),
    unhex(lit("0" * 160)))                  // 80 spec-mandated tail bytes

  /** Same movie, version-1 mvhd: u64 creation/modification/duration. */
  private def mp4HeaderV1(ts: org.apache.spark.sql.Column,
                          dur: org.apache.spark.sql.Column) = concat(
    unhex(lit("000000146674797069736F6D000002006D703431")),
    unhex(lit("000000806D6F6F76")),                         // moov (128)
    unhex(lit("000000786D766864")),                         // mvhd (120)
    unhex(lit("01000000")),                                 // version 1
    unhex(lit("0" * 32)),                  // creation + modification (u64)
    be4(ts),
    unhex(lit("00000000")), be4(dur),                       // duration u64
    unhex(lit("0" * 160)))

  val queries: Seq[Query] = Seq(
    Query("mm_binary_meta",
      """SELECT doc_id AS media_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS kind,
           CAST(octet_length(encode(text)) AS INT) AS n_bytes,
           doc_id AS source_doc,
           lower(hex(encode(substring(text, 1, 4)))) AS magic
         FROM documents""")((s, dir) =>
      Multimodal.fromDocuments(t(s, dir, "documents")).select(
        col("media_id"), col("kind"),
        octet_length(col("media_bytes")).as("n_bytes"),
        col("meta.source_doc"),
        lower(hex(expr(
          "cast(substring(cast(media_bytes as string), 1, 4) as binary)")))
          .as("magic"))),

    // Real container-format decode (catalyst.ImageDims): each doc's id is
    // encoded into GENUINE PNG / JPEG / GIF header bytes — big-endian IHDR,
    // a JFIF APP0 segment the JPEG marker walk must skip before SOF0,
    // little-endian GIF screen descriptor — and `image_dims` must recover
    // width/height by actually parsing the wire format; the doc_id%4==3
    // branch feeds raw text bytes, which must reject to NULL. The oracle
    // recomputes the encoded dims arithmetically, so the whole parse is
    // hash-checked. Runs map-side in whole-stage codegen over header bytes
    // only — the 100 TB metadata-pass shape (payloads never move).
    Query("mm_image_dims",
      """SELECT doc_id AS media_id,
           CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                           WHEN 2 THEN 'gif' END AS format,
           CASE WHEN doc_id % 4 < 3
                THEN CAST(doc_id % 1920 + 1 AS INT) END AS width,
           CASE WHEN doc_id % 4 < 3
                THEN CAST(doc_id % 1080 + 1 AS INT) END AS height
         FROM documents""")((s, dir) => {
      graft.catalyst.ImageDims.register(s)
      val d = t(s, dir, "documents")
      val w = (col("doc_id") % 1920 + 1).cast("int")
      val h = (col("doc_id") % 1080 + 1).cast("int")
      def be(c: org.apache.spark.sql.Column, digits: Int) =
        unhex(lpad(hex(c), digits, "0"))
      def le2(c: org.apache.spark.sql.Column) =
        unhex(concat(lpad(hex(c.bitwiseAND(lit(255))), 2, "0"),
          lpad(hex(shiftright(c, 8)), 2, "0")))
      val png = concat(
        unhex(lit("89504E470D0A1A0A0000000D49484452")), // sig + IHDR hdr
        be(w, 8), be(h, 8), unhex(lit("0806000000")))
      val jpg = concat( // SOI + 16-byte JFIF APP0 + SOF0(len 17, prec 8)
        unhex(lit("FFD8FFE000104A46494600010100000100010000FFC0001108")),
        be(h, 4), be(w, 4), unhex(lit("03011100021101031101")))
      val gif = concat(unhex(lit("474946383961")), // GIF89a
        le2(w), le2(h), unhex(lit("F70000")))
      val bytes = when(col("doc_id") % 4 === 0, png)
        .when(col("doc_id") % 4 === 1, jpg)
        .when(col("doc_id") % 4 === 2, gif)
        .otherwise(col("text").cast("binary"))
      d.select(col("doc_id").as("media_id"),
          graft.catalyst.ImageDims.imageDims(bytes).as("dims"))
        .select(col("media_id"), col("dims.format").as("format"),
          col("dims.width").as("width"), col("dims.height").as("height"))
    }),

    // Real RIFF/WAVE header decode: each doc's fields are encoded into a
    // GENUINE 44-byte WAV header (little-endian chunk sizes, fmt byte
    // rate, data size) and DecodeStub must recover the duration by
    // actually walking the chunks. The oracle recomputes duration
    // arithmetically from the same fields, so the byte-level parse is
    // hash-checked. Header-only metadata pass over mapPartitions — the
    // audio twin of mm_image_dims.
    Query("mm_wav_meta",
      """SELECT doc_id AS media_id,
           CAST(44 AS INT) AS n_bytes,
           ((n_chars * 13) % 100000 + 1000) * 1000
             // ((8000 + (doc_id % 5) * 4000) * (doc_id % 2 + 1) * 2)
             AS duration_ms,
           TRUE AS ok
         FROM documents""")((s, dir) => {
      implicit val ss: SparkSession = s
      import s.implicits._
      def le2(c: org.apache.spark.sql.Column) =
        unhex(concat(lpad(hex(c.bitwiseAND(lit(255))), 2, "0"),
          lpad(hex(shiftright(c, 8).bitwiseAND(lit(255))), 2, "0")))
      def le4(c: org.apache.spark.sql.Column) =
        unhex(concat(lpad(hex(c.bitwiseAND(lit(255))), 2, "0"),
          lpad(hex(shiftright(c, 8).bitwiseAND(lit(255))), 2, "0"),
          lpad(hex(shiftright(c, 16).bitwiseAND(lit(255))), 2, "0"),
          lpad(hex(shiftright(c, 24).bitwiseAND(lit(255))), 2, "0")))
      val d = t(s, dir, "documents")
      val channels = (col("doc_id") % 2 + 1).cast("int")
      val rate = (lit(8000) + (col("doc_id") % 5) * 4000).cast("int")
      val byteRate = (rate * channels * 2).cast("int")
      val dataSize = ((col("n_chars") * 13) % 100000 + 1000).cast("int")
      val wav = concat(
        lit("RIFF").cast("binary"), le4(dataSize + 36),
        lit("WAVEfmt ").cast("binary"), le4(lit(16)),
        le2(lit(1)), le2(channels), le4(rate), le4(byteRate),
        le2(channels * 2), le2(lit(16)),
        lit("data").cast("binary"), le4(dataSize))
      val media = d.select(col("doc_id").as("media_id"),
        lit("audio").as("kind"), wav.as("media_bytes"),
        col("doc_id").as("source_doc"), lit("audio/wav").as("mime"))
        .as[Multimodal.MediaRow]
      Multimodal.decodeMeta(media).toDF()
        .select(col("media_id"), col("n_bytes"), col("duration_ms"),
          col("ok"))
    }),

    // Video frame sampling through the REAL mapPartitions explode path
    // (Multimodal.frameSample): each synthesized video is a GENUINE
    // ISO-BMFF (MP4) header — ftyp box, a free box the walk must skip,
    // moov→mvhd with big-endian timescale and duration — and the decode
    // recovers duration_ms by actually walking the box structure
    // (graft.catalyst.Mp4MetaUtil), then explodes into 4 evenly spaced
    // frame rows. Timescale and duration derive from doc fields, so the
    // oracle recomputes duration_ms arithmetically and the byte-level
    // parse is hash-checked. The 100 TB shape: header-only decode per
    // row, iterator flatMap — payload bytes never leave the executor,
    // output is O(videos × n frames).
    // duration_ms = mvhd duration units * 1000 // timescale, then the
    // i-th of 4 evenly spaced frames — integer division at BOTH steps,
    // exactly as the box walk + frameSample compute it
    Query("mm_frame_sample",
      """SELECT doc_id AS media_id, CAST(i AS INT) AS frame_idx,
           (((n_chars * 11) % 90000 + 600) * 1000
              // (600 + (doc_id % 4) * 200)) * i // 4 AS frame_ms
         FROM documents,
           (SELECT unnest(generate_series(0, 3)) AS i) g""")((s, dir) => {
      implicit val ss: SparkSession = s
      import s.implicits._
      val ts = (lit(600) + (col("doc_id") % 4) * 200).cast("int")
      val dur = ((col("n_chars") * 11) % 90000 + 600).cast("int")
      val media = t(s, dir, "documents").select(
        col("doc_id").as("media_id"),
        lit("video").as("kind"),
        mp4Header(ts, dur).as("media_bytes"),
        col("doc_id").as("source_doc"),
        lit("video/mp4").as("mime")).as[Multimodal.MediaRow]
      Multimodal.frameSample(media, 4).toDF()
        .select(col("media_id"), col("frame_idx"), col("frame_ms"))
    }),

    // Real MP4 container parse as a Catalyst expression (video_meta):
    // doc_id%3==0 rows carry a version-0 mvhd, %3==1 a version-1 mvhd
    // (u64 creation/modification/duration — both wire layouts must parse),
    // %3==2 raw text bytes, which must reject to NULL. Brand, timescale
    // and duration_ms are all recomputed arithmetically by the oracle, so
    // the whole box walk is hash-checked — the video completion of
    // mm_image_dims / mm_wav_meta. Runs map-side in whole-stage codegen.
    Query("mm_video_meta",
      """SELECT doc_id AS media_id,
           CASE WHEN doc_id % 3 < 2 THEN 'isom' END AS brand,
           CASE WHEN doc_id % 3 < 2
                THEN 600 + (doc_id % 4) * 200 END AS timescale,
           CASE WHEN doc_id % 3 < 2
                THEN ((n_chars * 11) % 90000 + 600) * 1000
                       // (600 + (doc_id % 4) * 200) END AS duration_ms
         FROM documents""")((s, dir) => {
      graft.catalyst.Mp4Meta.register(s)
      val d = t(s, dir, "documents")
      val ts = (lit(600) + (col("doc_id") % 4) * 200).cast("int")
      val dur = ((col("n_chars") * 11) % 90000 + 600).cast("int")
      val bytes = when(col("doc_id") % 3 === 0, mp4Header(ts, dur))
        .when(col("doc_id") % 3 === 1, mp4HeaderV1(ts, dur))
        .otherwise(col("text").cast("binary"))
      d.select(col("doc_id").as("media_id"),
          graft.catalyst.Mp4Meta.videoMeta(bytes).as("m"))
        .select(col("media_id"), col("m.brand").as("brand"),
          col("m.timescale").as("timescale"),
          col("m.duration_ms").as("duration_ms"))
    }),

    // Binary-payload exact dedup: media dedup never decodes — the content
    // hash is computed over the raw bytes map-side, the only shuffle is the
    // hash-keyed window, and payloads themselves never move (at 100 TB the
    // shuffle carries 32-byte digests, not terabytes of media).
    // DuckDB's md5 takes VARCHAR and hashes its UTF-8 bytes — exactly the
    // payload bytes (media_bytes = encode(text)) Spark's binary md5 sees.
    Query("mm_dedup",
      """SELECT doc_id AS media_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS kind,
           md5(text) AS content_hash,
           MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
           doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
         FROM documents""")((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("content_hash")
      Multimodal.fromDocuments(t(s, dir, "documents"))
        .select(col("media_id"), col("kind"),
          md5(col("media_bytes")).as("content_hash"))
        .withColumn("canonical_id", min("media_id").over(w))
        .withColumn("is_dup", col("media_id") =!= col("canonical_id"))
    }),

    // REAL pixel decode end-to-end (javax.imageio — standard JDK, no
    // external library): each doc renders a genuine PNG of its group's
    // 8×8 bit pattern at one of THREE sizes, so byte hashes see 120
    // distinct images while the 64-bit average PERCEPTUAL hash
    // (ImageCodec.aHash64, computed from decoded pixels) collapses them
    // to the 40 true patterns — image near-dup as a hash groupBy, never
    // an all-pairs pixel compare (at 100 TB the shuffle carries 8-byte
    // hashes, not pixels). The requires prove decode is real: byte
    // signatures differ where perceptual hashes agree.
    // perceptual clusters = the 40 pattern groups; cluster id = its
    // smallest doc, exactly what min-over-ahash yields when the hash
    // collapses the three render sizes
    Query("mm_pixel_dedup",
      """SELECT CAST(min(doc_id) AS BIGINT) AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_docs
         FROM documents WHERE doc_id < 400
         GROUP BY doc_id % 40""")((s, dir) => {
      import s.implicits._
      val ids = t(s, dir, "documents").select(col("doc_id"))
        .where(col("doc_id") < 400).as[Long]
      val hashed = ids.mapPartitions(_.map { id =>
        val grp = id % 40
        var z = grp + 0x9E3779B97F4A7C15L // splitmix64: mixed bit pattern
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        val pattern = z ^ (z >>> 31)
        val side = 32 + (id % 3).toInt * 16 // 32 / 48 / 64 px renders
        val png = graft.multimodal.ImageCodec.patternPng(pattern, side)
        val ah = graft.multimodal.ImageCodec.aHash64(png)
          .getOrElse(sys.error(s"decode failed for doc $id"))
        (id, ah, s"$grp/$side")
      }).toDF("doc_id", "ahash", "byte_key").cache()
      require(hashed.select("byte_key").distinct().count() == 120,
        "expected 120 byte-distinct renders (40 patterns x 3 sizes)")
      require(hashed.select("ahash").distinct().count() == 40,
        "perceptual hash must collapse sizes: 40 clusters expected")
      hashed.groupBy(col("ahash"))
        .agg(min(col("doc_id")).as("cluster_id"),
          count(lit(1)).as("n_docs"))
        .select(col("cluster_id"), col("n_docs"))
    }),

    // REAL video FRAME pixel decode end-to-end: MOTION JPEG is the one
    // video codec family the standard JVM ships (a stream of baseline
    // JPEGs — the demux is the marker walk real MJPEG tools do, the
    // per-frame decode is javax.imageio). Each doc < 300 synthesizes a
    // stream of 2 + doc_id%3 frames all rendering its group's 8×8
    // pattern but at DIFFERENT JPEG qualities and render sizes —
    // byte-distinct lossy encodes whose DECODED perceptual hashes
    // agree — then demuxes, decodes every frame, and clusters streams
    // by decoded content: video near-dup as a hash groupBy over real
    // pixels, never an all-pairs frame compare. The in-query requires
    // prove the decode is real (exact frame counts back out of the
    // demux; per-stream hash unanimity across qualities); the oracle
    // replays the closed-form cluster structure. Inter-frame codecs
    // (H.264-class) need a native library: documented out — their
    // container metadata walk is mm_video_meta.
    // decoded-content clusters = the 24 pattern groups; frame counts are
    // the closed form the synth used — what the hash groupBy yields when
    // the perceptual hash collapses qualities and sizes
    Query("mm_mjpeg_frames",
      """SELECT CAST(min(doc_id) AS BIGINT) AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_streams,
           CAST(SUM(2 + doc_id % 3) AS BIGINT) AS n_frames
         FROM documents WHERE doc_id < 300
         GROUP BY doc_id % 24""")((s, dir) => {
      import s.implicits._
      val ids = t(s, dir, "documents").select(col("doc_id"))
        .where(col("doc_id") < 300).as[Long]
      val perStream = ids.mapPartitions(_.map { id =>
        val grp = id % 24
        var z = grp + 0x9E3779B97F4A7C15L // splitmix64: mixed bit pattern
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        val pattern = z ^ (z >>> 31)
        val n = 2 + (id % 3).toInt
        val qualities = Array(0.65f, 0.8f, 0.92f, 0.72f)
        val sides = Array(48, 64, 56, 48)
        val stream = (0 until n).map(f => graft.multimodal.ImageCodec
          .patternJpeg(pattern, sides(f), qualities(f)))
          .reduce(_ ++ _)
        val frames = graft.multimodal.VideoCodec.mjpegFrames(stream)
        require(frames.length == n,
          s"demux recovered ${frames.length} of $n frames for doc $id")
        val hashes = frames.map(fb => graft.multimodal.ImageCodec
          .aHash64(fb)
          .getOrElse(sys.error(s"frame decode failed for doc $id")))
        require(hashes.distinct.length == 1,
          s"quality/size must not move the perceptual hash: doc $id")
        (id, n.toLong, hashes.head)
      }).toDF("media_id", "n_frames", "ahash").cache()
      require(perStream.select("ahash").distinct().count() == 24,
        "decoded-content clusters must be the 24 pattern groups")
      perStream.groupBy(col("ahash"))
        .agg(min(col("media_id")).as("cluster_id"),
          count(lit(1)).as("n_streams"),
          sum(col("n_frames")).as("n_frames"))
        .select(col("cluster_id"), col("n_streams"), col("n_frames"))
    }),

    // REAL PCM sample math (AudioCodec.pcm16Features): each doc carries a
    // genuine PCM16 WAV of a ±A square wave, and RMS / peak / zero-
    // crossing rate are computed from the actual samples — the closed
    // forms (rms = A exactly, zcr = 1.0) let DuckDB recompute them
    // arithmetically, so the whole sample walk is hash-checked.
    Query("mm_audio_pcm",
      """SELECT doc_id,
           CAST(((doc_id % 5) + 1) * 4000 AS DOUBLE) AS rms,
           CAST(((doc_id % 5) + 1) * 4000 AS BIGINT) AS peak,
           CAST(1.0 AS DOUBLE) AS zcr
         FROM documents WHERE doc_id < 400""")((s, dir) => {
      import s.implicits._
      val ids = t(s, dir, "documents").select(col("doc_id"))
        .where(col("doc_id") < 400).as[Long]
      ids.mapPartitions(_.map { id =>
        val amp = ((id % 5) + 1).toInt * 4000
        val wav = graft.multimodal.AudioCodec.squareWav(amp, 400)
        val f = graft.multimodal.AudioCodec.pcm16Features(wav)
          .getOrElse(sys.error(s"PCM parse failed for doc $id"))
        (id, f.rms, f.peak, f.zcr)
      }).toDF("doc_id", "rms", "peak", "zcr")
    }))
}
