package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.doc.{AudioCodec, ImageCodec, VideoCodec}

/** Multimodal columns for a training-data pipeline: image/audio/video
  * as opaque BINARY plus typed metadata, with decode / feature-extract
  * / frame-sample operators.
  *
  * The Spark-side plumbing is real — schema, partition-local batched
  * processing (mapPartitions with fixed batch shape), explode-based
  * frame sampling, deterministic outputs. The IMAGE path is real:
  * `kind = image` rows decode through the engine's from-scratch
  * PNG/JPEG codec ([[graft.doc.ImageCodec]]) for true width / height /
  * channel counts and pixel statistics. The AUDIO path is real too
  * (r12): `kind = audio` rows decode through the from-scratch WAV
  * codec ([[graft.doc.AudioCodec]]) for authoritative sample rate /
  * channel count / duration and PCM sample statistics (RMS,
  * zero-crossing rate, amplitude histogram). VIDEO headers are real
  * as well (r12): `kind = video` rows parse through the from-scratch
  * AVI/RIFF header codec ([[graft.doc.VideoCodec]]) for authoritative
  * width / height / fps / frame count / duration, and (r13) frame
  * EXTRACTION is real for MJPEG-style AVIs: [[extractFrames]] walks
  * the `movi` chunk stream and emits each video frame as a standalone
  * payload row with its header-parsed geometry — the operation a
  * frame-level pipeline (sampling, dedup, shipping frames to an
  * image model) actually needs. Only frame-pixel entropy DECODE
  * remains out of scope (no ffmpeg in this container), so
  * [[Codecs.decodeStub]] survives solely as the documented fallback
  * for payloads no from-scratch codec recognizes; every operator here
  * is agnostic to that swap.
  */
object Multimodal {

  /** Typed media row: the canonical multimodal table schema. */
  final case class Media(
      media_id: Long,
      kind: String, // image | audio | video
      content: Array[Byte], // opaque payload
      format: String, // e.g. png / wav / avi
      width: Int, height: Int, // images/video
      duration_ms: Long, // audio/video
      fps: Double) // video

  /** Decoded features. `decoded = true` means a real codec produced
    * the row (all three kinds, today — video from its container
    * header); `img_width`/`img_height`/
    * `channels` are then the AUTHORITATIVE decoded geometry (for
    * audio, `channels` is the decoded channel count and
    * `sample_rate`/`duration_ms` the decoded timing) — the Media
    * metadata columns are advisory, as in any scraped corpus. */
  final case class MediaFeatures(
      media_id: Long,
      kind: String,
      n_bytes: Long,
      content_hash: Long,
      decoded: Boolean,
      img_width: Int,
      img_height: Int,
      channels: Int,
      sample_rate: Int, // audio: decoded Hz; 0 otherwise
      duration_ms: Long, // audio: decoded frames/rate; 0 otherwise
      feature: Array[Float]) // fixed 16-dim descriptor

  /** Result of a real image decode: authoritative geometry + the
    * 16-dim descriptor. */
  final case class DecodedImage(width: Int, height: Int, channels: Int,
      feature: Array[Float])

  /** Result of a real audio decode: authoritative timing/shape + the
    * 16-dim descriptor. */
  final case class DecodedAudio(sampleRate: Int, channels: Int,
      durationMs: Long, feature: Array[Float])

  /** Result of a real video HEADER decode: authoritative geometry and
    * timing from the container header + the 16-dim descriptor (frame
    * pixels are not decoded — no codec library in this container). */
  final case class DecodedVideo(width: Int, height: Int, fps: Double,
      durationMs: Long, nFrames: Long, feature: Array[Float])

  /** Codec layer. Images, audio and video headers: real (delegating
    * to [[ImageCodec]]/[[AudioCodec]]/[[VideoCodec]]). The
    * deterministic stub remains only as the unknown-format
    * fallback / swap seam. */
  object Codecs {
    val FeatureDim = 16

    /** Real image decode + feature extraction over the from-scratch
      * PNG/JPEG codec. The 16-dim descriptor is:
      * {{{
      * [0] width/65535   [1] height/65535  [2] channels/4  [3] bits/16
      * [4] aspect w/(w+h)  [5] sample mean/255  [6] sample std/255
      * [7] zero-byte fraction  [8..15] 8-bin byte histogram (fractions)
      * }}}
      * For PNGs the sample stats are over the decoded pixel samples
      * (the codec hands back FlateDecode'd raw samples, re-inflated
      * here). Baseline JPEGs embed as DCT streams — the codec sniffs
      * geometry from SOF without a full IDCT — so their byte stats are
      * over the compressed stream: deterministic and discriminative
      * for dedup, documented as a proxy. Returns None for payloads the
      * codec rejects (corrupt, hostile, or not an image at all). */
    def decodeImage(content: Array[Byte]): Option[DecodedImage] =
      ImageCodec.decode(content).map { img =>
        val channels = img.colorSpace match {
          case "DeviceGray" => 1
          case "DeviceRGB" => 3
          case _ => 4 // DeviceCMYK
        }
        val stats =
          if (img.filter.contains("FlateDecode"))
            inflateSamples(img.bytes,
              img.width.toLong * img.height * channels)
          else img.bytes // DCT stream: byte-stat proxy (see scaladoc)
        val out = new Array[Float](FeatureDim)
        out(0) = math.min(img.width, 65535) / 65535.0f
        out(1) = math.min(img.height, 65535) / 65535.0f
        out(2) = channels / 4.0f
        out(3) = img.bitsPerComponent / 16.0f
        out(4) = img.width.toFloat / (img.width + img.height)
        if (stats.length > 0) {
          var sum = 0.0; var sumSq = 0.0; var zeros = 0L
          val hist = new Array[Long](8)
          var i = 0
          while (i < stats.length) {
            val v = stats(i) & 0xff
            sum += v; sumSq += v.toDouble * v
            if (v == 0) zeros += 1
            hist(v >>> 5) += 1
            i += 1
          }
          val n = stats.length.toDouble
          val mean = sum / n
          out(5) = (mean / 255.0).toFloat
          out(6) = (math.sqrt(math.max(0.0, sumSq / n - mean * mean))
            / 255.0).toFloat
          out(7) = (zeros / n).toFloat
          var b = 0
          while (b < 8) { out(8 + b) = (hist(b) / n).toFloat; b += 1 }
        }
        DecodedImage(img.width, img.height, channels, out)
      }

    /** Re-inflate the codec's FlateDecode sample stream (bounded: the
      * codec already caps decoded size, mirrored here defensively). */
    private def inflateSamples(deflated: Array[Byte], n: Long): Array[Byte] = {
      if (n <= 0 || n > (1L << 28)) return Array.emptyByteArray
      val inf = new java.util.zip.Inflater()
      inf.setInput(deflated)
      val out = new Array[Byte](n.toInt)
      var off = 0
      try {
        while (off < out.length && !inf.finished()) {
          val got = inf.inflate(out, off, out.length - off)
          if (got == 0 && inf.needsInput()) return Array.emptyByteArray
          off += got
        }
        if (off == out.length) out else Array.emptyByteArray
      } catch {
        case _: java.util.zip.DataFormatException => Array.emptyByteArray
      } finally inf.end()
    }

    /** 64-bit perceptual average-hash (aHash) over DECODED pixels:
      * the image maps onto an 8x8 grid of mean luminance (plain
      * channel average), and bit i is set when block i sits above the
      * grid mean — the classic near-dup fingerprint that survives
      * re-encoding and mild brightness shifts where a byte hash
      * breaks. PNG-only (the JPEG path has no pixel plane here,
      * see [[decodeImage]]); images smaller than the grid or with a
      * corrupt sample stream return None and fall back to
      * content-hash dedup. */
    def aHash64(content: Array[Byte]): Option[Long] =
      ImageCodec.decode(content).flatMap { img =>
        // explicit whitelist: a color space this hash does not know
        // (e.g. a future flate-encoded CMYK stream) must be rejected,
        // not guessed at — a wrong channel count would silently
        // corrupt the expected-size computation below.
        val channelsOpt = img.colorSpace match {
          case "DeviceGray" => Some(1)
          case "DeviceRGB" => Some(3)
          case _ => None
        }
        if (channelsOpt.isEmpty || !img.filter.contains("FlateDecode") ||
          img.width < 8 || img.height < 8) None
        else {
          val channels = channelsOpt.get
          val px = inflateSamples(img.bytes,
            img.width.toLong * img.height * channels)
          if (px.isEmpty) None
          else {
            val sums = new Array[Double](64)
            val cnts = new Array[Long](64)
            var y = 0
            while (y < img.height) {
              val by = y * 8 / img.height
              var x = 0
              while (x < img.width) {
                val bx = x * 8 / img.width
                val base = (y.toLong * img.width + x) * channels
                var c = 0; var g = 0.0
                while (c < channels) {
                  g += (px(base.toInt + c) & 0xff); c += 1
                }
                val b = by * 8 + bx
                sums(b) += g / channels; cnts(b) += 1
                x += 1
              }
              y += 1
            }
            val means = new Array[Double](64)
            var total = 0.0; var i = 0
            while (i < 64) {
              means(i) = if (cnts(i) > 0) sums(i) / cnts(i) else 0.0
              total += means(i); i += 1
            }
            val mean = total / 64
            var h = 0L; i = 0
            while (i < 64) {
              if (means(i) > mean) h |= (1L << i); i += 1
            }
            Some(h)
          }
        }
      }

    /** Real audio decode + feature extraction over the from-scratch
      * WAV codec. The 16-dim descriptor is:
      * {{{
      * [0] rate/192000  [1] channels/8  [2] bits/32  [3] dur_s/3600
      * [4] RMS          [5] mean |x|    [6] zero-crossing rate
      * [7] peak |x|     [8..15] 8-bin |amplitude| histogram (fractions)
      * }}}
      * over the normalized [-1, 1] interleaved PCM samples. Returns
      * None for payloads the codec rejects (non-RIFF, ADPCM,
      * truncated header, hostile sizes) — callers degrade to
      * hash-only features. One pass over the samples, O(1) state. */
    def decodeAudio(content: Array[Byte]): Option[DecodedAudio] =
      AudioCodec.decode(content).map { a =>
        val out = new Array[Float](FeatureDim)
        out(0) = math.min(a.sampleRate, 192000) / 192000.0f
        out(1) = math.min(a.channels, 8) / 8.0f
        out(2) = a.bitsPerSample / 32.0f
        out(3) = math.min(a.durationMs / 1000.0, 3600.0).toFloat / 3600.0f
        val s = a.samples
        if (s.length > 0) {
          var sumSq = 0.0; var sumAbs = 0.0; var peak = 0.0f
          var crossings = 0L
          val hist = new Array[Long](8)
          var prevNeg = s(0) < 0
          var i = 0
          while (i < s.length) {
            val v = s(i)
            val av = math.abs(v)
            sumSq += v.toDouble * v; sumAbs += av
            if (av > peak) peak = av
            val neg = v < 0
            if (neg != prevNeg) crossings += 1
            prevNeg = neg
            hist(math.min((av * 8).toInt, 7)) += 1
            i += 1
          }
          val n = s.length.toDouble
          out(4) = math.sqrt(sumSq / n).toFloat
          out(5) = (sumAbs / n).toFloat
          out(6) = (crossings / n).toFloat
          out(7) = peak
          var b = 0
          while (b < 8) { out(8 + b) = (hist(b) / n).toFloat; b += 1 }
        }
        DecodedAudio(a.sampleRate, a.channels, a.durationMs, out)
      }

    /** Real video HEADER decode over the from-scratch AVI/RIFF
      * parser: authoritative width/height/fps/frame count/duration
      * from the `avih` header. The 16-dim descriptor is:
      * {{{
      * [0] width/65535  [1] height/65535  [2] fps/120
      * [3] dur_s/3600   [4] frames/1e6    [5] payload mean/255
      * [6] payload std/255  [7] zero-byte fraction
      * [8..15] 8-bin byte histogram (fractions, whole payload)
      * }}}
      * Byte stats run over the container bytes (frame DATA is not
      * decoded — deterministic and discriminative for dedup, the same
      * documented proxy as the JPEG DCT path). None for payloads that
      * are not parseable AVI. */
    def decodeVideo(content: Array[Byte]): Option[DecodedVideo] =
      VideoCodec.decode(content).map { m =>
        val out = new Array[Float](FeatureDim)
        out(0) = math.min(m.width, 65535) / 65535.0f
        out(1) = math.min(m.height, 65535) / 65535.0f
        out(2) = math.min(m.fps, 120.0).toFloat / 120.0f
        out(3) = math.min(m.durationMs / 1000.0, 3600.0).toFloat / 3600.0f
        out(4) = math.min(m.nFrames, 1000000L) / 1000000.0f
        if (content.length > 0) {
          var sum = 0.0; var sumSq = 0.0; var zeros = 0L
          val hist = new Array[Long](8)
          var i = 0
          while (i < content.length) {
            val v = content(i) & 0xff
            sum += v; sumSq += v.toDouble * v
            if (v == 0) zeros += 1
            hist(v >>> 5) += 1
            i += 1
          }
          val n = content.length.toDouble
          val mean = sum / n
          out(5) = (mean / 255.0).toFloat
          out(6) = (math.sqrt(math.max(0.0, sumSq / n - mean * mean))
            / 255.0).toFloat
          out(7) = (zeros / n).toFloat
          var b = 0
          while (b < 8) { out(8 + b) = (hist(b) / n).toFloat; b += 1 }
        }
        DecodedVideo(m.width, m.height, m.fps, m.durationMs,
          m.nFrames, out)
      }

    /** Stand-in for decoding payloads in a format none of the
      * from-scratch codecs recognize: a seeded, content-derived
      * descriptor. Deterministic so tests and re-runs are stable.
      * Swap seam for ffmpeg-class bindings — images (PNG/JPEG), audio
      * (WAV) and video headers (AVI) all run real from-scratch codecs
      * and reach this only on a failed parse. */
    def decodeStub(content: Array[Byte]): Array[Float] = {
      var h = 1125899906842597L // FNV-ish fold over the payload
      var i = 0
      while (i < content.length) { h = 31 * h + (content(i) & 0xff); i += 1 }
      val out = new Array[Float](FeatureDim)
      var s = h
      var j = 0
      while (j < FeatureDim) {
        s = s * 6364136223846793005L + 1442695040888963407L
        out(j) = ((s >>> 40).toInt % 1000) / 1000.0f
        j += 1
      }
      out
    }

    def contentHash(content: Array[Byte]): Long = {
      var h = 1125899906842597L
      var i = 0
      while (i < content.length) { h = 31 * h + (content(i) & 0xff); i += 1 }
      h
    }
  }

  /** Pixel edge of the synthetic PNGs below. */
  val SyntheticImageEdge = 16

  /** Sample rate of the synthetic WAVs below — low on purpose, so a
    * multi-second synthetic clip stays a few KB and the generate-
    * per-pass table scales with the corpus, not with audio realism. */
  val SyntheticAudioRate = 2000

  /** A deterministic synthetic media table derived from the documents
    * corpus (kinds round-robin). Image rows carry REAL PNG payloads —
    * a content-seeded 16×16 RGB encoded by [[ImageCodec.encodePngRgb]]
    * — and audio rows carry REAL WAV payloads — content-seeded mono
    * PCM16 at [[SyntheticAudioRate]] Hz matching the row's declared
    * duration, encoded by [[AudioCodec.encodePcm16]] — and video rows
    * carry REAL AVI containers at the declared 640x480 / 25 fps
    * timing: every other one a full MJPEG ([[VideoCodec.
    * encodeMjpegAvi]], one content-seeded marker-stream JPEG per
    * header frame, so [[extractFrames]] works on the corpus), the
    * rest header-only with the utf-8 text as an opaque movi payload
    * (the foreign-codec case) — so all decode paths exercise the
    * actual codecs end to end. */
  def syntheticMediaTable(spark: SparkSession, dir: String): Dataset[Media] = {
    import spark.implicits._
    val edge = SyntheticImageEdge
    graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val kind = (id % 3) match {
          case 0 => "image"; case 1 => "audio"; case _ => "video"
        }
        val durationMs = 1000L + (id % 10) * 500L
        val payload =
          if (kind == "image") {
            // content-seeded pixels: same text -> same PNG bytes
            var s = Codecs.contentHash(text.getBytes("UTF-8"))
            val rgb = new Array[Byte](edge * edge * 3)
            var i = 0
            while (i < rgb.length) {
              s = s * 6364136223846793005L + 1442695040888963407L
              rgb(i) = (s >>> 40).toByte
              i += 1
            }
            ImageCodec.encodePngRgb(edge, edge, rgb)
          } else if (kind == "audio") {
            // content-seeded PCM16 noise at the declared duration:
            // same text -> same WAV bytes, decoded stats are real
            var s = Codecs.contentHash(text.getBytes("UTF-8"))
            val n = (SyntheticAudioRate * durationMs / 1000L).toInt
            val pcm = new Array[Short](n)
            var i = 0
            while (i < n) {
              s = s * 6364136223846793005L + 1442695040888963407L
              pcm(i) = (s >>> 40).toShort
              i += 1
            }
            AudioCodec.encodePcm16(SyntheticAudioRate, 1, pcm)
          } else if (id % 6 == 2) {
            // every other video is a REAL MJPEG container: one
            // standalone marker-stream JPEG per header frame with
            // content-seeded geometry, so frame extraction runs on
            // the synthetic corpus end to end (same text -> same
            // container bytes)
            var s = Codecs.contentHash(text.getBytes("UTF-8"))
            val n = (durationMs * 25L / 1000L).toInt
            val frames = (0 until n).map { _ =>
              s = s * 6364136223846793005L + 1442695040888963407L
              ImageCodec.encodeMarkerJpeg(
                16 + ((s >>> 40) & 63).toInt, 16 + ((s >>> 46) & 63).toInt)
            }
            VideoCodec.encodeMjpegAvi(640, 480, 25.0, frames)
          } else {
            // real AVI header at the declared geometry/timing, text
            // bytes as the (opaque, undecodable) movi payload — the
            // foreign-codec case frame extraction must skip
            VideoCodec.encodeAviHeader(640, 480, 25.0,
              nFrames = durationMs * 25L / 1000L,
              moviPayload = text.getBytes("UTF-8"))
          }
        Media(id, kind, payload,
          format = kind match {
            case "image" => "png"; case "audio" => "wav"; case _ => "avi" },
          width = if (kind == "image") edge
            else if (kind == "video") 640 else 0,
          height = if (kind == "image") edge
            else if (kind == "video") 480 else 0,
          duration_ms = if (kind == "image") 0L else durationMs,
          fps = if (kind == "video") 25.0 else 0.0)
      }
  }

  /** Batch size for partition-local decode (the batch shape a Pandas
    * UDF / Arrow path would use; kept explicit so the swap-in has the
    * same memory envelope). */
  val DecodeBatchSize = 32

  /** Decode + feature-extract, batched per partition. One pass over
    * the binary column, no shuffle; at cluster scale this is the
    * GPU/codec stage and parallelism = partitions. Image and audio
    * rows take the real codecs; a payload the codec rejects falls
    * back to the content-derived descriptor with `decoded = false`,
    * so a corrupt payload degrades to hash-only dedup instead of
    * failing the task. */
  def decodeFeatures(media: Dataset[Media]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(DecodeBatchSize).flatMap { batch =>
        batch.map { m =>
          val base = MediaFeatures(m.media_id, m.kind, m.content.length.toLong,
            Codecs.contentHash(m.content), decoded = false,
            img_width = 0, img_height = 0, channels = 0,
            sample_rate = 0, duration_ms = 0L,
            Codecs.decodeStub(m.content))
          m.kind match {
            case "image" =>
              Codecs.decodeImage(m.content).map(d =>
                base.copy(decoded = true, img_width = d.width,
                  img_height = d.height, channels = d.channels,
                  feature = d.feature)).getOrElse(base)
            case "audio" =>
              Codecs.decodeAudio(m.content).map(d =>
                base.copy(decoded = true, channels = d.channels,
                  sample_rate = d.sampleRate, duration_ms = d.durationMs,
                  feature = d.feature)).getOrElse(base)
            case "video" =>
              Codecs.decodeVideo(m.content).map(d =>
                base.copy(decoded = true, img_width = d.width,
                  img_height = d.height, duration_ms = d.durationMs,
                  feature = d.feature)).getOrElse(base)
            case _ => base
          }
        }
      }
    }
  }

  /** Frame sampling for video rows: one row per sampled frame at
    * `everyMs` intervals — pure explode, no UDF, no shuffle. */
  def sampleFrames(media: Dataset[Media], everyMs: Long = 500L): DataFrame =
    media.toDF()
      .filter(col("kind") === "video")
      .select(col("media_id"), col("duration_ms"), col("fps"),
        explode(sequence(lit(0L), col("duration_ms") - 1,
          lit(everyMs))).as("ts_ms"))
      .withColumn("frame_idx",
        floor(col("ts_ms") / 1000.0 * col("fps")).cast("long"))

  /** One extracted video frame: a standalone image payload sliced out
    * of its container, with geometry parsed from the frame's own
    * header. `t_ms` comes from the container's per-frame timing. */
  final case class VideoFrame(
      media_id: Long,
      frame_idx: Int,
      t_ms: Long,
      frame_w: Int, // 0 when the frame payload has no parseable header
      frame_h: Int,
      n_bytes: Int,
      frame: Array[Byte])

  /** REAL frame extraction for video rows: walk each container's
    * `movi` stream ([[graft.doc.VideoCodec.frames]]) and emit one row
    * per video frame, the payload sliced out as a standalone image the
    * downstream image path can treat like any other binary column
    * (MJPEG frames are standalone JPEGs, so [[graft.doc.ImageCodec]]
    * reads their geometry). Partition-local mapPartitions, no shuffle:
    * a 100 TB video corpus explodes into frames at scan parallelism,
    * and the per-video `maxFramesPerVideo` cap bounds a single row's
    * expansion (drops past the cap are a visible design bound, not a
    * silent truncation — the cap lands in the last row's frame_idx).
    * Rows whose container has no parseable frames emit nothing —
    * header-only or foreign-codec videos degrade to the metadata path,
    * never to fake frames. */
  def extractFrames(media: Dataset[Media],
      maxFramesPerVideo: Int = 10000): Dataset[VideoFrame] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.filter(_.kind == "video").flatMap { m =>
        val usPerFrame = VideoCodec.decode(m.content)
          .map(_.usPerFrame).getOrElse(0L)
        VideoCodec.frames(m.content, maxFramesPerVideo).iterator
          .zipWithIndex.map { case (f, i) =>
            val payload = VideoCodec.framePayload(m.content, f)
            val dims = ImageCodec.decode(payload)
            VideoFrame(m.media_id, i, i * usPerFrame / 1000L,
              dims.map(_.width).getOrElse(0),
              dims.map(_.height).getOrElse(0),
              f.length, payload)
          }
      }
    }
  }

  /** Frame-level video near-dup candidates: videos sharing at least
    * `minShared` identical frame payloads (re-encoded intros,
    * duplicated segments, re-uploads with different headers — content
    * a container-level hash misses by construction). Frames hash
    * partition-locally during extraction, the shuffle carries only
    * (hash, id) pairs, and hash buckets above `maxBucketSize` are
    * dropped ([[graft.ops.Dedup.cappedBucketPairs]]: a corpus of black
    * frames would otherwise quadratically explode one bucket); the
    * pair count is bounded by bucket² per shared hash, never corpus².
    * Emits (id_a, id_b, shared_frames), id_a < id_b. */
  def videoFrameDupCandidates(media: Dataset[Media],
      minShared: Int = 2, maxBucketSize: Int = 1000): DataFrame = {
    import media.sparkSession.implicits._
    val hashed = extractFrames(media)
      .mapPartitions(_.map(f =>
        (f.media_id, Codecs.contentHash(f.frame))))
      .toDF("media_id", "fhash")
      .distinct() // a frame repeated WITHIN one video counts once
    graft.ops.Dedup.cappedBucketPairs(hashed, Seq("fhash"), "media_id",
        maxBucketSize, "video-frames")
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared_frames"))
      .filter(col("shared_frames") >= minShared)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Resize metadata transform (the plumbing of an image resize: the
    * payload stays opaque; real deployments rewrite content too). */
  def resizeMeta(media: Dataset[Media], w: Int, h: Int): Dataset[Media] = {
    import media.sparkSession.implicits._
    media.map(m => if (m.kind == "audio") m else m.copy(width = w, height = h))
  }

  /** Near-dup over media payloads: reuse the embedding near-dup path
    * on decoded features (LSH-bucketed, never all-pairs). */
  def mediaNearDupCandidates(features: Dataset[MediaFeatures]): DataFrame = {
    import features.sparkSession.implicits._
    // exact-payload candidates via content hash (cheap first pass)
    val byHash = features.toDF()
      .groupBy(col("content_hash"))
      .agg(sort_array(collect_list(col("media_id"))).as("ids"),
        count(lit(1)).as("n"))
      .filter(col("n") > 1)
    byHash.select(col("content_hash"), col("ids"), col("n"))
  }

  /** Perceptual image near-dup: aHash64 per image, then the
    * pigeonhole banded Hamming join (the simhash q48 device on the
    * 64-bit perceptual plane). Four 16-bit bands guarantee every
    * pair within Hamming distance 3 shares a band; buckets larger
    * than `maxBucketSize` are dropped (flat-color corpora collapse
    * onto a few hashes — widen the bands to recover them). The
    * shuffle carries (id, 8-byte hash, band key) only; decode runs
    * partition-local, once per image. */
  def imageAHashPairs(media: Dataset[Media], maxHamming: Int = 3,
      maxBucketSize: Int = 1000): DataFrame = {
    import media.sparkSession.implicits._
    require(maxHamming <= 3,
      "4 bands only guarantee recall through Hamming distance 3")
    val hashed = media.mapPartitions { it =>
      it.filter(_.kind == "image")
        .flatMap(m => Codecs.aHash64(m.content).map(h => (m.media_id, h)))
    }.toDF("media_id", "ahash")
    val bands = array((0 until 4).map(i =>
      struct(lit(i).as("band"),
        expr(s"(ahash >> ${i * 16}) & 65535").as("key"))): _*)
    val banded = hashed
      .select(col("media_id"), col("ahash"), explode(bands).as("bk"))
      .select(col("media_id"), col("ahash"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    graft.ops.Dedup.cappedBucketPairs(banded, Seq("band", "key"),
        "media_id", maxBucketSize, "ahash", Seq("ahash"))
      .select(col("id_a"), col("id_b"),
        expr("bit_count(ahash_a ^ ahash_b)").cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("id_a"), col("id_b"))
  }
}
