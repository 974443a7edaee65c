package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column plumbing.
  *
  * Media travels as an opaque `binary` payload column plus typed metadata —
  * the schema/partitioning/batching is real and tested. Codec work runs on
  * REAL JDK codecs behind [[MediaCodec]] (`javax.imageio` PNG decode,
  * `javax.sound.sampled` WAV decode, a self-contained MJPEG-AVI frame
  * splitter — see [[ImageIoCodec]]/[[WavCodec]]/[[AviCodec]] below); a
  * deterministic synthetic fake remains available so specs can pin the
  * pipeline shape without fixture files.
  *
  * Scale notes: payloads never pass through a shuffle here — metadata
  * extraction is a narrow projection; decode is `mapPartitions` so a real
  * codec would amortize per-partition init (model load, decoder context)
  * across the batch, the same shape a Python `mapInPandas` decode takes.
  * Partition sizing for ~MB-scale payloads should come from
  * `spark.sql.files.maxPartitionBytes`, not row counts.
  */
object Multimodal {

  /** A decoded-media feature row (the stub's output schema). */
  final case class MediaFeatures(
      media_id: Long,
      mime: String,
      byte_len: Long,
      width: Int,
      height: Int,
      n_frames: Int,
      feature: Array[Float])

  /** Attach an opaque binary payload + mime metadata derived from a string
    * column (the testdata has no real blobs; UTF-8 bytes stand in — the
    * plumbing downstream is payload-agnostic).
    */
  def attachPayload(df: DataFrame, idCol: String, textCol: String, mime: String): DataFrame =
    df.select(
      col(idCol).cast("bigint").as("media_id"),
      encode(col(textCol), "UTF-8").as("payload"),
      lit(mime).as("mime"))

  /** Cheap metadata over the opaque payload — pure codegen'd projection
    * (no decode): byte length + content digest for dedup/integrity.
    */
  def payloadMeta(media: DataFrame): DataFrame =
    media.select(
      col("media_id"),
      col("mime"),
      length(col("payload")).cast("bigint").as("payload_len"),
      md5(col("payload")).as("payload_md5"))

  /** A generated media payload row ([[attachPngPayload]]'s output schema). */
  final case class MediaPayload(media_id: Long, payload: Array[Byte], mime: String)

  /** Attach a REAL PNG payload per row, encoded with the JDK's
    * `javax.imageio` (zero extra dependencies): dimensions come from the
    * `wCol`/`hCol` expressions and the pixel pattern is a pure function of
    * (media_id, x, y), so the whole image is deterministic and the decoded
    * dimensions are closed-form in the id — which is what lets the decode
    * path run under the DuckDB oracle (q18b). Same mapPartitions shape as
    * the decode side: encoder state is per-partition, payloads are born on
    * executors and never shuffled.
    */
  def attachPngPayload(
      df: DataFrame, idCol: String,
      wCol: org.apache.spark.sql.Column, hCol: org.apache.spark.sql.Column): DataFrame = {
    implicit val enc: Encoder[MediaPayload] = Encoders.product[MediaPayload]
    Parallelism.ensureCompute(
        df.select(col(idCol).cast("bigint").as("media_id"),
          wCol.cast("int").as("w"), hCol.cast("int").as("h")))
      .mapPartitions { rows =>
        rows.map { row =>
          val (id, w, h) = (row.getLong(0), row.getInt(1), row.getInt(2))
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val v = ((id * 131 + x * 31 + y * 17) & 0xff).toInt
              img.setRGB(x, y, (v << 16) | (((v * 7) & 0xff) << 8) | ((v * 13) & 0xff))
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          MediaPayload(id, bos.toByteArray, "image/png")
        }
      }(enc).toDF()
  }

  /** The codec seam. Still images run through [[ImageIoCodec]] and WAV
    * audio through [[WavCodec]] (both REAL codecs on JDK-only APIs —
    * `javax.imageio` / `javax.sound.sampled`, zero extra dependencies);
    * only video remains stubbed behind [[DeterministicFakeCodec]] (this
    * container ships no video library beyond the JDK).
    */
  trait MediaCodec extends Serializable {
    /** Decode payload bytes into (width, height, frames, feature vector). */
    def decode(mediaId: Long, mime: String, payload: Array[Byte]): MediaFeatures

    /** Extract the frame at `frameIdx` as its own payload (video -> still).
      */
    def extractFrame(mime: String, payload: Array[Byte], frameIdx: Int): Array[Byte]
  }

  /** REAL still-image codec on `javax.imageio` — decodes actual PNG/JPEG
    * bytes (dimensions come out of the decoded raster, not arithmetic)
    * and treats a still as its own single frame. Feature vector = (width, height, mean
    * red, mean green) over the decoded pixels — cheap, deterministic, and
    * enough to prove the decode touched every pixel. Rejects non-image
    * mimes: audio/video stay behind [[DeterministicFakeCodec]] until a
    * real AV library exists in the deployment.
    */
  object ImageIoCodec extends MediaCodec {
    private def read(payload: Array[Byte]): java.awt.image.BufferedImage = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      require(img != null, "ImageIoCodec: payload is not a decodable image")
      img
    }

    private def requireImage(mime: String): Unit =
      require(mime.startsWith("image/"),
        s"ImageIoCodec handles image/* only, got '$mime' — route audio/video " +
          "through an AV codec implementation of MediaCodec")

    override def decode(mediaId: Long, mime: String, payload: Array[Byte]): MediaFeatures = {
      requireImage(mime)
      val img = read(payload)
      val (w, h) = (img.getWidth, img.getHeight)
      var (sumR, sumG) = (0L, 0L)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          sumR += (rgb >> 16) & 0xff
          sumG += (rgb >> 8) & 0xff
          x += 1
        }
        y += 1
      }
      val n = w.toLong * h
      MediaFeatures(mediaId, mime, payload.length.toLong, w, h, n_frames = 1,
        feature = Array(w.toFloat, h.toFloat, sumR.toFloat / n, sumG.toFloat / n))
    }

    /** A still image IS frame 0; any other index is out of range. */
    override def extractFrame(mime: String, payload: Array[Byte], frameIdx: Int): Array[Byte] = {
      requireImage(mime)
      require(frameIdx == 0, s"still image has exactly one frame, got index $frameIdx")
      payload
    }
  }

  /** Attach a REAL PCM WAV payload per row, encoded with the JDK's
    * `javax.sound.sampled` (zero extra dependencies). Sample rate, channel
    * count and frame count come from the given column expressions and every
    * 16-bit sample is a pure function of (media_id, frame, channel), so the
    * whole waveform is deterministic and the decoded properties — and even
    * the SUM over all decoded samples — are closed-form in the id, which is
    * what lets the audio decode path run under the DuckDB oracle (q18d) the
    * same way [[attachPngPayload]] does for images (q18b). Same
    * mapPartitions shape: payloads are born on executors, never shuffled.
    */
  def attachWavPayload(
      df: DataFrame, idCol: String,
      rateCol: org.apache.spark.sql.Column,
      channelsCol: org.apache.spark.sql.Column,
      framesCol: org.apache.spark.sql.Column): DataFrame = {
    implicit val enc: Encoder[MediaPayload] = Encoders.product[MediaPayload]
    Parallelism.ensureCompute(
        df.select(col(idCol).cast("bigint").as("media_id"),
          rateCol.cast("int").as("rate"), channelsCol.cast("int").as("ch"),
          framesCol.cast("int").as("n")))
      .mapPartitions { rows =>
        rows.map { row =>
          val (id, rate, ch, n) =
            (row.getLong(0), row.getInt(1), row.getInt(2), row.getInt(3))
          MediaPayload(id, encodeWav(id, rate, ch, n), "audio/wav")
        }
      }(enc).toDF()
  }

  /** The deterministic 16-bit sample at (frame, channel) for media `id` —
    * shared by the encoder and the q18d oracle's SQL replay. Range
    * [-16384, 16383], so a sum over any payload this repo generates stays
    * far inside float-exact integer range.
    */
  private def wavSample(id: Long, frame: Int, channel: Int): Int =
    ((id * 131 + frame * 17 + channel * 7) % 32768 - 16384).toInt

  private def encodeWav(id: Long, rate: Int, ch: Int, n: Int): Array[Byte] = {
    val data = new Array[Byte](n * ch * 2)
    var p = 0
    var i = 0
    while (i < n) {
      var c = 0
      while (c < ch) {
        val v = wavSample(id, i, c)
        data(p) = (v & 0xff).toByte
        data(p + 1) = ((v >> 8) & 0xff).toByte
        p += 2
        c += 1
      }
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
      rate.toFloat, 16, ch, ch * 2, rate.toFloat, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** REAL audio codec on `javax.sound.sampled` — parses actual WAV bytes
    * (sample rate / channels / frame count come out of the decoded header,
    * not arithmetic) and folds every decoded 16-bit sample into the feature
    * vector, proving the decode touched the full waveform. [[MediaFeatures]]
    * mapping for audio: width = sample rate (Hz), height = channels,
    * n_frames = PCM frame count, feature = (rate, channels, frames,
    * sample sum). `extractFrame` cuts the single PCM frame at the index
    * into its own one-frame WAV. Rejects non-audio mimes; video stays
    * behind [[DeterministicFakeCodec]].
    */
  object WavCodec extends MediaCodec {
    import javax.sound.sampled._

    private def requireAudio(mime: String): Unit =
      require(mime.startsWith("audio/"),
        s"WavCodec handles audio/* only, got '$mime' — route video through " +
          "an AV codec implementation of MediaCodec")

    /** (format, frames, 16-bit LE samples frame-major) from WAV bytes. */
    private def read(payload: Array[Byte]): (AudioFormat, Int, Array[Short]) = {
      val ais = AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(payload))
      val fmt = ais.getFormat
      require(fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian &&
        fmt.getEncoding == AudioFormat.Encoding.PCM_SIGNED,
        s"WavCodec decodes 16-bit little-endian PCM, got $fmt")
      val bytes = ais.readAllBytes()
      val samples = new Array[Short](bytes.length / 2)
      var i = 0
      while (i < samples.length) {
        samples(i) = (((bytes(2 * i) & 0xff) | (bytes(2 * i + 1) << 8)).toShort)
        i += 1
      }
      (fmt, ais.getFrameLength.toInt, samples)
    }

    private def write(rate: Int, ch: Int, samples: Array[Short]): Array[Byte] = {
      val data = new Array[Byte](samples.length * 2)
      var i = 0
      while (i < samples.length) {
        data(2 * i) = (samples(i) & 0xff).toByte
        data(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
        i += 1
      }
      val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
        rate.toFloat, 16, ch, ch * 2, rate.toFloat, false)
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, (samples.length / ch).toLong)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }

    override def decode(mediaId: Long, mime: String, payload: Array[Byte]): MediaFeatures = {
      requireAudio(mime)
      val (fmt, frames, samples) = read(payload)
      var sum = 0L
      var i = 0
      while (i < samples.length) { sum += samples(i); i += 1 }
      MediaFeatures(mediaId, mime, payload.length.toLong,
        width = fmt.getSampleRate.toInt, height = fmt.getChannels,
        n_frames = frames,
        feature = Array(fmt.getSampleRate, fmt.getChannels.toFloat,
          frames.toFloat, sum.toFloat))
    }

    /** One PCM frame (all channels) at `frameIdx`, as its own 1-frame WAV. */
    override def extractFrame(mime: String, payload: Array[Byte], frameIdx: Int): Array[Byte] = {
      requireAudio(mime)
      val (fmt, frames, samples) = read(payload)
      require(frameIdx >= 0 && frameIdx < frames,
        s"frame index $frameIdx out of range [0, $frames)")
      val ch = fmt.getChannels
      write(fmt.getSampleRate.toInt, ch,
        java.util.Arrays.copyOfRange(samples, frameIdx * ch, (frameIdx + 1) * ch))
    }
  }

  /** Attach a REAL MJPEG-in-AVI video payload per row, built with JDK-only
    * APIs (RIFF container writing + `javax.imageio` JPEG frames — zero
    * extra dependencies). Dimensions and frame count come from the given
    * column expressions; each frame's pixel pattern is a pure function of
    * (media_id, frame, x, y), so container-level properties (width,
    * height, n_frames) are closed-form in the id and the decode path runs
    * under the DuckDB oracle (q18e) the way q18b/q18d do for image/audio.
    * Frame BYTES are real lossy JPEG (not oracle-checkable pixel-for-pixel
    * — the spec instead proves each extracted frame decodes through
    * `ImageIO` at the right dimensions). Same mapPartitions shape:
    * payloads are born on executors, never shuffled.
    */
  def attachAviPayload(
      df: DataFrame, idCol: String,
      wCol: org.apache.spark.sql.Column, hCol: org.apache.spark.sql.Column,
      framesCol: org.apache.spark.sql.Column): DataFrame = {
    implicit val enc: Encoder[MediaPayload] = Encoders.product[MediaPayload]
    Parallelism.ensureCompute(
        df.select(col(idCol).cast("bigint").as("media_id"),
          wCol.cast("int").as("w"), hCol.cast("int").as("h"),
          framesCol.cast("int").as("n")))
      .mapPartitions { rows =>
        rows.map { row =>
          val (id, w, h, n) =
            (row.getLong(0), row.getInt(1), row.getInt(2), row.getInt(3))
          val frames = (0 until n).map { f =>
            val img = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val v = ((id * 131 + f * 61 + x * 31 + y * 17) & 0xff).toInt
                img.setRGB(x, y, (v << 16) | (((v * 7) & 0xff) << 8) | ((v * 13) & 0xff))
                x += 1
              }
              y += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "jpg", bos)
            bos.toByteArray
          }
          MediaPayload(id, AviCodec.encodeAvi(w, h, frames), "video/avi")
        }
      }(enc).toDF()
  }

  /** REAL video codec for MJPEG-in-AVI, on JDK-only APIs: the AVI (RIFF)
    * container is parsed chunk by chunk — width/height/frame count come
    * out of the actual `avih` header, frames out of the actual `00dc`
    * chunks — and each frame is a genuine JPEG decoded/encoded through
    * `javax.imageio`. MJPEG is the one video format the JDK can fully
    * round-trip without native libraries; anything needing inter-frame
    * compression (H.264 etc.) is the remaining external-library seam.
    *
    * [[MediaFeatures]] mapping for video: width/height from the container
    * header, n_frames = data-chunk count, feature = (width, height,
    * n_frames, total frame payload bytes). `extractFrame` returns the
    * frame's JPEG bytes — a REAL still payload that [[ImageIoCodec]] decodes directly.
    */
  object AviCodec extends MediaCodec {
    private def requireVideo(mime: String): Unit =
      require(mime.startsWith("video/"),
        s"AviCodec handles video/* only, got '$mime'")

    private def fourCC(s: String): Int =
      (s(0) & 0xff) | ((s(1) & 0xff) << 8) | ((s(2) & 0xff) << 16) | ((s(3) & 0xff) << 24)

    /** Build a minimal standard AVI: RIFF('AVI ') { LIST('hdrl') { avih,
      * LIST('strl') { strh('vids'/'MJPG'), strf(BITMAPINFOHEADER) } },
      * LIST('movi') { '00dc' jpeg... } } — every chunk even-padded per the
      * RIFF rule.
      */
    private[operators] def encodeAvi(w: Int, h: Int, frames: Seq[Array[Byte]]): Array[Byte] = {
      import java.nio.{ByteBuffer, ByteOrder}
      def chunk(id: String, body: Array[Byte]): Array[Byte] = {
        val pad = body.length % 2
        val bb = ByteBuffer.allocate(8 + body.length + pad).order(ByteOrder.LITTLE_ENDIAN)
        bb.putInt(fourCC(id)).putInt(body.length).put(body)
        bb.array()
      }
      def list(kind: String, body: Array[Byte]): Array[Byte] = {
        val bb = ByteBuffer.allocate(12 + body.length).order(ByteOrder.LITTLE_ENDIAN)
        bb.putInt(fourCC("LIST")).putInt(4 + body.length).putInt(fourCC(kind)).put(body)
        bb.array()
      }
      val maxFrame = if (frames.isEmpty) 0 else frames.map(_.length).max
      val avih = ByteBuffer.allocate(56).order(ByteOrder.LITTLE_ENDIAN)
        .putInt(40000)        // dwMicroSecPerFrame (25 fps)
        .putInt(maxFrame * 25) // dwMaxBytesPerSec
        .putInt(0).putInt(0)  // padding granularity, flags
        .putInt(frames.length) // dwTotalFrames
        .putInt(0).putInt(1)  // initial frames, dwStreams
        .putInt(maxFrame)     // suggested buffer
        .putInt(w).putInt(h)  // dwWidth, dwHeight
        .array()
      val strh = ByteBuffer.allocate(56).order(ByteOrder.LITTLE_ENDIAN)
        .putInt(fourCC("vids")).putInt(fourCC("MJPG"))
        .putInt(0).putInt(0)  // flags, priority+language
        .putInt(0)            // initial frames
        .putInt(1).putInt(25) // scale, rate -> 25 fps
        .putInt(0).putInt(frames.length) // start, length
        .putInt(maxFrame).putInt(-1).putInt(0) // bufSize, quality, sampleSize
        .putShort(0).putShort(0).putShort(w.toShort).putShort(h.toShort) // rcFrame
        .array()
      val strf = ByteBuffer.allocate(40).order(ByteOrder.LITTLE_ENDIAN)
        .putInt(40).putInt(w).putInt(h)
        .putShort(1).putShort(24)      // planes, bitCount
        .putInt(fourCC("MJPG"))        // biCompression
        .putInt(w * h * 3).putInt(0).putInt(0).putInt(0).putInt(0)
        .array()
      val hdrl = list("hdrl",
        chunk("avih", avih) ++ list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
      val movi = list("movi", frames.flatMap(f => chunk("00dc", f)).toArray)
      val body = hdrl ++ movi
      val riff = ByteBuffer.allocate(12 + body.length).order(ByteOrder.LITTLE_ENDIAN)
        .putInt(fourCC("RIFF")).putInt(4 + body.length).putInt(fourCC("AVI "))
        .put(body)
      riff.array()
    }

    /** Parsed container: (width, height, frame JPEG byte arrays). Walks
      * the real chunk structure — no assumption beyond the RIFF spec.
      */
    private def parse(payload: Array[Byte]): (Int, Int, Vector[Array[Byte]]) = {
      import java.nio.{ByteBuffer, ByteOrder}
      val bb = ByteBuffer.wrap(payload).order(ByteOrder.LITTLE_ENDIAN)
      require(bb.getInt() == fourCC("RIFF"), "not a RIFF container")
      bb.getInt() // riff size
      require(bb.getInt() == fourCC("AVI "), "not an AVI RIFF form")
      var w = -1
      var h = -1
      var frames = Vector.empty[Array[Byte]]
      def walk(end: Int): Unit =
        while (bb.position() + 8 <= end) {
          val id = bb.getInt()
          val size = bb.getInt()
          val next = bb.position() + size + (size % 2)
          if (id == fourCC("LIST")) {
            bb.getInt() // list kind; walk contents either way
            walk(bb.position() + size - 4)
          } else if (id == fourCC("avih")) {
            val base = bb.position()
            w = bb.getInt(base + 32)
            h = bb.getInt(base + 36)
          } else if (id == fourCC("00dc") || id == fourCC("00db")) {
            val f = new Array[Byte](size)
            bb.get(bb.position(), f) // absolute bulk read, position unchanged
            frames = frames :+ f
          }
          bb.position(math.min(next, end))
        }
      walk(payload.length)
      require(w > 0 && h > 0, "missing avih header")
      (w, h, frames)
    }

    override def decode(mediaId: Long, mime: String, payload: Array[Byte]): MediaFeatures = {
      requireVideo(mime)
      val (w, h, frames) = parse(payload)
      MediaFeatures(mediaId, mime, payload.length.toLong, w, h, frames.length,
        feature = Array(w.toFloat, h.toFloat, frames.length.toFloat,
          frames.map(_.length.toLong).sum.toFloat))
    }

    /** The frame's own JPEG bytes — directly decodable by [[ImageIoCodec]]. */
    override def extractFrame(mime: String, payload: Array[Byte], frameIdx: Int): Array[Byte] = {
      requireVideo(mime)
      val (_, _, frames) = parse(payload)
      require(frameIdx >= 0 && frameIdx < frames.length,
        s"frame index $frameIdx out of range [0, ${frames.length})")
      frames(frameIdx)
    }
  }

  /** STUB codec: derives fake-but-deterministic "decoded" dimensions and a
    * 4-float "embedding" from the payload bytes. All three real-media
    * branches now exist ([[ImageIoCodec]] stills, [[WavCodec]] WAV audio,
    * [[AviCodec]] MJPEG video); this stub remains only as the stand-in for
    * formats the JDK cannot decode (inter-frame-compressed video, lossy
    * audio), and as the deterministic fixture for plumbing tests.
    */
  object DeterministicFakeCodec extends MediaCodec {
    override def decode(mediaId: Long, mime: String, payload: Array[Byte]): MediaFeatures = {
      val n = payload.length
      val checksum = payload.foldLeft(17L)((a, b) => a * 31 + (b & 0xff))
      MediaFeatures(
        media_id = mediaId,
        mime = mime,
        byte_len = n.toLong,
        width = (math.abs(checksum) % 1920).toInt + 1,
        height = (math.abs(checksum / 7) % 1080).toInt + 1,
        n_frames = if (mime.startsWith("video/")) (n % 240) + 1 else 1,
        feature = Array(
          n.toFloat,
          (checksum & 0xffff).toFloat,
          ((checksum >> 16) & 0xffff).toFloat,
          ((checksum >> 32) & 0xffff).toFloat))
    }

    /** Fake frame extraction: a deterministic slice keyed by frame index. */
    override def extractFrame(mime: String, payload: Array[Byte], frameIdx: Int): Array[Byte] = {
      val n = math.max(1, payload.length)
      val outLen = math.min(64, n)
      val out = new Array[Byte](outLen)
      var i = 0
      while (i < outLen) {
        out(i) = payload((frameIdx * 53 + i) % n)
        i += 1
      }
      out
    }
  }

  /** Decode/feature-extract via mapPartitions: per-partition codec init,
    * row-at-a-time decode within the batch — the Spark-side shape a real
    * GPU/codec stage needs. Returns a typed Dataset.
    */
  def decodeFeatures(
      spark: SparkSession,
      media: DataFrame,
      codec: MediaCodec = DeterministicFakeCodec): Dataset[MediaFeatures] = {
    implicit val enc: Encoder[MediaFeatures] = Encoders.product[MediaFeatures]
    Parallelism.ensureCompute(media.select("media_id", "mime", "payload"))
      .mapPartitions { rows =>
        // real codecs hook per-partition init here (decoder ctx, model load)
        rows.map { row =>
          codec.decode(row.getLong(0), row.getString(1), row.getAs[Array[Byte]](2))
        }
      }(enc)
  }

  /** A single sampled frame (video fan-out output schema). */
  final case class FrameRow(media_id: Long, frame_idx: Int, frame_payload: Array[Byte])

  /** Sample every `stride`-th frame of each payload into its own row —
    * the video -> stills fan-out. Per-row output is bounded by
    * n_frames/stride; the source payload is read once per partition and
    * never shuffled (the fan-out happens AFTER decode, emitting small
    * frame payloads, not copies of the source).
    */
  def sampleFrames(
      media: DataFrame, stride: Int,
      codec: MediaCodec = DeterministicFakeCodec): Dataset[FrameRow] = {
    require(stride > 0, "stride must be positive")
    implicit val enc: Encoder[FrameRow] = Encoders.product[FrameRow]
    Parallelism.ensureCompute(media.select("media_id", "mime", "payload"))
      .mapPartitions { rows =>
        rows.flatMap { row =>
          val (id, mime) = (row.getLong(0), row.getString(1))
          val payload = row.getAs[Array[Byte]](2)
          val nFrames = codec.decode(id, mime, payload).n_frames
          (0 until nFrames by stride).iterator.map { f =>
            FrameRow(id, f, codec.extractFrame(mime, payload, f))
          }
        }
      }(enc)
  }

  // ------------------------------------------------- perceptual dedup

  /** A perceptual-hash row ([[dhash56]]'s output schema). */
  final case class MediaDhash(media_id: Long, dhash: Long)

  /** 56-bit difference hash (dHash) of every image payload — the
    * perceptual near-dup key for image corpora (LAION/DataComp-style
    * pipelines dedup on exactly this class of hash: re-encodes, metadata
    * edits and light crops keep the hash within a few bits while
    * different images land ~28 bits apart). Pipeline per row, all
    * INTEGER arithmetic so the value is engine-replayable:
    *  1. decode the REAL payload bytes (`javax.imageio` — PNG/JPEG);
    *  2. integer luminance per pixel: `(299 R + 587 G + 114 B) / 1000`;
    *  3. mean-pool to an 8 x 8 grid (floor division by the block area —
    *     width/height must be multiples of 8);
    *  4. bit `r * 7 + c` (0-55) set iff `g[r][c] < g[r][c+1]` — 7
    *     horizontal gradient signs per row, the dHash construction.
    * 56 bits, not 64, so every value stays clear of BIGINT sign/overflow
    * edges in ANSI engines (the [[graft.functions.TextFunctions
    * .portableSimhash48]] discipline).
    *
    * Same mapPartitions seam as [[decodeFeatures]]: per-partition codec
    * init, payloads never shuffle; output is 16 bytes/image.
    */
  def dhash56(media: DataFrame): DataFrame = {
    implicit val enc: Encoder[MediaDhash] = Encoders.product[MediaDhash]
    Parallelism.ensureCompute(media.select("media_id", "payload"))
      .mapPartitions { rows =>
        rows.map { row =>
          MediaDhash(row.getLong(0),
            dhashOfPayload(row.getLong(0), row.getAs[Array[Byte]](1)))
        }
      }(enc).toDF()
  }

  /** The dHash pixel kernel shared by [[dhash56]] and [[frameDhashes]]. */
  private def dhashOfPayload(id: Long, payload: Array[Byte]): Long = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload))
    require(img != null, s"dhash56: payload $id is not a decodable image")
    val (w, h) = (img.getWidth, img.getHeight)
    require(w % 8 == 0 && h % 8 == 0,
      s"dhash56 pools to 8x8: dimensions must be multiples of 8, got ${w}x$h")
    val (bw, bh) = (w / 8, h / 8)
    val grid = Array.ofDim[Long](8, 8)
    var gy = 0
    while (gy < 8) {
      var gx = 0
      while (gx < 8) {
        var sum = 0L
        var y = gy * bh
        while (y < (gy + 1) * bh) {
          var x = gx * bw
          while (x < (gx + 1) * bw) {
            val rgb = img.getRGB(x, y)
            sum += (299L * ((rgb >> 16) & 0xff) +
              587L * ((rgb >> 8) & 0xff) + 114L * (rgb & 0xff)) / 1000L
            x += 1
          }
          y += 1
        }
        grid(gy)(gx) = sum / (bw.toLong * bh)
        gx += 1
      }
      gy += 1
    }
    var hash = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 7) {
        if (grid(r)(c) < grid(r)(c + 1)) hash |= 1L << (r * 7 + c)
        c += 1
      }
      r += 1
    }
    hash
  }

  /** A per-frame perceptual-hash row ([[frameDhashes]]'s schema). */
  final case class FrameDhash(media_id: Long, frame_idx: Long, dhash: Long)

  /** [[dhash56]] over a FRAME table `(media_id, frame_idx, payload)` —
    * each frame is a still (what [[sampleFrames]]/`extractFrame`
    * emit), hashed by the same integer kernel; the temporal input to
    * [[sceneChanges]]. Same mapPartitions seam, 24 bytes/frame out.
    */
  def frameDhashes(frames: DataFrame): DataFrame = {
    implicit val enc: Encoder[FrameDhash] = Encoders.product[FrameDhash]
    Parallelism.ensureCompute(frames.select("media_id", "frame_idx", "payload"))
      .mapPartitions { rows =>
        rows.map { row =>
          FrameDhash(row.getLong(0), row.getLong(1),
            dhashOfPayload(row.getLong(0), row.getAs[Array[Byte]](2)))
        }
      }(enc).toDF()
  }

  /** SCENE-CHANGE detection over a frame-hash table: a boundary is a
    * frame whose dHash sits more than `threshold` Hamming bits from its
    * predecessor — the shot-cut detector every video-corpus pipeline
    * runs before per-scene sampling (within a shot, consecutive frames
    * hash within a few bits; a cut jumps). Returns
    * `(media_id, frame_idx, hamming)` for each boundary frame.
    * One per-media window over FRAME ROWS (video-length-bounded, never
    * corpus-wide); payloads were already reduced to 8-byte hashes.
    */
  def sceneChanges(frameHashes: DataFrame, threshold: Int = 10): DataFrame = {
    require(threshold >= 0, s"threshold must be >= 0, got $threshold")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("media_id")).orderBy(col("frame_idx"))
    frameHashes
      .withColumn("__prev", lag(col("dhash"), 1).over(w))
      .where(col("__prev").isNotNull)
      .withColumn("hamming",
        bit_count(col("__prev").bitwiseXOR(col("dhash"))).cast("int"))
      .where(col("hamming") > threshold)
      .select(col("media_id"), col("frame_idx"), col("hamming"))
  }

  /** Image near-duplicate pairs by dHash Hamming distance — [[dhash56]]
    * into [[SimHashDedup.hammingPairs]] (the shared pigeonhole
    * candidate-then-verify kernel: band join, `bit_count(xor)` verify,
    * `maxBucketSize` ceiling against degenerate corpora — e.g. millions
    * of monochrome thumbnails hashing to 0). Returns
    * (idA, idB, hamming), idA < idB.
    */
  def dhashNearDupPairs(media: DataFrame, maxHamming: Int = 3,
      maxBucketSize: Int = 1000): DataFrame =
    SimHashDedup.hammingPairs(dhash56(media), "media_id", "dhash",
      maxHamming, maxBucketSize)

  /** A decoded-audio fingerprint row ([[audioFingerprint56]]'s schema). */
  final case class MediaAhash(media_id: Long, ahash: Long)

  /** 56-bit audio fingerprint over REAL decoded WAV payloads — the
    * waveform sibling of [[dhash56]] (the same temporal-gradient-sign
    * construction Shazam-class fingerprints build per frequency band;
    * here over the time axis, which the JDK can decode without native
    * FFT libraries): channel-0 PCM samples are mean-pooled into 57 equal
    * segments and bit `s` (0-55) is set iff `mean[s] < mean[s+1]` — a
    * re-encoded or amplitude-shifted copy keeps its envelope shape and
    * lands within a few bits. All INTEGER arithmetic (segment means by
    * truncating division), so every bit replays in an ANSI oracle; 56
    * bits for the same BIGINT-edge discipline as [[dhash56]]. Pairs via
    * [[SimHashDedup.hammingPairs]] / [[SimHashDedup
    * .incrementalHammingPairs]] — one shared kernel for every
    * fingerprint family.
    *
    * Frame count must divide into 57 segments exactly; same
    * mapPartitions codec seam (payloads never shuffle, 16 bytes/row out).
    */
  def audioFingerprint56(media: DataFrame): DataFrame = {
    implicit val enc: Encoder[MediaAhash] = Encoders.product[MediaAhash]
    Parallelism.ensureCompute(media.select("media_id", "payload"))
      .mapPartitions { rows =>
        rows.map { row =>
          val id = row.getLong(0)
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(row.getAs[Array[Byte]](1)))
          val fmt = ais.getFormat
          require(fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian &&
            fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
            s"audioFingerprint56 decodes 16-bit LE PCM, got $fmt")
          val ch = fmt.getChannels
          val frames = ais.getFrameLength.toInt
          require(frames % 57 == 0,
            s"audioFingerprint56 pools 57 segments: frame count must be a " +
              s"multiple of 57, got $frames")
          val bytes = ais.readAllBytes()
          val segLen = frames / 57
          val means = new Array[Long](57)
          var s = 0
          while (s < 57) {
            var sum = 0L
            var f = s * segLen
            while (f < (s + 1) * segLen) {
              val off = (f * ch) * 2 // channel 0 of frame f
              sum += ((bytes(off) & 0xff) | (bytes(off + 1) << 8)).toShort
              f += 1
            }
            means(s) = sum / segLen // truncating div — matches ANSI engines
            s += 1
          }
          var hash = 0L
          var i = 0
          while (i < 56) {
            if (means(i) < means(i + 1)) hash |= 1L << i
            i += 1
          }
          MediaAhash(id, hash)
        }
      }(enc).toDF()
  }
}
