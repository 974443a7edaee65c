package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

class MultimodalSpec extends SparkSuite {
  import spark.implicits._

  private def media = Multimodal.attachPayload(
    Seq((1L, "hello world"), (2L, "")).toDF("id", "txt"), "id", "txt", "image/png")

  test("attachPayload: binary payload with mime metadata") {
    val row = media.where($"media_id" === 1L).collect().head
    assert(new String(row.getAs[Array[Byte]]("payload"), "UTF-8") == "hello world")
    assert(row.getAs[String]("mime") == "image/png")
  }

  test("payloadMeta: length + digest without decoding") {
    val m = Multimodal.payloadMeta(media).where($"media_id" === 1L).collect().head
    assert(m.getAs[Long]("payload_len") == 11L)
    assert(m.getAs[String]("payload_md5") == "5eb63bbbe01eeed093cb22bb8f5acdc3")
  }

  test("decodeFeatures: stub codec is deterministic, partition-shaped") {
    val f1 = Multimodal.decodeFeatures(spark, media).collect().sortBy(_.media_id)
    val f2 = Multimodal.decodeFeatures(spark, media.repartition(3)).collect().sortBy(_.media_id)
    assert(f1.map(_.width).toSeq == f2.map(_.width).toSeq,
      "decode must not depend on partitioning")
    assert(f1.forall(f => f.width >= 1 && f.height >= 1 && f.feature.length == 4))
    assert(f1.find(_.media_id == 1L).get.byte_len == 11L)
  }

  test("ImageIoCodec: generated PNGs are real PNG bytes and decode to exact dims") {
    val docs = Seq(5L, 14L, 27L).toDF("id")
    val media = Multimodal.attachPngPayload(docs, "id",
      wCol = $"id" % 13 + 1, hCol = $"id" % 7 + 1)
    val pngMagic = Array(0x89, 'P', 'N', 'G').map(_.toByte).toSeq
    media.collect().foreach { r =>
      assert(r.getAs[Array[Byte]]("payload").take(4).toSeq == pngMagic,
        "payload must carry the PNG signature")
    }
    val feats = Multimodal.decodeFeatures(spark, media, Multimodal.ImageIoCodec)
      .collect().map(f => f.media_id -> ((f.width, f.height, f.n_frames))).toMap
    for (id <- Seq(5L, 14L, 27L))
      assert(feats(id) == (((id % 13 + 1).toInt, (id % 7 + 1).toInt, 1)),
        s"decoded dims for $id: ${feats(id)}")
  }

  test("ImageIoCodec: still = frame 0; non-image mimes and OOB frames rejected") {
    val payload = Multimodal.attachPngPayload(Seq(3L).toDF("id"), "id", lit(2), lit(2))
      .collect().head.getAs[Array[Byte]]("payload")
    assert(Multimodal.ImageIoCodec.extractFrame("image/png", payload, 0).sameElements(payload))
    intercept[IllegalArgumentException] {
      Multimodal.ImageIoCodec.extractFrame("image/png", payload, 1)
    }
    intercept[IllegalArgumentException] {
      Multimodal.ImageIoCodec.decode(3L, "video/mp4", payload)
    }
    intercept[IllegalArgumentException] {
      Multimodal.ImageIoCodec.decode(3L, "image/png", Array[Byte](1, 2, 3))
    }
  }

  test("WavCodec: generated WAVs are real RIFF bytes and decode to exact properties") {
    val docs = Seq(5L, 14L, 42L).toDF("id")
    val media = Multimodal.attachWavPayload(docs, "id",
      rateCol = lit(8000) + ($"id" % 3) * 4000,
      channelsCol = $"id" % 2 + 1,
      framesCol = $"id" % 100 + 20)
    media.collect().foreach { r =>
      val p = r.getAs[Array[Byte]]("payload")
      assert(p.take(4).toSeq == "RIFF".getBytes.toSeq &&
        p.slice(8, 12).toSeq == "WAVE".getBytes.toSeq,
        "payload must carry the RIFF/WAVE signature")
      val id = r.getAs[Long]("media_id")
      assert(p.length == 44 + ((id % 100 + 20) * (id % 2 + 1) * 2).toInt,
        "canonical 44-byte header + PCM data")
    }
    val feats = Multimodal.decodeFeatures(spark, media, Multimodal.WavCodec)
      .collect().map(f => f.media_id -> f).toMap
    for (id <- Seq(5L, 14L, 42L)) {
      val f = feats(id)
      assert((f.width, f.height, f.n_frames) ==
        (((8000 + (id % 3) * 4000).toInt, (id % 2 + 1).toInt, (id % 100 + 20).toInt)),
        s"decoded properties for $id: ${(f.width, f.height, f.n_frames)}")
      // the decoded-sample sum must equal the generator arithmetic exactly
      val expect = (for {
        i <- 0 until (id % 100 + 20).toInt
        c <- 0 until (id % 2 + 1).toInt
      } yield (id * 131 + i * 17 + c * 7) % 32768 - 16384).sum
      assert(f.feature(3).toLong == expect, s"sample sum for $id")
    }
  }

  test("WavCodec: extractFrame cuts one frame") {
    val media = Multimodal.attachWavPayload(
      Seq(9L).toDF("id"), "id", lit(16000), lit(2), lit(40))
    val payload = media.collect().head.getAs[Array[Byte]]("payload")
    val frame = Multimodal.WavCodec.extractFrame("audio/wav", payload, 7)
    val f = Multimodal.WavCodec.decode(9L, "audio/wav", frame)
    assert(f.n_frames == 1 && f.height == 2, "one stereo frame")
    intercept[IllegalArgumentException] {
      Multimodal.WavCodec.extractFrame("audio/wav", payload, 40)
    }
    intercept[IllegalArgumentException] {
      Multimodal.WavCodec.decode(9L, "video/mp4", payload)
    }
  }

  test("AviCodec: generated AVIs are real RIFF containers with decodable JPEG frames") {
    val docs = Seq(5L, 14L, 27L).toDF("id")
    val media = Multimodal.attachAviPayload(docs, "id",
      wCol = $"id" % 13 + 1, hCol = $"id" % 7 + 1, framesCol = $"id" % 6 + 2)
    media.collect().foreach { r =>
      val p = r.getAs[Array[Byte]]("payload")
      assert(p.take(4).toSeq == "RIFF".getBytes.toSeq &&
        p.slice(8, 12).toSeq == "AVI ".getBytes.toSeq,
        "payload must carry the RIFF/AVI signature")
    }
    val feats = Multimodal.decodeFeatures(spark, media, Multimodal.AviCodec)
      .collect().map(f => f.media_id -> ((f.width, f.height, f.n_frames))).toMap
    for (id <- Seq(5L, 14L, 27L))
      assert(feats(id) ==
        (((id % 13 + 1).toInt, (id % 7 + 1).toInt, (id % 6 + 2).toInt)),
        s"decoded container properties for $id: ${feats(id)}")
  }

  test("AviCodec: extractFrame yields a real JPEG") {
    val media = Multimodal.attachAviPayload(
      Seq(9L).toDF("id"), "id", lit(8), lit(6), lit(4))
    val payload = media.collect().head.getAs[Array[Byte]]("payload")
    // each frame is a genuine JPEG the still-image codec can decode
    for (f <- 0 until 4) {
      val jpeg = Multimodal.AviCodec.extractFrame("video/avi", payload, f)
      assert(jpeg.take(2).toSeq == Seq(0xff.toByte, 0xd8.toByte), "JPEG SOI marker")
      val still = Multimodal.ImageIoCodec.decode(9L, "image/jpeg", jpeg)
      assert((still.width, still.height) == ((8, 6)), s"frame $f dims")
    }
    intercept[IllegalArgumentException] {
      Multimodal.AviCodec.extractFrame("video/avi", payload, 4)
    }
    intercept[IllegalArgumentException] {
      Multimodal.AviCodec.decode(9L, "audio/wav", payload)
    }
  }

  test("sampleFrames: the real video codec fans out real frames through the seam") {
    val media = Multimodal.attachAviPayload(
      Seq(3L).toDF("id"), "id", lit(5), lit(4), lit(7))
    val frames = Multimodal.sampleFrames(media, stride = 2, Multimodal.AviCodec)
      .collect().sortBy(_.frame_idx)
    assert(frames.map(_.frame_idx).toSeq == Seq(0, 2, 4, 6))
    frames.foreach { f =>
      val still = Multimodal.ImageIoCodec.decode(3L, "image/jpeg", f.frame_payload)
      assert((still.width, still.height) == ((5, 4)))
    }
  }

  test("sampleFrames: video fans out to bounded per-frame rows") {
    val vid = Multimodal.attachPayload(
      Seq((1L, "x" * 100)).toDF("id", "txt"), "id", "txt", "video/mp4")
    val nFrames = Multimodal.decodeFeatures(spark, vid).collect().head.n_frames
    val stride = 10
    val frames = Multimodal.sampleFrames(vid, stride).collect().sortBy(_.frame_idx)
    assert(frames.length == (nFrames + stride - 1) / stride,
      s"expected ceil($nFrames/$stride) frames, got ${frames.length}")
    assert(frames.map(_.frame_idx).toSeq == (0 until nFrames by stride).toSeq)
    assert(frames.forall(_.frame_payload.nonEmpty))
    val again = Multimodal.sampleFrames(vid, stride).collect().sortBy(_.frame_idx)
    assert(frames.map(_.frame_payload.toSeq).toSeq == again.map(_.frame_payload.toSeq).toSeq,
      "frame extraction must be deterministic")
  }

  // ------------------------------------------------- perceptual dedup

  /** Independent recompute of the 56-bit dHash straight from the PNG
    * generator's pixel formula — never touches the operator's code path.
    */
  private def expectedDhash(id: Long, w: Int, h: Int): Long = {
    val grid = Array.ofDim[Long](8, 8)
    val (bw, bh) = (w / 8, h / 8)
    for (gy <- 0 until 8; gx <- 0 until 8) {
      var sum = 0L
      for (y <- gy * bh until (gy + 1) * bh; x <- gx * bw until (gx + 1) * bw) {
        val v = (id * 131 + x * 31 + y * 17) & 0xff
        sum += (299L * v + 587L * ((v * 7) & 0xff) + 114L * ((v * 13) & 0xff)) / 1000L
      }
      grid(gy)(gx) = sum / (bw * bh)
    }
    var hash = 0L
    for (r <- 0 until 8; c <- 0 until 7)
      if (grid(r)(c) < grid(r)(c + 1)) hash |= 1L << (r * 7 + c)
    hash
  }

  test("dhash56: decode of the real PNG reproduces the formula-level hash") {
    val ids = Seq(0L, 7L, 123L, 300L)
    val media = Multimodal.attachPngPayload(ids.toDF("id"), "id", lit(16), lit(16))
    val got = Multimodal.dhash56(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    ids.foreach { id =>
      assert(got(id) == expectedDhash(id, 16, 16),
        s"id $id: got ${got(id).toBinaryString}")
    }
    assert(got.values.forall(h => (h >> 56) == 0L), "56-bit hash, top 8 bits clear")
  }

  test("dhash56: identical pixel patterns collide, dims must be multiples of 8") {
    // v = (id*131 + ...) & 255 and 131 is odd: ids 256 apart render the
    // SAME image -> same hash; nearby ids differ
    val media = Multimodal.attachPngPayload(
      Seq(3L, 259L, 4L).toDF("id"), "id", lit(16), lit(16))
    val h = Multimodal.dhash56(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(3L) == h(259L), "ids 256 apart share the pixel pattern")
    assert(h(3L) != h(4L), "adjacent ids must differ")
    val bad = Multimodal.attachPngPayload(Seq(1L).toDF("id"), "id", lit(12), lit(12))
    intercept[org.apache.spark.SparkException] {
      Multimodal.dhash56(bad).collect()
    }
  }

  test("sceneChanges: cuts flagged exactly where the frame seed jumps; steady shots silent") {
    // 2 media x 9 frames; scene seed jumps at f = 3 and 6 (f div 3)
    val frames = Seq(5L, 9L).toDF("m")
      .select(col("m"), explode(sequence(lit(0), lit(8))).as("f"))
      .withColumn("seed", col("m") * 1000L + expr("f div 3"))
    val payloads = Multimodal.attachPngPayload(
      frames.select("seed").distinct(), "seed", lit(16), lit(16))
    val fp = frames.join(payloads.withColumnRenamed("media_id", "seed"), Seq("seed"))
      .select(col("m").as("media_id"), col("f").cast("long").as("frame_idx"),
        col("payload"))
    val hashes = Multimodal.frameDhashes(fp)
    val cuts = Multimodal.sceneChanges(hashes, threshold = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cuts == Set((5L, 3L), (5L, 6L), (9L, 3L), (9L, 6L)),
      s"cuts must sit exactly at the seed jumps: $cuts")
    // a high threshold suppresses everything; guard fires
    assert(Multimodal.sceneChanges(hashes, threshold = 56).count() == 0)
    intercept[IllegalArgumentException] {
      Multimodal.sceneChanges(hashes, threshold = -1)
    }
  }

  test("dhashNearDupPairs: exact clones pair at hamming 0 through the band kernel") {
    val media = Multimodal.attachPngPayload(
      Seq(3L, 259L, 515L, 40L).toDF("id"), "id", lit(16), lit(16))
    val pairs = Multimodal.dhashNearDupPairs(media, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // 3, 259, 515 are clones (256 apart) -> all three pairs at hamming 0
    assert(pairs.filter(_._3 == 0).map(p => (p._1, p._2)) ==
      Set((3L, 259L), (3L, 515L), (259L, 515L)), s"got $pairs")
  }

  test("incrementalHammingPairs: batch-touching pairs only, equals full minus store-internal") {
    val ids = Seq(3L, 259L, 515L, 40L, 296L) // 3~259~515 clones; 40~296 clones
    val media = Multimodal.attachPngPayload(ids.toDF("id"), "id", lit(16), lit(16))
    val hashes = Multimodal.dhash56(media).persist()
    hashes.count()
    // store = {3, 259, 40}; batch = {515, 296}
    val store = hashes.where($"media_id".isin(3L, 259L, 40L))
    val batch = hashes.where($"media_id".isin(515L, 296L))
    val inc = SimHashDedup.incrementalHammingPairs(store, batch,
        "media_id", "dhash", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = SimHashDedup.hammingPairs(hashes, "media_id", "dhash",
        maxHamming = 3, maxBucketSize = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val storeInternal = full.filter { case (a, b) =>
      Set(3L, 259L, 40L)(a) && Set(3L, 259L, 40L)(b) }
    assert(inc == full -- storeInternal,
      s"incremental must equal full minus store-internal: $inc vs ${full -- storeInternal}")
    assert(inc.contains((3L, 515L)) && inc.contains((40L, 296L)),
      "store-batch clone pairs must emit")
    assert(!inc.contains((3L, 259L)), "store-internal pair must not re-emit")
    hashes.unpersist()
  }

  test("audioFingerprint56: decode of the real WAV reproduces the formula-level hash") {
    // independent recompute from the generator's sample formula
    def expectedAhash(id: Long, frames: Int): Long = {
      val segLen = frames / 57
      val means = (0 until 57).map { s =>
        (s * segLen until (s + 1) * segLen)
          .map(f => (id * 131 + f * 17) % 32768 - 16384).sum / segLen
      }
      (0 until 56).foldLeft(0L)((h, i) =>
        if (means(i) < means(i + 1)) h | (1L << i) else h)
    }
    val ids = Seq(0L, 150L, 321L, 499L)
    val media = Multimodal.attachWavPayload(
      ids.toDF("id"), "id", lit(8000), lit(1), lit(570))
    val got = Multimodal.audioFingerprint56(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    ids.foreach { id =>
      assert(got(id) == expectedAhash(id, 570), s"id $id mismatch")
    }
    assert(got.values.forall(h => (h >> 56) == 0L), "56-bit hash")
    // stereo payloads fingerprint channel 0 only: adding a second channel
    // with different content must not change the hash
    val stereo = Multimodal.attachWavPayload(
      Seq(321L).toDF("id"), "id", lit(8000), lit(2), lit(570))
    val hs = Multimodal.audioFingerprint56(stereo).collect().head.getLong(1)
    assert(hs == expectedAhash(321L, 570), "channel-0-only pooling")
    // frame count not divisible by 57 is rejected
    val bad = Multimodal.attachWavPayload(
      Seq(1L).toDF("id"), "id", lit(8000), lit(1), lit(100))
    intercept[org.apache.spark.SparkException] {
      Multimodal.audioFingerprint56(bad).collect()
    }
  }
}
