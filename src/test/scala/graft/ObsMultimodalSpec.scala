package graft

import org.apache.spark.sql.functions._
import graft.ops.{Multimodal, Observability}

class ObsMultimodalSpec extends SparkSpec {

  test("span emits start/end with duration and correlation id") {
    val log = new Observability.BufferingLogStream
    val r = Observability.labelled(spark, "run-42")(Observability.span(spark, log,
      "consensus", Map("sources" -> "2"), now = () => "T")(1 + 1))
    assert(r == 2)
    val events = log.events.toList
    assert(events.map(_.event) == List("span_start", "span_end"))
    assert(events.forall(_.correlationId == "run-42"))
    assert(Observability.correlationId(spark) == "n/a") // restored after
    assert(events.last.attrs("status") == "ok")
    assert(events.last.attrs.contains("duration_ms"))
  }

  test("span error path records sanitized error context") {
    val log = new Observability.BufferingLogStream
    intercept[ParseError] {
      Observability.span(spark, log, "parse") {
        throw new ParseError("bad", Map("api_token" -> "super-secret-token", "url" -> "https://x.cl"))
      }
    }
    val end = log.events.last
    assert(end.attrs("status") == "error")
    assert(end.attrs("error_code") == "PARSE_ERROR")
    assert(end.attrs("api_token") == "supe…en") // redacted
    assert(end.attrs("url") == "https://x.cl")  // allow-listed
  }

  test("sanitize projection redacts sensitive fields, recursing structs") {
    import spark.implicits._
    val df = Seq(("https://x.cl", "tok-1234567890", ("inner-secret-value", "keep")))
      .toDF("source_url", "api_token", "nested")
      .withColumn("nested", struct(
        col("nested._1").as("client_secret"), col("nested._2").as("note")))
    val got = Observability.sanitize(df).collect().head
    assert(got.getString(0) == "https://x.cl")          // allow-listed
    assert(got.getString(1) == "tok-…90")               // redacted
    val nested = got.getStruct(2)
    assert(nested.getString(0) == "inne…ue")            // nested redacted
    assert(nested.getString(1) == "keep")
  }

  test("multimodal: batched feature extraction is deterministic and null-safe") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf("sf0.001")).limit(50)
    val media = Multimodal.syntheticMedia(spark, docs)
    val codec = new Multimodal.StubCodec(dim = 8)
    val f1 = Multimodal.extractFeatures(media, codec, partitions = 4).collect()
      .sortBy(_.media_id)
    val f2 = Multimodal.extractFeatures(media, codec, partitions = 2).collect()
      .sortBy(_.media_id)
    assert(f1.length == 50)
    assert(f1.forall(_.ok))
    assert(f1.forall(_.features.length == 8))
    // partition-count independent (cluster-size invariance)
    assert(f1.map(_.features.toSeq).toSeq == f2.map(_.features.toSeq).toSeq)

    val empty = Multimodal.MediaRow(99L, "image", Array.empty,
      Multimodal.MediaMeta("png", 1, 1, 0))
    val bad = Multimodal.extractFeatures(
      spark.createDataset(Seq(empty)), codec).collect().head
    assert(!bad.ok && bad.features.isEmpty)
  }

  test("multimodal: frame sampling explodes audio frames, single image frame") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf("sf0.001")).limit(10)
    val media = Multimodal.syntheticMedia(spark, docs)
    val frames = Multimodal.sampleFrames(media, new Multimodal.StubCodec())
    val byKind = frames.groupBy("kind").agg(count(lit(1)).as("n"),
        countDistinct(col("media_id")).as("docs")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byKind("image")._1 == byKind("image")._2) // 1 frame per image
    // audio frames are ragged: max(1, id % 6) per doc
    val audioIds = docs.collect().map(_.getLong(0)).filter(_ % 2 == 1)
    val expectedAudio = audioIds.map(id => math.max(1, id % 6)).sum
    assert(byKind("audio")._1 == expectedAudio)
  }

  test("multimodal: resize rewrites bytes+meta in place, schema unchanged") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf("sf0.001")).limit(10)
    val media = Multimodal.syntheticMedia(spark, docs)
    val resized = Multimodal.resizeAll(media, new Multimodal.StubCodec(), w = 4, h = 3)
    assert(resized.schema == media.schema, "resize must map media → media")
    val rows = resized.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.bytes.length == 12, s"media ${r.media_id}: ${r.bytes.length} bytes")
      assert(r.meta.width == 4 && r.meta.height == 3)
      assert(r.meta.format == (if (r.media_id % 2 == 0) "png" else "wav"))
    }
    // deterministic: same input → same bytes on a second run
    val again = Multimodal.resizeAll(media, new Multimodal.StubCodec(), w = 4, h = 3)
      .collect().map(r => r.media_id -> r.bytes.toSeq).toMap
    rows.foreach(r => assert(again(r.media_id) == r.bytes.toSeq))
  }

  // ---- real javax.imageio decode path (ImageIoCodec) ----

  /** Deterministic tiny PNG: a smooth two-axis gradient (resize-stable,
    * so a scaled re-encode phash-matches), inverted for odd seeds and
    * phase-shifted by seed — structurally different images for different
    * (seed % 2, seed / 2) and bit-identical bytes for equal seeds. */
  private def makePng(w: Int, h: Int, seed: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val g = (x * 255 / w + y * 128 / h + (seed / 2) * 31) % 256
      val v = if (seed % 2 == 0) g else 255 - g
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private def mediaOf(rows: Seq[(Long, Array[Byte])]) = {
    import spark.implicits._
    spark.createDataset(rows.map { case (id, b) =>
      Multimodal.MediaRow(id, "image", b, Multimodal.MediaMeta("png", 0, 0, 0L)) })
  }

  test("ImageIoCodec really decodes PNGs: features ok, garbage flagged, " +
      "partition-count invariant") {
    val rows = (0L until 20L).map(i => i -> makePng(16, 16, i.toInt)) :+
      (99L -> "this is not an image".getBytes("UTF-8"))
    val codec = new Multimodal.ImageIoCodec()
    val f1 = Multimodal.extractFeatures(mediaOf(rows), codec, partitions = 4)
      .collect().sortBy(_.media_id)
    val f2 = Multimodal.extractFeatures(mediaOf(rows), codec, partitions = 1)
      .collect().sortBy(_.media_id)
    assert(f1.count(_.ok) == 20 && !f1.find(_.media_id == 99L).get.ok)
    f1.filter(_.ok).foreach { f =>
      assert(f.features.length == 16)
      assert(math.abs(f.features.sum - 1f) < 1e-5, "histogram must normalize")
    }
    assert(f1.map(_.features.toSeq).toSeq == f2.map(_.features.toSeq).toSeq)
  }

  test("ImageIoCodec resize re-encodes a real PNG at the target size") {
    val codec = new Multimodal.ImageIoCodec()
    val resized = Multimodal.resizeAll(
      mediaOf(Seq(1L -> makePng(32, 24, 3))), codec, w = 8, h = 8).collect().head
    assert(resized.meta.width == 8 && resized.meta.height == 8)
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(resized.bytes))
    assert(back != null && back.getWidth == 8 && back.getHeight == 8,
      "resize output must itself be a decodable image")
    // undecodable blobs pass through unchanged, never error the partition
    val junk = Multimodal.resizeAll(
      mediaOf(Seq(2L -> "junk".getBytes)), codec, 8, 8).collect().head
    assert(junk.bytes.toSeq == "junk".getBytes.toSeq)
  }

  test("ImageIoCodec phash: identical bytes hamming 0, resized+re-encoded " +
      "copy near, distinct image far, garbage dropped") {
    val codec = new Multimodal.ImageIoCodec()
    val base = makePng(32, 32, 1)
    // a resized (48×48) re-encode of the same image — the classic
    // near-dup a byte-hash can never catch
    val resized = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(base))
      val c = new Multimodal.ImageIoCodec()
      c.resize("image", base, Multimodal.MediaMeta("png", 32, 32, 0), 48, 48).get._1
    }
    val other = makePng(32, 32, 2) // opposite gradient family — far in phash
    val media = mediaOf(Seq(1L -> base, 2L -> base.clone(), 3L -> resized,
      4L -> other, 5L -> "garbage not an image".getBytes))
    val hashes = Multimodal.perceptualHash(media, codec)
    val hs = hashes.collect().map(r => r.getLong(0) -> r.getAs[Long]("phash")).toMap
    assert(!hs.contains(5L), "undecodable media must drop out of the hash frame")
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(hs(a) ^ hs(b))
    assert(ham(1L, 2L) == 0, "identical bytes must collide exactly")
    assert(ham(1L, 3L) <= 4, s"resized re-encode too far: ${ham(1L, 3L)}")
    assert(ham(1L, 4L) > 8, s"distinct images too close: ${ham(1L, 4L)}")
    // and the pigeonhole join finds the real-decode near-dups
    val pairs = Multimodal.phashPairs(hashes, r = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)))
    assert(!pairs.contains((1L, 4L)))
  }

  test("multimodal: phash pigeonhole join equals brute force at r=1") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val media = Multimodal.syntheticMedia(spark, docs)
    val hashes = Multimodal.perceptualHash(media, new Multimodal.StubCodec())
    val hs = hashes.collect()
      .map(r => r.getAs[Long]("media_id") -> r.getAs[Long]("phash"))
    // brute-force truth over all pairs
    val truth = (for {
      (a, ha) <- hs; (b, hb) <- hs if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 1
    } yield (a, b, d.toLong)).toSet
    val got = Multimodal.phashPairs(hashes).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == truth)
    assert(truth.nonEmpty, "fixture should produce at least one near pair")
    // identical bytes ⇒ hamming 0 (doc paired with itself duplicated)
    val dup = Multimodal.syntheticMedia(spark,
      docs.limit(1).select(col("doc_id") + 1000, col("text"), col("lang"),
        col("source"), col("n_chars"))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .union(docs.limit(1)))
    val dupPairs = Multimodal.phashPairs(
      Multimodal.perceptualHash(dup, new Multimodal.StubCodec())).collect()
    assert(dupPairs.exists(_.getLong(2) == 0L))
  }

  // ---- real javax.sound.sampled decode path (AudioPcmCodec) ----

  /** Deterministic 16-bit test waveform — 16-sample loud/quiet stripes
    * (block energies sit FAR from the corpus mean, so the mean-threshold
    * phash bits are decisive — a flat wave would put half the blocks at
    * the mean and flip bits under any perturbation), stripe phase and
    * jitter vary by seed: distinct seeds are far in phash space. */
  private def testWave(seed: Int, n: Int = 256): Array[Int] =
    Array.tabulate(n) { i =>
      val loud = ((i / 16) + seed) % 2 == 0
      val base = if (loud) 4000 else 500
      val jitter = ((i * 37 + seed * 101) % 201) - 100
      (base + jitter) * (if (i % 2 == 0) 1 else -1)
    }

  /** Encode samples as a genuine 16-bit LE PCM mono WAV blob. */
  private def wavOf(samples: Array[Int], rate: Float = 8000f): Array[Byte] = {
    val pcm = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (v, i) =>
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
    }
    encode(pcm, new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false),
      samples.length, javax.sound.sampled.AudioFileFormat.Type.WAVE)
  }

  /** Same samples as a big-endian 16-bit AIFF — exercises endianness. */
  private def aiffOf(samples: Array[Int], rate: Float = 8000f): Array[Byte] = {
    val pcm = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (v, i) =>
      pcm(2 * i) = ((v >> 8) & 0xff).toByte
      pcm(2 * i + 1) = (v & 0xff).toByte
    }
    encode(pcm, new javax.sound.sampled.AudioFormat(rate, 16, 1, true, true),
      samples.length, javax.sound.sampled.AudioFileFormat.Type.AIFF)
  }

  private def encode(pcm: Array[Byte], fmt: javax.sound.sampled.AudioFormat,
      frames: Int, typ: javax.sound.sampled.AudioFileFormat.Type): Array[Byte] = {
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais, typ, bos)
    bos.toByteArray
  }

  private def audioMediaOf(rows: Seq[(Long, Array[Byte])]) = {
    import spark.implicits._
    spark.createDataset(rows.map { case (id, b) =>
      Multimodal.MediaRow(id, "audio", b, Multimodal.MediaMeta("wav", 0, 0, 0L)) })
  }

  test("AudioPcmCodec really decodes WAV: block energies exact, garbage " +
      "flagged, partition-count invariant") {
    val rows = (0L until 12L).map(i => i -> wavOf(testWave(i.toInt))) :+
      (99L -> "this is not audio".getBytes("UTF-8"))
    val codec = new Multimodal.AudioPcmCodec(8)
    val f1 = Multimodal.extractFeatures(audioMediaOf(rows), codec, partitions = 4)
      .collect().sortBy(_.media_id)
    val f2 = Multimodal.extractFeatures(audioMediaOf(rows), codec, partitions = 1)
      .collect().sortBy(_.media_id)
    assert(f1.count(_.ok) == 12 && !f1.find(_.media_id == 99L).get.ok)
    // exact arithmetic: block j = integer mean of |sample| over [32j, 32j+32)
    val expect0 = (0 until 8).map { j =>
      (testWave(0).slice(j * 32, (j + 1) * 32)
        .map(v => math.abs(v.toLong)).sum / 32).toFloat
    }
    assert(f1.find(_.media_id == 0L).get.features.toSeq == expect0)
    assert(f1.map(_.features.toSeq).toSeq == f2.map(_.features.toSeq).toSeq)
  }

  test("AudioPcmCodec format matrix: big-endian AIFF and 8-bit unsigned " +
      "WAV decode consistently with 16-bit LE WAV") {
    val s16 = testWave(3)
    val codec = new Multimodal.AudioPcmCodec(8)
    val meta = Multimodal.MediaMeta("wav", 0, 0, 0L)
    val fWav = codec.features("audio", wavOf(s16), meta).get.toSeq
    assert(codec.features("audio", aiffOf(s16), meta).get.toSeq == fWav,
      "AIFF (big-endian) must decode to the same waveform")
    // 8-bit unsigned: the top byte survives — expect energies of the
    // byte-quantized waveform ((v >> 8) << 8), computed independently
    val q = s16.map(v => (((v >> 8) + 128) & 0xff).toByte)
    val wav8 = encode(q,
      new javax.sound.sampled.AudioFormat(8000f, 8, 1, false, false),
      q.length, javax.sound.sampled.AudioFileFormat.Type.WAVE)
    val f8 = codec.features("audio", wav8, meta).get.toSeq
    val expect8 = (0 until 8).map { j =>
      (s16.slice(j * 32, (j + 1) * 32)
        .map(v => math.abs((v >> 8).toLong << 8)).sum / 32).toFloat
    }
    assert(f8 == expect8)
  }

  test("AudioPcmCodec resize resamples to the target count and re-encodes " +
      "a decodable WAV; junk passes through resizeAll") {
    val codec = new Multimodal.AudioPcmCodec()
    val resized = Multimodal.resizeAll(
      audioMediaOf(Seq(1L -> wavOf(testWave(5)))), codec, w = 4, h = 3)
      .collect().head
    assert(resized.meta.format == "wav")
    val back = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(resized.bytes))
    assert(back.getFrameLength == 12L,
      "resize output must itself be a decodable 12-sample WAV")
    back.close()
    val junk = Multimodal.resizeAll(
      audioMediaOf(Seq(2L -> "junk".getBytes)), codec, 4, 3).collect().head
    assert(junk.bytes.toSeq == "junk".getBytes.toSeq)
  }

  test("AudioPcmCodec phash: identical bytes collide, distinct audio far, " +
      "garbage dropped; pigeonhole join finds the dup") {
    val codec = new Multimodal.AudioPcmCodec()
    val base = wavOf(testWave(1))
    // slightly louder copy (uniform ~1.6% gain): block energies scale
    // together, so bits-vs-mean barely move — near in phash space
    // (a DC offset would NOT be near: |v| shifts asymmetrically)
    val near = wavOf(testWave(1).map(v => v * 65 / 64))
    val other = wavOf(testWave(2))
    val media = audioMediaOf(Seq(1L -> base, 2L -> base.clone(),
      3L -> near, 4L -> other, 5L -> "garbage not audio".getBytes))
    val hashes = Multimodal.perceptualHash(media, codec)
    val hs = hashes.collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("phash")).toMap
    assert(!hs.contains(5L), "undecodable media must drop out of the hash frame")
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(hs(a) ^ hs(b))
    assert(ham(1L, 2L) == 0, "identical bytes must collide exactly")
    assert(ham(1L, 3L) <= 8, s"offset copy too far: ${ham(1L, 3L)}")
    assert(ham(1L, 4L) > 8, s"distinct audio too close: ${ham(1L, 4L)}")
    val pairs = Multimodal.phashPairs(hashes, r = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)))
    assert(!pairs.contains((1L, 4L)))
  }

  test("syntheticWavMedia: genuine RIFF blobs whose decode replays the " +
      "text arithmetic; empty text is silence, not a drop") {
    import spark.implicits._
    val docs = Seq((1L, "hello wav world"), (2L, "")).toDF("doc_id", "text")
    val media = Multimodal.syntheticWavMedia(spark, docs).collect()
      .sortBy(_.media_id)
    assert(media.forall(m =>
      new String(m.bytes.take(4), "US-ASCII") == "RIFF"))
    val codec = new Multimodal.AudioPcmCodec(8)
    val meta = Multimodal.MediaMeta("wav", 0, 0, 0L)
    val f1 = codec.features("audio", media(0).bytes, meta).get.toSeq
    val b = "hello wav world".getBytes("UTF-8")
    val expect = (0 until 8).map { j =>
      ((j * 32 until (j + 1) * 32)
        .map(i => math.abs(((b(i % b.length) & 0xff) - 128).toLong * 256))
        .sum / 32).toFloat
    }
    assert(f1 == expect, "WAV roundtrip must be lossless on the samples")
    val f2 = codec.features("audio", media(1).bytes, meta).get.toSeq
    assert(f2 == Seq.fill(8)(0f), "empty text ⇒ silence ⇒ zero energies")
  }

  test("syntheticGifMedia: genuine multi-frame GIFs whose frame iteration " +
      "replays the text arithmetic; frame count is the DECODED count") {
    import spark.implicits._
    val docs = Seq((1L, "animated gif frames"), (2L, ""), (3L, "x"))
      .toDF("doc_id", "text")
    val media = Multimodal.syntheticGifMedia(spark, docs).collect()
      .sortBy(_.media_id)
    assert(media.forall(m =>
      new String(m.bytes.take(3), "US-ASCII") == "GIF"))
    val codec = new Multimodal.ImageIoCodec()
    // doc 1: 2 frames (1 + 1%4), pixel p of frame f = byte((f*64+p) % len);
    // frame mean = floor(sum/64) — BT.601 identity on gray, box 1x1
    val b = "animated gif frames".getBytes("UTF-8")
    def expectLuma(f: Int) =
      (0 until 64).map(p => (b((f * 64 + p) % b.length) & 0xff).toLong).sum / 64
    val l1 = codec.frameLumas("video", media(0).bytes, media(0).meta).get
    assert(l1.length == 2, "decoded frame count must be 1 + (1 % 4) = 2")
    assert(l1.toSeq == Seq(expectLuma(0), expectLuma(1)).map(_.toInt),
      "GIF palette roundtrip must be lossless on the gray values")
    // doc 2: 3 frames of black (empty text)
    val l2 = codec.frameLumas("video", media(1).bytes, media(1).meta).get
    assert(l2.toSeq == Seq(0, 0, 0))
    // doc 3: 4 frames, every pixel = 'x'
    val l3 = codec.frameLumas("video", media(2).bytes, media(2).meta).get
    assert(l3.toSeq == Seq.fill(4)('x'.toInt))
    // garbage is data: dropped, not thrown
    assert(codec.frameLumas("video", "GIF89a-not-really".getBytes, media(0).meta).isEmpty)
    assert(codec.frameLumas("video", Array.emptyByteArray, media(0).meta).isEmpty)
    // non-GIF bytes fall back to the single-frame default (PNG decodes)
    val png = Multimodal.syntheticPngMedia(spark,
      Seq((9L, "png fallback")).toDF("doc_id", "text")).collect().head
    val lp = codec.frameLumas("image", png.bytes, png.meta).get
    assert(lp.length == 1)
  }

  test("sampleFrameLuma: decoded frame explosion with stride filter; " +
      "partition-count invariant") {
    import spark.implicits._
    val docs = (1L to 7L).map(i => (i, s"doc number $i with some text"))
      .toDF("doc_id", "text")
    val media = Multimodal.syntheticGifMedia(spark, docs)
    val out = Multimodal.sampleFrameLuma(media,
        new Multimodal.ImageIoCodec(), everyNth = 2)
      .orderBy("media_id", "frame_idx").collect()
    // every kept frame index is even and < its decoded n_frames
    assert(out.nonEmpty)
    assert(out.forall(r => r.getAs[Int]("frame_idx") % 2 == 0))
    assert(out.forall(r =>
      r.getAs[Int]("frame_idx") < r.getAs[Int]("n_frames")))
    // id i has 1 + (i % 4) decoded frames
    val byId = out.groupBy(_.getAs[Long]("media_id"))
    assert(byId.forall { case (id, rs) =>
      rs.head.getAs[Int]("n_frames") == 1 + (id % 4).toInt })
    val repart = Multimodal.sampleFrameLuma(media.repartition(5),
        new Multimodal.ImageIoCodec(), everyNth = 2)
      .orderBy("media_id", "frame_idx").collect()
    assert(out.map(_.toSeq).toSeq == repart.map(_.toSeq).toSeq)
  }

  test("AudioSpi provider cache: MIDI synth excluded, WAVE ordered first, " +
      "cached read decodes what AudioSystem decodes") {
    // the r11 contention fix rests on these three properties — pin them
    // so a JDK provider-list change resurfaces loudly, not as a silent
    // 9x slowdown (the MIDI synth's per-blob probe re-ran a synchronized
    // registry lookup and serialized every executor thread; SCALE.md r11)
    val names = Multimodal.AudioSpi.readers.map(_.getClass.getName.toLowerCase)
    assert(names.nonEmpty, "JDK must provide sampled-audio readers")
    assert(!names.exists(_.contains("midi")), s"synth must be excluded: $names")
    assert(names.head.contains("wave"), s"WAVE first: $names")
    val blob = {
      import spark.implicits._
      Multimodal.syntheticWavMedia(spark,
        Seq((1L, "cached reader parity")).toDF("doc_id", "text"))
        .collect().head.bytes
    }
    val a = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(blob)).readAllBytes().toSeq
    val b = Multimodal.AudioSpi.read(blob).readAllBytes().toSeq
    assert(a == b, "cached provider must hand back the same PCM bytes")
  }

  test("ImageMem: memory-backed read survives ImageIO's self-closing " +
      "stream; write bytes identical to the OutputStream entry point") {
    // ImageIO.read(ImageInputStream) closes the stream ITSELF — the
    // first cut double-closed and turned every successful decode into
    // None (3 tests red). Pin the roundtrip at the helper level too.
    val img = new java.awt.image.BufferedImage(7, 5,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 5; x <- 0 until 7)
      img.setRGB(x, y, (x * 40 + y) << 8)
    val viaStream = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos); bos.toByteArray
    }
    val viaMem = {
      val bos = new java.io.ByteArrayOutputStream()
      assert(Multimodal.ImageMem.writePng(img, bos)); bos.toByteArray
    }
    assert(viaStream.toSeq == viaMem.toSeq,
      "memory-backed writer must emit byte-identical PNGs")
    val back = Multimodal.ImageMem.read(viaMem)
    assert(back != null && back.getWidth == 7 && back.getHeight == 5)
    assert((0 until 5).forall(y => (0 until 7).forall(x =>
      (back.getRGB(x, y) & 0xffffff) == ((x * 40 + y) << 8))),
      "PNG roundtrip through memory streams is lossless")
  }
}
