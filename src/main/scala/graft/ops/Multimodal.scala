package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing for training-data pipelines.
  *
  * Media ride through the engine as opaque `binary` columns with typed
  * metadata; decode/feature-extract runs batched inside `mapPartitions`
  * (one codec instance per partition, amortized init — the Scala analog
  * of a batched pandas UDF). Codecs sit behind [[MediaCodec]]:
  * [[ImageIoCodec]] is a REAL image decoder on the JDK's built-in
  * `javax.imageio` (PNG/JPEG/BMP/GIF — no external dependency);
  * [[StubCodec]] is the deterministic fake for media the JDK cannot
  * decode (audio/video — no codec libraries in this container) and for
  * oracle-replayable synthetic fixtures. The Spark-side plumbing
  * (schema, partitioning, batch shape, null-safety) is identical either
  * way, so a JNI/JavaCV audio/video codec drops in without touching the
  * plan.
  *
  * Real-codec status: image (`javax.imageio`) and audio
  * (`javax.sound.sampled`) decode are REAL; multi-frame container
  * iteration is REAL via the JDK's animated-GIF reader
  * ([[MediaCodec.frameLumas]] / [[syntheticGifMedia]]); only true video
  * bitstreams (H.264 etc.) remain stubbed — the JDK ships no video
  * codec, and the GIF path exercises the same frame-iteration plumbing
  * a video codec would plug into.
  */
object Multimodal {

  case class MediaMeta(format: String, width: Int, height: Int, durationMs: Long)
  case class MediaRow(media_id: Long, kind: String, bytes: Array[Byte], meta: MediaMeta)
  case class MediaFeatures(media_id: Long, kind: String, ok: Boolean,
      features: Array[Float], frames: Int)

  /** Batched decode/feature-extract boundary. One instance per partition. */
  trait MediaCodec extends Serializable {
    /** Decode + featurize one blob; None = undecodable (kept, flagged). */
    def features(kind: String, bytes: Array[Byte], meta: MediaMeta): Option[Array[Float]]
    /** How many frames/samples the blob yields for frame-level ops. */
    def frameCount(meta: MediaMeta): Int
    /** Re-encode the blob at (w, h); None = undecodable. */
    def resize(kind: String, bytes: Array[Byte], meta: MediaMeta,
        w: Int, h: Int): Option[(Array[Byte], MediaMeta)]
    /** Decode to a w×h grayscale thumbnail — one luminance byte per
      * pixel, row-major — the input [[perceptualHash]] consumes. The
      * default derives it from [[resize]]'s byte payload (correct for
      * codecs whose resize emits raw pixels, like [[StubCodec]]); a real
      * image codec overrides with decode + luminance ([[ImageIoCodec]]). */
    def pixels(kind: String, bytes: Array[Byte], meta: MediaMeta,
        w: Int, h: Int): Option[Array[Byte]] =
      resize(kind, bytes, meta, w, h).map(_._1)
    /** DECODED per-frame mean luminance, one Int per frame — the real
      * frame-iteration seam for multi-frame containers (animated GIF in
      * [[ImageIoCodec]]; a video codec overrides the same method).
      * Default: single-frame media are one frame whose luminance is the
      * 1×1 thumbnail. None = undecodable. */
    def frameLumas(kind: String, bytes: Array[Byte],
        meta: MediaMeta): Option[Array[Int]] =
      pixels(kind, bytes, meta, 1, 1).map(a => Array(a(0) & 0xff))
  }

  /** STUB codec — deterministic fake standing in for a real decoder
    * (no media libraries in this environment). Features are a seeded hash
    * fold of the bytes: stable across runs/partitions/cluster sizes. */
  final class StubCodec(dim: Int = 8) extends MediaCodec {
    def features(kind: String, bytes: Array[Byte], meta: MediaMeta): Option[Array[Float]] = {
      if (bytes == null || bytes.isEmpty) return None
      val out = new Array[Float](dim)
      var h = 1125899906842597L // FNV-ish seed
      var i = 0
      while (i < bytes.length) {
        h = h * 31 + bytes(i); i += 1
        out(i % dim) += (h % 1000) / 1000.0f
      }
      Some(out.map(v => v / bytes.length))
    }
    def frameCount(meta: MediaMeta): Int =
      if (meta.durationMs <= 0) 1 else (meta.durationMs / 1000L).toInt.max(1)
    /** Fake resize: deterministic byte resample to w·h "pixels" (truncate
      * or cycle-pad), meta updated — a real codec re-encodes instead. */
    def resize(kind: String, bytes: Array[Byte], meta: MediaMeta,
        w: Int, h: Int): Option[(Array[Byte], MediaMeta)] = {
      if (bytes == null || bytes.isEmpty) return None
      val out = Array.tabulate(w * h)(i => bytes(i % bytes.length))
      Some((out, meta.copy(width = w, height = h)))
    }
  }

  /** REAL image codec on the JDK's built-in `javax.imageio` readers and
    * writers (PNG/JPEG/BMP/GIF/WBMP — no external dependency, so it runs
    * on any executor JVM as-is). The Spark-side plumbing is identical to
    * [[StubCodec]]'s: one serializable instance per partition inside
    * `mapPartitions`, corrupt blobs are data (`None`), never exceptions.
    *
    * Determinism: scaling is an explicit integer box-average (source
    * pixels partitioned into target cells, channel sums divided once) —
    * NOT `Image.getScaledInstance`, whose toolkit pipeline is
    * asynchronous and implementation-dependent — so identical bytes give
    * identical thumbnails on every JVM, partition, and cluster size.
    * Luminance is integer BT.601 ((299·R + 587·G + 114·B) / 1000). */
  /** Memory-backed ImageIO streams (measured, r11 — SCALE.md "Same
    * disease, image half"):
    * `ImageIO.read(InputStream)` / `write(…, OutputStream)` route
    * through `createImageInput/OutputStream`, which with the default
    * `useCache = true` backs every call with a `FileCacheImage*Stream`
    * — a TEMP FILE created, written, and deleted PER BLOB. Decode
    * measured 65.7 µs/op with the file cache vs 12.1 µs memory-backed,
    * and 32-thread aggregate 62 k vs 482 k op/s (the filesystem, not
    * the PNG parse, was the cost AND the contention). Passing explicit
    * `MemoryCacheImage*Stream`s fixes both withOUT mutating the
    * JVM-global `ImageIO.setUseCache` flag — a library should not
    * reconfigure ImageIO for its host process. Bytes are unchanged:
    * the wrapper only decides where intermediate bits live. */
  private[graft] object ImageMem {
    def read(bytes: Array[Byte]): java.awt.image.BufferedImage = {
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      // ImageIO.read(ImageInputStream) closes the stream itself on exit
      // (unlike most ImageIO entry points), and a second close() throws
      // IOException("closed") — swallow it so the belt-and-braces close
      // for the exception path can't mask a successful decode.
      try javax.imageio.ImageIO.read(iis)
      finally try iis.close() catch { case _: java.io.IOException => () }
    }
    def writePng(img: java.awt.image.RenderedImage,
        out: java.io.OutputStream): Boolean = {
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(out)
      try javax.imageio.ImageIO.write(img, "png", ios) finally ios.close()
    }
  }

  /** Per-JVM cache of the GIF reader/writer SPIs (same rationale as
    * [[AudioSpi]]: resolve the registry once, instantiate per call —
    * ImageIO reader/writer INSTANCES are stateful and must not be
    * shared across threads, but the SPIs are the registry singletons).
    * GIF is the one multi-frame container the JDK ships a codec for —
    * `ImageReader.read(frameIndex)` iterates genuine frames — which is
    * what lets frame-level ops run a REAL decode path without external
    * video libraries. */
  private[graft] object GifSpi {
    import scala.jdk.CollectionConverters._
    lazy val readerSpi: Option[javax.imageio.spi.ImageReaderSpi] =
      javax.imageio.ImageIO.getImageReadersByFormatName("gif").asScala
        .toSeq.headOption.map(_.getOriginatingProvider)
    lazy val writerSpi: Option[javax.imageio.spi.ImageWriterSpi] =
      javax.imageio.ImageIO.getImageWritersByFormatName("gif").asScala
        .toSeq.headOption.map(_.getOriginatingProvider)
  }

  final class ImageIoCodec(featureDim: Int = 16) extends MediaCodec {
    import java.awt.image.BufferedImage

    private def decode(bytes: Array[Byte]): Option[BufferedImage] =
      if (bytes == null || bytes.length < 4) None
      else try Option(ImageMem.read(bytes))
      catch { case _: Exception => None } // corrupt blob = data, not error

    /** Integer box-average scale; `f` folds one source RGB into the cell
      * accumulator triple. Upscale cells sample their top-left source
      * pixel (x1 = x0+1 floor) — still deterministic. */
    private def boxScale(img: BufferedImage, w: Int, h: Int)(
        cell: (Long, Long, Long, Int) => Int): Array[Int] = {
      val sw = img.getWidth; val sh = img.getHeight
      val out = new Array[Int](w * h)
      var ty = 0
      while (ty < h) {
        val y0 = ty * sh / h; val y1 = math.max(y0 + 1, (ty + 1) * sh / h)
        var tx = 0
        while (tx < w) {
          val x0 = tx * sw / w; val x1 = math.max(x0 + 1, (tx + 1) * sw / w)
          var r = 0L; var g = 0L; var b = 0L; var n = 0
          var y = y0
          while (y < y1) {
            var x = x0
            while (x < x1) {
              val rgb = img.getRGB(x, y)
              r += (rgb >> 16) & 0xff; g += (rgb >> 8) & 0xff; b += rgb & 0xff
              n += 1; x += 1
            }
            y += 1
          }
          out(ty * w + tx) = cell(r, g, b, n)
          tx += 1
        }
        ty += 1
      }
      out
    }

    private def grayThumb(img: BufferedImage, w: Int, h: Int): Array[Byte] =
      boxScale(img, w, h)((r, g, b, n) =>
        ((299 * (r / n) + 587 * (g / n) + 114 * (b / n)) / 1000).toInt)
        .map(_.toByte)

    /** Features = normalized luminance histogram of a 16×16 thumbnail —
      * scale/format-invariant enough for near-dup grouping, and cheap. */
    def features(kind: String, bytes: Array[Byte], meta: MediaMeta): Option[Array[Float]] =
      decode(bytes).map { img =>
        val px = grayThumb(img, 16, 16)
        val hist = new Array[Float](featureDim)
        var i = 0
        while (i < px.length) {
          hist(((px(i) & 0xff) * featureDim) / 256) += 1f; i += 1
        }
        hist.map(_ / px.length)
      }

    /** Still images are one frame; timed media fall back to the duration
      * rule (metadata-only — the contract [[sampleFrames]] plans by). */
    def frameCount(meta: MediaMeta): Int =
      if (meta.durationMs <= 0) 1 else (meta.durationMs / 1000L).toInt.max(1)

    /** Real resize: decode → box-average RGB → re-encode PNG (lossless,
      * and the JDK PNG writer is deterministic for a given raster). */
    def resize(kind: String, bytes: Array[Byte], meta: MediaMeta,
        w: Int, h: Int): Option[(Array[Byte], MediaMeta)] =
      decode(bytes).flatMap { img =>
        val scaled = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
        val rgb = boxScale(img, w, h)((r, g, b, n) =>
          (((r / n).toInt & 0xff) << 16) | (((g / n).toInt & 0xff) << 8) |
            ((b / n).toInt & 0xff))
        scaled.setRGB(0, 0, w, h, rgb, 0, w)
        val bos = new java.io.ByteArrayOutputStream()
        if (!ImageMem.writePng(scaled, bos)) None
        else Some((bos.toByteArray, meta.copy(format = "png", width = w, height = h)))
      }

    /** The honest phash path: decode + box-average + luminance. */
    override def pixels(kind: String, bytes: Array[Byte], meta: MediaMeta,
        w: Int, h: Int): Option[Array[Byte]] =
      decode(bytes).map(grayThumb(_, w, h))

    /** REAL frame iteration for multi-frame GIF: open one reader on a
      * memory-backed stream, `getNumImages(allowSearch = true)` for the
      * genuine frame count, `read(i)` per frame, and each frame's mean
      * luminance is the 1×1 [[boxScale]] cell (integer sum / pixel
      * count; BT.601 is the identity on gray). Frames are read as the
      * container STORES them (per-frame rasters), not composited
      * against disposal methods — full-frame animations (every frame a
      * complete raster, the synthetic fixtures and the common
      * training-data case) decode exactly; delta-frame GIFs yield the
      * stored deltas. Non-GIF formats fall back to the single-frame
      * default. Corrupt blobs are data (`None`), never exceptions. */
    override def frameLumas(kind: String, bytes: Array[Byte],
        meta: MediaMeta): Option[Array[Int]] = {
      if (bytes == null || bytes.length < 6) return None
      val isGif = bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F'
      if (!isGif) return super.frameLumas(kind, bytes, meta)
      GifSpi.readerSpi match {
        case None => None // no GIF reader on this JVM — undecodable
        case Some(spi) =>
          val reader = spi.createReaderInstance()
          val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
            new java.io.ByteArrayInputStream(bytes))
          try {
            reader.setInput(iis, false, true)
            val n = reader.getNumImages(true)
            if (n <= 0) None
            else Some(Array.tabulate(n) { i =>
              grayThumb(reader.read(i), 1, 1)(0) & 0xff
            })
          } catch { case _: Exception => None }
          finally {
            reader.dispose()
            try iis.close() catch { case _: java.io.IOException => () }
          }
      }
    }
  }

  /** REAL audio codec on the JDK's built-in `javax.sound.sampled` readers
    * (WAV/AIFF/AU PCM — no external dependency), closing the audio half
    * of the stub exactly the way [[ImageIoCodec]] closed the image half.
    * Video stays stubbed: the JDK ships no video codec.
    *
    * Decode: container → PCM frames → per-frame channel-mean mono sample
    * normalized to the signed 16-bit range (8-bit samples are shifted up
    * by 8; unsigned encodings are re-centered). Only integer PCM
    * (signed/unsigned, 8/16-bit) is accepted — float encodings return
    * `None` rather than introducing a rounding surface. Corrupt blobs
    * are data (`None`), never exceptions.
    *
    * Determinism: every derived value is integer arithmetic — block
    * boundaries use the same integer partition as [[ImageIoCodec]]'s
    * box-average, block energy is `sum(|sample|) / blockLen` (integer
    * division), and the thumbnail byte is that mean shifted down 8 bits
    * — so identical bytes give identical features on every JVM,
    * partition, and cluster size, and a SQL engine can replay the whole
    * chain from synthetic PCM ([[syntheticWavMedia]]). */
  /** Per-JVM cache of the `javax.sound.sampled` SPI providers (measured,
    * r11): `AudioSystem.getAudioInputStream`/`write` re-resolve their
    * providers on EVERY call through a synchronized static registry
    * (JDK 17 `JDK13Services`), which (a) costs ~28 of the ~31 µs per
    * decode and (b) serializes every executor task thread through one
    * global lock — decode throughput measured NEGATIVE-scaling on 32
    * threads (27 k op/s at 1 thread → 17 k aggregate at 32; SCALE.md
    * "Round 11 — the audio queries' hidden global lock"). Resolving the
    * providers ONCE per JVM via the public `ServiceLoader` API and reusing
    * the instances — exactly the singletons AudioSystem itself would hand
    * every thread — removes both. The lazy vals live per executor JVM;
    * provider instances are stateless parsers designed for concurrent use
    * (AudioSystem shares them globally). Falls back to AudioSystem if the
    * service loader sees no providers (exotic classloader layouts). */
  private[graft] object AudioSpi {
    import javax.sound.sampled.{AudioInputStream, AudioSystem}
    import javax.sound.sampled.spi.{AudioFileReader, AudioFileWriter}
    import scala.jdk.CollectionConverters._
    /** Sampled-container readers only, WAVE first. Two measured reasons
      * (jstack'd, r11 — same SCALE.md chapter): (1) the JDK registers
      * `SoftMidiAudioFileReader` — a MIDI-to-PCM SYNTH — as an audio
      * reader, and its probe calls `MidiSystem.getSequence`, which
      * re-runs the synchronized `JDK13Services` MIDI provider lookup
      * (plus jar scanning) on EVERY blob: that lock, not the WAV parse,
      * was ~28 of the ~31 µs per decode and serialized all 32 task
      * threads (negative scaling: 27 k op/s at 1 thread → 13 k at 32).
      * This codec's contract is integer-PCM WAV/AIFF/AU (Scaladoc) —
      * a synth is not a decoder, so it is excluded, not merely
      * deprioritized. (2) WAVE ordered first spares two
      * fillInStackTrace'd probe exceptions per blob on the dominant
      * container. */
    /** Providers from BOTH the system classloader (what AudioSystem's own
      * JDK13Services resolves against — application-classpath SPIs land
      * here) and the interface's loader (platform), deduped by class name
      * in deterministic name order (r11 ADVICE: the old interface-loader-
      * only load silently skipped app-classpath providers AudioSystem
      * would have found). */
    private def loadProviders[T](cls: Class[T]): Vector[T] = {
      def from(cl: ClassLoader) =
        java.util.ServiceLoader.load(cls, cl).iterator().asScala.toVector
      (from(ClassLoader.getSystemClassLoader) ++ from(cls.getClassLoader))
        .groupBy(_.getClass.getName).toVector.sortBy(_._1).map(_._2.head)
    }

    /** Minimal hand-rolled 16-bit mono RIFF/WAVE (8 samples of silence):
      * the init-time BEHAVIOR probe for provider ordering — any real WAV
      * reader accepts it; containers/synths reject it instantly. */
    private lazy val canonicalWav: Array[Byte] = {
      val dataLen = 16
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1).putInt(8000).putInt(16000)
        .putShort(2).putShort(16)
        .put("data".getBytes("US-ASCII")).putInt(dataLen)
      bb.array()
    }

    /** Known synth-not-decoder providers excluded by EXACT class name in
      * addition to the "midi" substring heuristic — substring matching
      * alone is vendor-brittle (r11 ADVICE): a renamed synth would be
      * re-included and re-introduce the per-blob global MIDI lock. The
      * canonical-WAV probe below further demotes anything that does not
      * behave like a WAV reader, so even an unlisted synth only ever gets
      * probed AFTER every real reader rejected the blob. */
    private val excludedReaders =
      Set("com.sun.media.sound.SoftMidiAudioFileReader")

    lazy val readers: Vector[AudioFileReader] = {
      def lcName(r: AudioFileReader) =
        r.getClass.getName.toLowerCase(java.util.Locale.ROOT)
      def acceptsWav(r: AudioFileReader): Boolean =
        try {
          r.getAudioInputStream(
            new java.io.ByteArrayInputStream(canonicalWav)).close(); true
        } catch { case _: Exception => false }
      loadProviders(classOf[AudioFileReader])
        .filterNot(r => excludedReaders.contains(r.getClass.getName))
        .filterNot(r => lcName(r).contains("midi"))
        // behavior first (accepts canonical WAV), name heuristic as the
        // stable tiebreak; probe runs once per JVM at init
        .sortBy(r => (if (acceptsWav(r)) 0 else 1,
          if (lcName(r).contains("wave")) 0 else 1))
    }
    lazy val writers: Vector[AudioFileWriter] =
      loadProviders(classOf[AudioFileWriter])

    /** AudioSystem.getAudioInputStream minus the per-call registry scan:
      * try each cached reader; the SPI contract requires a failing
      * reader to reset the stream (ByteArrayInputStream marks at 0, so
      * the defensive reset is total either way). Throws
      * UnsupportedAudioFileException like the original. */
    def read(bytes: Array[Byte]): AudioInputStream = {
      val in = new java.io.ByteArrayInputStream(bytes)
      if (readers.isEmpty) return AudioSystem.getAudioInputStream(in)
      readers.foreach { r =>
        try return r.getAudioInputStream(in)
        catch {
          case _: javax.sound.sampled.UnsupportedAudioFileException =>
            in.reset()
        }
      }
      throw new javax.sound.sampled.UnsupportedAudioFileException(
        "no cached provider accepts the stream")
    }

    /** AudioSystem.write for WAVE minus the per-call registry scan. */
    def writeWave(ais: AudioInputStream, out: java.io.OutputStream): Unit = {
      val t = javax.sound.sampled.AudioFileFormat.Type.WAVE
      writers.find(_.isFileTypeSupported(t, ais)) match {
        case Some(w) => w.write(ais, t, out)
        case None => AudioSystem.write(ais, t, out)
      }
    }
  }

  final class AudioPcmCodec(featureDim: Int = 8) extends MediaCodec {
    import javax.sound.sampled.{AudioFormat, AudioInputStream}

    /** Mono 16-bit-range samples + sample rate; None = undecodable. */
    private def samples(bytes: Array[Byte]): Option[(Array[Int], Float)] = {
      if (bytes == null || bytes.length < 12) return None
      try {
        val ais = AudioSpi.read(bytes)
        try {
          val fmt = ais.getFormat
          val enc = fmt.getEncoding
          val bits = fmt.getSampleSizeInBits
          val ch = fmt.getChannels
          if ((enc != AudioFormat.Encoding.PCM_SIGNED &&
               enc != AudioFormat.Encoding.PCM_UNSIGNED) ||
              (bits != 8 && bits != 16) || ch < 1) return None
          val data = ais.readAllBytes()
          val bps = bits / 8
          val frameSize = bps * ch
          val n = data.length / frameSize
          val out = new Array[Int](n)
          var f = 0
          while (f < n) {
            var sum = 0
            var c = 0
            while (c < ch) {
              val off = f * frameSize + c * bps
              val v =
                if (bits == 8) {
                  if (enc == AudioFormat.Encoding.PCM_UNSIGNED)
                    ((data(off) & 0xff) - 128) << 8
                  else data(off).toInt << 8
                } else {
                  val raw =
                    if (fmt.isBigEndian)
                      (data(off).toInt << 8) | (data(off + 1) & 0xff)
                    else (data(off + 1).toInt << 8) | (data(off) & 0xff)
                  if (enc == AudioFormat.Encoding.PCM_UNSIGNED)
                    (raw & 0xffff) - 32768
                  else raw
                }
              sum += v
              c += 1
            }
            // channel fold: Java truncating division (documented; the
            // synthetic fixtures are mono so it never engages there)
            out(f) = sum / ch
            f += 1
          }
          Some((out, if (fmt.getSampleRate > 0) fmt.getSampleRate else 8000f))
        } finally ais.close()
      } catch { case _: Exception => None } // corrupt blob = data, not error
    }

    /** Integer block partition [i0, i1) of `n` samples into `m` blocks —
      * the 1-D analog of [[ImageIoCodec]]'s boxScale cells. */
    private def block(j: Int, m: Int, n: Int): (Int, Int) = {
      val i0 = j * n / m
      (i0, math.max(i0 + 1, (j + 1) * n / m))
    }

    /** Features = `featureDim` block energies: integer mean of |sample|
      * per block — the audio analog of the luminance histogram. */
    def features(kind: String, bytes: Array[Byte], meta: MediaMeta): Option[Array[Float]] =
      samples(bytes).flatMap { case (s, _) =>
        if (s.isEmpty) None
        else Some(Array.tabulate(featureDim) { j =>
          val (i0, i1) = block(j, featureDim, s.length)
          var acc = 0L
          var i = i0
          while (i < i1) { acc += math.abs(s(i).toLong); i += 1 }
          (acc / (i1 - i0)).toFloat // exact: block mean < 2^15 << 2^24
        })
      }

    def frameCount(meta: MediaMeta): Int =
      if (meta.durationMs <= 0) 1 else (meta.durationMs / 1000L).toInt.max(1)

    /** Real resample: decode → signed integer box-average to w·h samples
      * → re-encode 16-bit mono little-endian PCM WAV at the source rate
      * (the JDK WAV writer emits canonical RIFF headers — deterministic
      * for a given raster, same argument as the PNG writer). */
    def resize(kind: String, bytes: Array[Byte], meta: MediaMeta,
        w: Int, h: Int): Option[(Array[Byte], MediaMeta)] =
      samples(bytes).flatMap { case (s, rate) =>
        if (s.isEmpty) return None
        val n = w * h
        val pcm = new Array[Byte](n * 2)
        var j = 0
        while (j < n) {
          val (i0, i1) = block(j, n, s.length)
          var acc = 0L
          var i = i0
          while (i < i1) { acc += s(i); i += 1 }
          val v = (acc / (i1 - i0)).toInt // signed mean keeps the waveform
          pcm(2 * j) = (v & 0xff).toByte
          pcm(2 * j + 1) = ((v >> 8) & 0xff).toByte
          j += 1
        }
        val fmt = new AudioFormat(rate, 16, 1, true, false)
        val ais = new AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
        val bos = new java.io.ByteArrayOutputStream()
        AudioSpi.writeWave(ais, bos)
        Some((bos.toByteArray,
          meta.copy(format = "wav", width = w, height = h)))
      }

    /** The audio [[perceptualHash]] input: w·h block energies scaled to
      * bytes (mean |sample| >> 8 — block mean of a 16-bit-range signal
      * is ≤ 2^15, so the byte never clips past 128). An acoustic
      * fingerprint: near-identical audio differs in few energy bits. */
    override def pixels(kind: String, bytes: Array[Byte], meta: MediaMeta,
        w: Int, h: Int): Option[Array[Byte]] =
      samples(bytes).flatMap { case (s, _) =>
        if (s.isEmpty) None
        else Some(Array.tabulate(w * h) { j =>
          val (i0, i1) = block(j, w * h, s.length)
          var acc = 0L
          var i = i0
          while (i < i1) { acc += math.abs(s(i).toLong); i += 1 }
          ((acc / (i1 - i0)) >> 8).toByte
        })
      }
  }

  /** Batched feature extraction: repartition for even work distribution,
    * then one codec per partition. At 100 TB the repartition count is the
    * only knob — no driver involvement, no per-row codec init. */
  def extractFeatures(media: Dataset[MediaRow], codec: MediaCodec,
      partitions: Int = 0): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    val balanced = if (partitions > 0) media.repartition(partitions) else media
    balanced.mapPartitions { rows =>
      rows.map { r =>
        codec.features(r.kind, r.bytes, r.meta) match {
          case Some(f) => MediaFeatures(r.media_id, r.kind, ok = true, f,
            codec.frameCount(r.meta))
          case None => MediaFeatures(r.media_id, r.kind, ok = false,
            Array.empty[Float], 0)
        }
      }
    }
  }

  /** Batched resize: binary → binary with updated meta, same schema out
    * as in (a media table maps to a media table, so resize stages chain
    * with any other media op). Undecodable blobs pass through unchanged
    * rather than erroring the partition — at 100 TB a corrupt blob is
    * data, not an exception. */
  def resizeAll(media: Dataset[MediaRow], codec: MediaCodec,
      w: Int, h: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        codec.resize(r.kind, r.bytes, r.meta, w, h) match {
          case Some((b2, m2)) => r.copy(bytes = b2, meta = m2)
          case None => r
        }
      }
    }
  }

  /** Frame sampling as a relational op: one output row per sampled frame
    * index (explode of a bounded sequence — no codec needed for planning
    * frame-level work). */
  def sampleFrames(media: Dataset[MediaRow], codec: MediaCodec,
      everyNth: Int = 1): DataFrame = {
    import media.sparkSession.implicits._
    media.map(r => (r.media_id, r.kind, codec.frameCount(r.meta)))
      .toDF("media_id", "kind", "n_frames")
      .select(col("media_id"), col("kind"),
        explode(sequence(lit(0), col("n_frames") - 1)).as("frame_idx"))
      .filter(col("frame_idx") % everyNth === 0)
  }

  /** DECODED frame sampling: real per-frame decode through the codec's
    * [[MediaCodec.frameLumas]] seam (multi-frame GIF iterates genuine
    * container frames), one output row per kept frame with the frame's
    * mean luminance and the DECODED frame count (not the metadata
    * estimate [[sampleFrames]] plans by). Imperative decode stays in
    * `mapPartitions` — one codec per partition, undecodable blobs
    * dropped as data; the stride filter and everything downstream is
    * relational. */
  def sampleFrameLuma(media: Dataset[MediaRow], codec: MediaCodec,
      everyNth: Int = 1): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        codec.frameLumas(r.kind, r.bytes, r.meta).iterator.flatMap { ls =>
          ls.iterator.zipWithIndex.map { case (luma, f) =>
            (r.media_id, r.kind, f, ls.length, luma)
          }
        }
      }
    }.toDF("media_id", "kind", "frame_idx", "n_frames", "luma")
      .filter(col("frame_idx") % everyNth === 0)
  }

  /** Perceptual hash per media row: resize to a `side`×`side` thumbnail
    * THROUGH the codec (the honest multimodal path — swap in a real
    * codec and nothing else changes), then one bit per pixel:
    * 1 iff pixel > thumbnail mean. Near-identical media differ in few
    * bits — the hamming-ball neighbourhood [[phashPairs]] searches.
    * Imperative per-row work stays in `mapPartitions`; everything after
    * the hash is relational.
    *
    * `side = 8` (64-bit hash) is a SCALE floor, not a quality knob: the
    * pigeonhole join buckets on hash chunks, so chunk width must keep
    * expected bucket occupancy O(near-dup cluster size). The original
    * 4×4 default (16-bit hash, 8-bit chunks = 256 buckets) went
    * quadratic the moment the corpus outgrew the key space — measured
    * 0.6 s → 29.6 s for 10× data at sf1. 32-bit chunks defer that wall
    * by a factor of 2³² ∕ 2⁸. */
  def perceptualHash(media: Dataset[MediaRow], codec: MediaCodec,
      side: Int = 8): DataFrame = {
    import media.sparkSession.implicits._
    media.flatMap { r =>
      codec.pixels(r.kind, r.bytes, r.meta, side, side).map { thumb =>
        val px = thumb.map(b => (b & 0xff).toDouble)
        val mean = px.sum / px.length
        var h = 0L
        px.zipWithIndex.foreach { case (p, i) => if (p > mean) h |= 1L << i }
        (r.media_id, r.kind, h)
      }
    }.toDF("media_id", "kind", "phash")
  }

  /** Near-duplicate media pairs within hamming distance `r` of the
    * `bits`-bit perceptual hash, by chunk pigeonhole (the SimHash join
    * shape): split the hash into r+1 chunks — any pair within distance r
    * agrees on ≥ 1 whole chunk — equi-join per (chunk index, value)
    * bucket, then verify exact `bit_count(xor)`. Never an all-pairs
    * product; candidate volume is bounded by bucket occupancy, and the
    * explode adds r+1 rows per media, not per pair.
    *
    * `maxBucket`: same hot-bucket escape hatch as
    * [[Dedup.minhashCandidates]] — drop (chunk, value) buckets holding
    * more than this many media before the self-join. A degenerate hash
    * (whole-corpus black frames, one corrupt-decode byte pattern)
    * otherwise goes quadratic in one task; media in an overflowing
    * bucket still pair through the other r chunks — the recall bound:
    * a pair is missed only when EVERY chunk the two media agree on
    * sits in an over-`cap` bucket, i.e. both live inside ≥ cap-sized
    * near-identical clusters whose pair set is quadratic by definition.
    * `None` = exact enumeration (pays cluster² output — measured 8.3 s
    * vs 2.3 s capped at sf10 on the replica corpus); the DECLARED
    * queries run `Some(256)` with the cap replayed in their oracles
    * (r11), because the bounded form is the only one whose wall
    * survives a 100× scale-up of a clustered corpus. */
  def phashPairs(hashes: DataFrame, bits: Int = 64, r: Int = 1,
      maxBucket: Option[Int] = None): DataFrame = {
    val chunks = r + 1
    val width = bits / chunks
    val mask = if (width == 64) -1L else (1L << width) - 1
    val keyedAll = hashes.select(col("media_id"), col("phash"),
        explode(sequence(lit(0), lit(chunks - 1))).as("ci"))
      .withColumn("ck", expr(s"shiftright(phash, ci * $width)")
        .bitwiseAND(lit(mask)))
    val keyed = maxBucket match {
      case None => keyedAll
      case Some(cap) =>
        val w = org.apache.spark.sql.expressions.Window.partitionBy("ci", "ck")
        keyedAll.withColumn("__bn", count(lit(1)).over(w))
          .filter(col("__bn") <= cap).drop("__bn")
    }
    keyed.select(col("ci"), col("ck"), col("media_id").as("media_a"),
        col("phash").as("ph_a"))
      .join(keyed.select(col("ci"), col("ck"), col("media_id").as("media_b"),
        col("phash").as("ph_b")), Seq("ci", "ck"))
      .filter(col("media_a") < col("media_b"))
      .select(col("media_a"), col("media_b"),
        bit_count(col("ph_a").bitwiseXOR(col("ph_b"))).cast("long")
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= r)
  }

  /** REAL-PNG synthetic media: each document's UTF-8 bytes painted as a
    * `side`×`side` grayscale raster and encoded through the JDK PNG
    * writer — genuine compressed image blobs (magic bytes, zlib
    * streams, the works) whose PIXEL content is still pure arithmetic
    * on the text. That makes the real decode path oracle-checkable: a
    * SQL engine that cannot read PNG replays the pixel → thumbnail →
    * hash chain from the text directly, so the query only matches if
    * the PNG encode→decode roundtrip is lossless and the codec's
    * box-average/luminance arithmetic is exactly as specified. Pixel
    * (x, y) = text byte ((y·side + x) mod len), gray so BT.601
    * luminance is the identity on the value. */
  def syntheticPngMedia(spark: SparkSession, documents: DataFrame,
      side: Int = 16): Dataset[MediaRow] = {
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val bytes = text.getBytes("UTF-8")
        val img = new java.awt.image.BufferedImage(side, side,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var i = 0
        while (i < side * side) {
          val v = if (bytes.isEmpty) 0 else bytes(i % bytes.length) & 0xff
          img.setRGB(i % side, i / side, (v << 16) | (v << 8) | v)
          i += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        ImageMem.writePng(img, bos)
        MediaRow(id, "image", bos.toByteArray, MediaMeta("png", side, side, 0L))
      }
  }

  /** REAL multi-frame synthetic media: each document's UTF-8 bytes
    * painted into an ANIMATED GIF of `1 + (doc_id mod 4)` frames, each
    * frame a w×h grayscale raster with pixel p of frame f =
    * byte((f·w·h + p) mod len) (empty text ⇒ black). Encoded through
    * the JDK GIF writer's sequence API (`prepareWriteSequence` /
    * `writeToSequence`) with an explicit 256-gray palette, so the
    * palette round trip is lossless and a SQL engine that cannot read
    * GIF replays the frame → pixel → mean-luminance chain from the
    * text — genuine multi-frame container decode sits inside the
    * hash-match correctness gate, the video-shaped twin of
    * [[syntheticPngMedia]]/[[syntheticWavMedia]]. */
  def syntheticGifMedia(spark: SparkSession, documents: DataFrame,
      w: Int = 8, h: Int = 8): Dataset[MediaRow] = {
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        // built per row, not captured: ColorModel is not Serializable
        val grays = Array.tabulate(256)(_.toByte)
        val palette =
          new java.awt.image.IndexColorModel(8, 256, grays, grays, grays)
        val b = text.getBytes("UTF-8")
        val n = (1 + (id % 4)).toInt
        val spi = GifSpi.writerSpi.getOrElse(
          throw new IllegalStateException("JVM ships no GIF writer"))
        val writer = spi.createWriterInstance()
        val bos = new java.io.ByteArrayOutputStream()
        val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
        try {
          writer.setOutput(ios)
          writer.prepareWriteSequence(null)
          var f = 0
          while (f < n) {
            val img = new java.awt.image.BufferedImage(w, h,
              java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, palette)
            val px = Array.tabulate(w * h)(p =>
              if (b.isEmpty) 0.toByte else b((f * w * h + p) % b.length))
            img.getRaster.setDataElements(0, 0, w, h, px)
            writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
            f += 1
          }
          writer.endWriteSequence()
        } finally {
          writer.dispose()
          try ios.close() catch { case _: java.io.IOException => () }
        }
        MediaRow(id, "video", bos.toByteArray,
          MediaMeta("gif", w, h, n * 1000L))
      }
  }

  /** REAL-WAV synthetic media: each document's UTF-8 bytes rendered as a
    * 16-bit PCM mono waveform and encoded through the JDK WAV writer —
    * genuine RIFF/WAVE blobs (headers, fmt/data chunks) whose SAMPLE
    * content is pure arithmetic on the text: sample i =
    * (byte(i mod len) − 128) · 256 (empty text ⇒ silence). The audio
    * twin of [[syntheticPngMedia]]: a SQL engine that cannot read WAV
    * replays the sample → block-energy → feature/hash chain from the
    * text, so the real `javax.sound.sampled` decode path sits inside
    * the hash-match correctness gate. */
  def syntheticWavMedia(spark: SparkSession, documents: DataFrame,
      nSamples: Int = 256): Dataset[MediaRow] = {
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val b = text.getBytes("UTF-8")
        val pcm = new Array[Byte](nSamples * 2)
        var i = 0
        while (i < nSamples) {
          val v = if (b.isEmpty) 0 else ((b(i % b.length) & 0xff) - 128) * 256
          pcm(2 * i) = (v & 0xff).toByte
          pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
          i += 1
        }
        val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong)
        val bos = new java.io.ByteArrayOutputStream()
        AudioSpi.writeWave(ais, bos)
        MediaRow(id, "audio", bos.toByteArray,
          MediaMeta("wav", 0, 0, nSamples * 1000L / 8000L))
      }
  }

  /** Build a synthetic media table from any text corpus (UTF-8 bytes as
    * blobs) — lets the plumbing be exercised against driver test data.
    * Audio durations vary by id (500 + (id mod 6)·1000 ms ⇒ frameCount
    * max(1, id mod 6)) so frame-level ops exercise ragged frame counts. */
  def syntheticMedia(spark: SparkSession, documents: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        MediaRow(id, if (id % 2 == 0) "image" else "audio",
          text.getBytes("UTF-8"),
          MediaMeta(if (id % 2 == 0) "png" else "wav",
            (id % 64).toInt + 1, 32,
            if (id % 2 == 0) 0L else 500L + (id % 6) * 1000L))
      }
  }
}
