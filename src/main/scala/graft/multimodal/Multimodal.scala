package graft.multimodal

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.ImageIO
import javax.sound.sampled.{AudioFormat, AudioSystem}

import org.apache.spark.sql.Dataset

/** Multimodal-column plumbing: opaque `binary` payloads + typed metadata,
  * decode/feature-extract as one `mapPartitions` pass (the JVM analogue of
  * `mapInPandas` — schema and partitioning are real).
  *
  * Image decode is REAL: `javax.imageio` ships in the JDK (PNG/JPEG/GIF/BMP)
  * and produces width/height/channel-statistics features. Non-image or
  * undecodable payloads fall back to [[stubDecodeFeatures]] — a
  * deterministic stand-in for the audio/video codecs this container lacks —
  * and are flagged `decoded = false`.
  */
object Multimodal {

  /** Magic-byte MIME sniffing over the first 12 payload bytes. */
  def sniffMimeScalar(p: Array[Byte]): String = {
    @inline def at(i: Int): Int = if (i < p.length) p(i) & 0xff else -1
    if (at(0) == 0xff && at(1) == 0xd8 && at(2) == 0xff) "image/jpeg"
    else if (at(0) == 0x89 && at(1) == 0x50 && at(2) == 0x4e && at(3) == 0x47)
      "image/png"
    else if (at(0) == 0x47 && at(1) == 0x49 && at(2) == 0x46 && at(3) == 0x38)
      "image/gif"
    else if (at(0) == 0x42 && at(1) == 0x4d) "image/bmp"
    else if (at(0) == 0x52 && at(1) == 0x49 && at(2) == 0x46 && at(3) == 0x46 &&
      at(8) == 0x57 && at(9) == 0x41 && at(10) == 0x56 && at(11) == 0x45)
      "audio/wav"
    else if (at(0) == 0x49 && at(1) == 0x44 && at(2) == 0x33) "audio/mpeg"
    else if (at(0) == 0x1a && at(1) == 0x45 && at(2) == 0xdf && at(3) == 0xa3)
      "video/webm"
    else if ((p.length >= 5 && new String(p, 0, 5, "ISO-8859-1") == "<html") ||
      (p.length >= 4 && new String(p, 0, 4, "ISO-8859-1") == "<!DO"))
      "text/html"
    else "application/octet-stream"
  }

  /** Feature layout of [[decodeImageFeatures]]:
    * [0]=width, [1]=height, [2]=channels, [3..5]=mean R,G,B (0..1),
    * [6..8]=stddev R,G,B, [9]=mean luma; remaining slots 0.
    */
  val ImageFeatureDim = 16

  /** REAL image decode via `javax.imageio` (JDK built-in PNG/JPEG/GIF/BMP
    * readers). Pixels are subsampled on a ≤64×64 grid so a pathological
    * 10000² image costs the same as a thumbnail. Returns None when no
    * registered reader accepts the payload.
    */
  def decodeImageFeatures(payload: Array[Byte]): Option[Array[Float]] =
    try {
      val img = ImageIO.read(new ByteArrayInputStream(payload))
      if (img == null) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        val stepX = math.max(1, w / 64)
        val stepY = math.max(1, h / 64)
        var n = 0
        val sum = new Array[Double](3)
        val sumSq = new Array[Double](3)
        var lumaSum = 0.0
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val r = ((rgb >> 16) & 0xff) / 255.0
            val g = ((rgb >> 8) & 0xff) / 255.0
            val b = (rgb & 0xff) / 255.0
            sum(0) += r; sum(1) += g; sum(2) += b
            sumSq(0) += r * r; sumSq(1) += g * g; sumSq(2) += b * b
            lumaSum += 0.299 * r + 0.587 * g + 0.114 * b
            n += 1
            x += stepX
          }
          y += stepY
        }
        val out = new Array[Float](ImageFeatureDim)
        out(0) = w.toFloat
        out(1) = h.toFloat
        out(2) = img.getColorModel.getNumComponents.toFloat
        var c = 0
        while (c < 3) {
          val mean = sum(c) / n
          out(3 + c) = mean.toFloat
          out(6 + c) = math.sqrt(math.max(0.0, sumSq(c) / n - mean * mean)).toFloat
          c += 1
        }
        out(9) = (lumaSum / n).toFloat
        Some(out)
      }
    } catch { case _: Exception => None }

  /** Opens a WAV payload via `javax.sound.sampled` and reads it whole if
    * it is linear PCM in its canonical signedness (16-bit signed, 8-bit
    * unsigned) with a positive frame size: (format, header frame length,
    * PCM bytes). Gated on ENCODING, not just sample width: a mu-law/A-law
    * WAV also reports 8 bits but its companded bytes are NOT linear PCM —
    * decoding them as such would emit garbage flagged `decoded = true` —
    * so every other format is None and falls back to the labeled stub.
    * Throws on payloads the JDK cannot open; callers catch.
    */
  private def readLinearPcm(payload: Array[Byte])
      : Option[(AudioFormat, Long, Array[Byte])] = {
    val in = AudioSystem.getAudioInputStream(new ByteArrayInputStream(payload))
    try {
      val fmt = in.getFormat
      val bits = fmt.getSampleSizeInBits
      val linearPcm =
        (bits == 16 && fmt.getEncoding == AudioFormat.Encoding.PCM_SIGNED) ||
        (bits == 8 && fmt.getEncoding == AudioFormat.Encoding.PCM_UNSIGNED)
      if (fmt.getFrameSize <= 0 || !linearPcm) None
      else Some((fmt, in.getFrameLength, in.readAllBytes()))
    } finally in.close()
  }

  /** Feature layout of [[decodeAudioFeatures]]:
    * [0]=sample rate (Hz), [1]=channels, [2]=bits/sample,
    * [3]=duration (sec), [4]=RMS amplitude (0..1), [5]=peak amplitude,
    * [6]=mean absolute amplitude; remaining slots 0.
    */
  val AudioFeatureDim = 16

  /** REAL audio decode via `javax.sound.sampled` (JDK built-in WAV/PCM
    * reader — no external codec). Samples are subsampled to ≤ 65536 frames
    * so an hour-long recording costs the same as a clip. Returns None for
    * compressed formats this container has no codec for (mp3 etc.) and for
    * corrupt payloads — those fall back to the labeled stub.
    */
  def decodeAudioFeatures(payload: Array[Byte]): Option[Array[Float]] =
    try readLinearPcm(payload).flatMap { case (fmt, frames, bytes) =>
      val bits = fmt.getSampleSizeInBits
      val frameBytes = fmt.getFrameSize
      val n = bytes.length / frameBytes
      val step = math.max(1, n / 65536)
      var i = 0
      var kept = 0
      var sumSq = 0.0
      var sumAbs = 0.0
      var peak = 0.0
      val little = !fmt.isBigEndian
      while (i < n) {
        // first channel of the frame, normalized to [-1, 1]
        val off = i * frameBytes
        val v =
          if (bits == 16) {
            val lo = bytes(off) & 0xff
            val hi = bytes(off + 1) & 0xff
            val s = if (little) (hi << 8) | lo else (lo << 8) | hi
            s.toShort / 32768.0
          } else (bytes(off) & 0xff).toDouble / 128.0 - 1.0 // 8-bit unsigned
        val a = math.abs(v)
        sumSq += v * v; sumAbs += a; if (a > peak) peak = a
        kept += 1
        i += step
      }
      if (kept == 0) None
      else {
        val out = new Array[Float](AudioFeatureDim)
        out(0) = fmt.getSampleRate
        out(1) = fmt.getChannels.toFloat
        out(2) = bits.toFloat
        out(3) = (frames.toDouble / fmt.getSampleRate).toFloat
        out(4) = math.sqrt(sumSq / kept).toFloat
        out(5) = peak.toFloat
        out(6) = (sumAbs / kept).toFloat
        Some(out)
      }
    } catch { case _: Exception => None }

  /** STUB — deterministic fake decoder standing in for the compressed
    * audio/video codecs this container lacks (mp3, webm, …). Produces a
    * feature vector as a pure function of the payload bytes so tests are
    * reproducible. The Spark-side contract (payload bytes in, fixed-dim
    * float vector out) is exactly what a real codec plugs into — see
    * [[decodeImageFeatures]] / [[decodeAudioFeatures]] for the image and
    * WAV paths that ARE real.
    */
  def stubDecodeFeatures(payload: Array[Byte], dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    var h = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < payload.length) {
      h = graft.synth.Det.mix64(h ^ payload(i))
      out(i % dim) += ((h & 0xffff) / 65536.0f - 0.5f)
      i += 1
    }
    out
  }

  final case class MediaFeatures(url: String, mime: String, n_bytes: Long,
      decoded: Boolean, features: Array[Float])

  /** Feature extraction over (url, payload) rows, one `mapPartitions`
    * pass: every row of a partition decodes inside one task, and a
    * vectorized codec (or a JNI batch API) slots in here without touching
    * the plan. Images and WAV audio decode for real; everything else gets
    * the labeled stub with `decoded = false`.
    */
  def extractFeatures(rows: Dataset[(String, Array[Byte])]): Dataset[MediaFeatures] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.mapPartitions(_.map { case (url, payload) =>
      val mime = sniffMimeScalar(payload)
      val real =
        if (mime.startsWith("image/")) decodeImageFeatures(payload)
        else if (mime == "audio/wav") decodeAudioFeatures(payload)
        else None
      real match {
        case Some(f) =>
          MediaFeatures(url, mime, payload.length.toLong, decoded = true, f)
        case None =>
          MediaFeatures(url, mime, payload.length.toLong, decoded = false,
            stubDecodeFeatures(payload, ImageFeatureDim))
      }
    })
  }

  final case class ResizedImage(url: String, mime: String, orig_w: Int,
      orig_h: Int, width: Int, height: Int, png: Array[Byte],
      decoded: Boolean)

  /** REAL aspect-preserving image resize (JDK-only: `BufferedImage` +
    * bilinear `Graphics2D`), re-encoded as PNG so downstream consumers see
    * one uniform format regardless of the input codec. No upscaling —
    * images already within `maxDim` are re-encoded at original size.
    * Returns (png, origW, origH, outW, outH); None when no reader accepts
    * the payload.
    */
  def resizeImage(payload: Array[Byte], maxDim: Int)
      : Option[(Array[Byte], Int, Int, Int, Int)] =
    try {
      val img = ImageIO.read(new ByteArrayInputStream(payload))
      if (img == null) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        val scale = math.min(1.0, maxDim.toDouble / math.max(w, h))
        val ow = math.max(1, math.round(w * scale).toInt)
        val oh = math.max(1, math.round(h * scale).toInt)
        val out = new BufferedImage(ow, oh, BufferedImage.TYPE_INT_RGB)
        val g = out.createGraphics()
        try {
          g.setRenderingHint(
            java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(img, 0, 0, ow, oh, null)
        } finally g.dispose()
        val bos = new ByteArrayOutputStream()
        ImageIO.write(out, "png", bos)
        Some((bos.toByteArray, w, h, ow, oh))
      }
    } catch { case _: Exception => None }

  /** Distributed resize over (url, payload) rows — same `mapPartitions`
    * contract as [[extractFeatures]]. Non-image or undecodable payloads
    * pass through with `decoded = false` and an empty payload (rows are
    * never dropped — C6 discipline).
    */
  def resizeImages(rows: Dataset[(String, Array[Byte])],
      maxDim: Int = 256): Dataset[ResizedImage] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.mapPartitions(_.map { case (url, payload) =>
      val mime = sniffMimeScalar(payload)
      val real =
        if (mime.startsWith("image/")) resizeImage(payload, maxDim)
        else None
      real match {
        case Some((png, w, h, ow, oh)) =>
          ResizedImage(url, mime, w, h, ow, oh, png, decoded = true)
        case None =>
          ResizedImage(url, mime, 0, 0, 0, 0, Array.emptyByteArray,
            decoded = false)
      }
    })
  }

  final case class FrameSample(url: String, mime: String, frame_idx: Int,
      t_offset_sec: Float, frame: Array[Byte], decoded: Boolean)

  /** Length of each window [[sampleWavWindows]] slices. */
  val WavWindowMs = 25

  /** REAL time-window sampling for WAV: decodes via `javax.sound.sampled`
    * and slices `n` evenly-spaced raw-PCM windows of [[WavWindowMs]]
    * milliseconds, each tagged with its time offset. The audio analogue of
    * video frame-sampling, on the one time-indexed medium the JDK decodes.
    */
  def sampleWavWindows(payload: Array[Byte], n: Int)
      : Option[Seq[(Float, Array[Byte])]] =
    try readLinearPcm(payload).flatMap { case (fmt, _, bytes) =>
      val frameBytes = fmt.getFrameSize
      val totalFrames = bytes.length / frameBytes
      // a clip shorter than n×WavWindowMs tiles into n shorter windows
      // instead of n identical full-clip copies (offsets stay strictly
      // increasing whenever the clip has ≥ n frames)
      val winFrames = math.min(
        math.max(1, (fmt.getSampleRate * WavWindowMs / 1000.0).toInt),
        math.max(1, totalFrames / n))
      if (totalFrames == 0) None
      else Some((0 until n).map { i =>
        // window starts spread evenly across the clip, clamped so the
        // final window never runs past the end
        val start = math.min(
          (totalFrames.toLong * i / n).toInt,
          math.max(0, totalFrames - winFrames))
        val end = math.min(totalFrames, start + winFrames)
        (start / fmt.getSampleRate,
          java.util.Arrays.copyOfRange(bytes, start * frameBytes,
            end * frameBytes))
      })
    } catch { case _: Exception => None }

  /** Frame/window sampling over (url, payload) rows: `n` samples per
    * payload. WAV samples REAL PCM windows via [[sampleWavWindows]];
    * video/compressed-audio payloads (no codec in this container) emit
    * deterministic STUB frames flagged `decoded = false` — the Spark-side
    * contract (flatMap fan-out, schema, time offsets) is what a real codec
    * plugs into.
    */
  def sampleFrames(rows: Dataset[(String, Array[Byte])],
      n: Int = 4): Dataset[FrameSample] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.mapPartitions(_.flatMap { case (url, payload) =>
      val mime = sniffMimeScalar(payload)
      val real =
        if (mime == "audio/wav") sampleWavWindows(payload, n) else None
      real match {
        case Some(wins) =>
          wins.zipWithIndex.map { case ((t, bytes), i) =>
            FrameSample(url, mime, i, t, bytes, decoded = true)
          }
        case None =>
          // one pass over the payload; each frame reseeds from (hash+i)
          val base = payload.foldLeft(0x9e3779b97f4a7c15L)((a, x) =>
            graft.synth.Det.mix64(a ^ x))
          (0 until n).map { i =>
            // deterministic fake frame: payload-hash-seeded bytes
            val b = new Array[Byte](64)
            var hsh = graft.synth.Det.mix64(base + i)
            var j = 0
            while (j < b.length) {
              hsh = graft.synth.Det.mix64(hsh)
              b(j) = hsh.toByte
              j += 1
            }
            FrameSample(url, mime, i, -1f, b, decoded = false)
          }
      }
    })
  }

  /** Deterministic tiny WAV (real `javax.sound.sampled` encode of a
    * splitmix64-seeded 16-bit mono PCM tone mix) — the synthetic audio
    * payload for fixtures and the multimodal coverage query. Sample rate
    * and length vary with the id so decoded features are non-trivial.
    */
  def synthWav(id: Long): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val rate = 8000f + 4000f * (graft.synth.Det.mix64(id * 13L + 3L) & 0x1L) // 8k or 12k
    val nSamples = 256 + (graft.synth.Det.mix64(id * 29L + 5L) & 0xFFL).toInt
    val freq = 200.0 + (graft.synth.Det.mix64(id * 43L + 9L) & 0x1FFL)
    val pcm = new Array[Byte](nSamples * 2)
    var i = 0
    while (i < nSamples) {
      val s = (math.sin(2 * math.Pi * freq * i / rate) * 12000).toInt
      pcm(2 * i) = (s & 0xff).toByte          // little endian
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new AudioFormat(rate, 16, 1, true, false)
    val ais = new AudioInputStream(
      new ByteArrayInputStream(pcm), fmt, nSamples.toLong)
    val bos = new ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Deterministic tiny PNG (real ImageIO encode of a splitmix64-seeded
    * gradient) — the synthetic image payload for fixtures and the
    * multimodal coverage query. Dimensions vary with the id so decoded
    * width/height are non-trivial.
    */
  def synthPng(id: Long): Array[Byte] = {
    val w = 4 + (graft.synth.Det.mix64(id * 31L + 7L) & 0x7L).toInt   // 4..11
    val h = 3 + (graft.synth.Det.mix64(id * 57L + 11L) & 0x7L).toInt  // 3..10
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = graft.synth.Det.mix64(id ^ (y.toLong * 131071L + x * 8191L))
        img.setRGB(x, y, (v & 0xffffff).toInt)
        x += 1
      }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }
}
