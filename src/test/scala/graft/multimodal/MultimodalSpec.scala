package graft.multimodal

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.synth.SynthPages

/** Multimodal plumbing: mime sniffing (real), batched feature extraction
  * (stub codec, real batch/schema/partitioning).
  */
class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Payloads with the mime each must sniff as: every magic prefix, the
    * RIFF and HTML near-misses, and the empty and too-short edge cases.
    */
  private val mimeCases: Seq[(Array[Byte], String)] = Seq(
    Array(0xff, 0xd8, 0xff, 0xe0).map(_.toByte) -> "image/jpeg",
    Array(0x89, 0x50, 0x4e, 0x47).map(_.toByte) -> "image/png",
    Array(0x47, 0x49, 0x46, 0x38).map(_.toByte) -> "image/gif",
    Array(0x42, 0x4d, 0x01).map(_.toByte) -> "image/bmp",
    Array(0x49, 0x44, 0x33).map(_.toByte) -> "audio/mpeg",
    Array(0x1a, 0x45, 0xdf, 0xa3).map(_.toByte) -> "video/webm",
    // RIFF....WAVE, RIFF with wrong type tag, truncated RIFF
    ("RIFF" + "\u0004\u0000\u0000\u0000" + "WAVEfmt ")
      .getBytes("ISO-8859-1") -> "audio/wav",
    ("RIFF" + "\u0004\u0000\u0000\u0000" + "AVI LIST")
      .getBytes("ISO-8859-1") -> "application/octet-stream",
    "RIFF".getBytes("ISO-8859-1") -> "application/octet-stream",
    Multimodal.synthWav(7L) -> "audio/wav",
    "<html><body>x</body></html>".getBytes("UTF-8") -> "text/html",
    // case differs: octet
    "<HTML><body>x</body></HTML>".getBytes("UTF-8") ->
      "application/octet-stream",
    "<!DOCTYPE html><html>".getBytes("UTF-8") -> "text/html",
    "<ht".getBytes("UTF-8") -> "application/octet-stream",
    Array[Byte]() -> "application/octet-stream",
    Array(0x00, 0x01).map(_.toByte) -> "application/octet-stream")

  test("magic-byte mime sniffing classifies known prefixes") {
    val got = mimeCases.map { case (p, _) => Multimodal.sniffMimeScalar(p) }
    assert(got == mimeCases.map(_._2), s"got=$got")
  }

  test("Column and scalar mime sniffers agree byte-for-byte (parity)") {
    import spark.implicits._
    // the `mime` column the batched operators emit vs the scalar sniffer
    val rows = mimeCases.zipWithIndex.map { case ((p, _), i) => (f"u$i%02d", p) }
      .toDS().repartition(3)
    val scalarSide = mimeCases.map { case (p, _) => Multimodal.sniffMimeScalar(p) }
    val featSide = Multimodal.extractFeatures(rows).toDF()
      .orderBy("url").select("mime").collect().map(_.getString(0)).toSeq
    val resizeSide = Multimodal.resizeImages(rows, maxDim = 8).toDF()
      .orderBy("url").select("mime").collect().map(_.getString(0)).toSeq
    assert(featSide == scalarSide, s"extractFeatures=$featSide scalar=$scalarSide")
    assert(resizeSide == scalarSide, s"resizeImages=$resizeSide scalar=$scalarSide")
  }

  test("batched feature extraction: stable schema, deterministic features") {
    import spark.implicits._
    val pages = SynthPages.pages(spark, 100L)
    val feats = Multimodal.extractFeatures(pages.map(p => (p.url, p.html)))
    val df = feats.toDF()
    assert(df.schema.fieldNames.sameElements(
      Array("url", "mime", "n_bytes", "decoded", "features")))
    val rows = df.orderBy("url").collect()
    assert(rows.length == 100)
    assert(rows.forall(_.getSeq[Float](4).length == 16))
    assert(rows.forall(_.getString(1) == "text/html"))
    assert(rows.forall(!_.getBoolean(3)), "html must take the stub path")
    // determinism across partition counts
    val again = Multimodal.extractFeatures(
      SynthPages.pages(spark, 100L, partitions = 7).map(p => (p.url, p.html)))
      .toDF().orderBy("url").collect()
    assert(rows.map(_.getSeq[Float](4).toList).toList ==
      again.map(_.getSeq[Float](4).toList).toList)
  }

  test("synthetic WAVs decode for real: rate/channels/duration/amplitude") {
    for (id <- Seq(1L, 2L, 9L)) {
      val wav = Multimodal.synthWav(id)
      assert(Multimodal.sniffMimeScalar(wav) == "audio/wav")
      val f = Multimodal.decodeAudioFeatures(wav)
        .getOrElse(fail(s"WAV $id did not decode"))
      assert(f(0) == 8000f || f(0) == 12000f, s"rate ${f(0)}")
      assert(f(1) == 1f, "mono")
      assert(f(2) == 16f, "16-bit")
      assert(f(3) > 0f && f(3) < 1f, s"duration ${f(3)}")
      // a sine at amplitude 12000/32768 ≈ 0.366: RMS ≈ 0.26, peak ≈ 0.37
      assert(f(4) > 0.2f && f(4) < 0.3f, s"rms ${f(4)}")
      assert(f(5) > 0.3f && f(5) <= 0.37f, s"peak ${f(5)}")
    }
    // determinism
    assert(Multimodal.synthWav(5L).sameElements(Multimodal.synthWav(5L)))
  }

  test("corrupt/compressed audio falls back to the stub, flagged undecoded") {
    import spark.implicits._
    val corrupt = ("RIFF" + "\u0004\u0000\u0000\u0000" + "WAVEgarbage").getBytes("ISO-8859-1")
    assert(Multimodal.decodeAudioFeatures(corrupt).isEmpty)
    val mp3ish = Array(0x49, 0x44, 0x33, 0x04, 0x00).map(_.toByte)
    val out = Multimodal.extractFeatures(
      Seq(("u1", corrupt), ("u2", mp3ish), ("u3", Multimodal.synthWav(3L)))
        .toDS()).collect().map(f => f.url -> f).toMap
    assert(!out("u1").decoded && out("u1").mime == "audio/wav")
    assert(!out("u2").decoded && out("u2").mime == "audio/mpeg")
    assert(out("u3").decoded && out("u3").features(1) == 1f)
  }

  test("committed PNG fixture decodes for real: exact dims + channel stats") {
    val in = getClass.getResourceAsStream("/graft/fixture_3x2.png")
    val payload = in.readAllBytes()
    in.close()
    assert(Multimodal.sniffMimeScalar(payload) == "image/png")
    val f = Multimodal.decodeImageFeatures(payload).get
    assert(f(0) == 3.0f && f(1) == 2.0f, s"dims ${f(0)}x${f(1)}")
    assert(f(2) == 3.0f, "RGB channel count")
    // pixels: (255,0,0)(0,255,0)(0,0,255) / (255,255,255)(0,0,0)(128,128,128)
    val meanR = (255 + 0 + 0 + 255 + 0 + 128) / 6.0 / 255.0
    val meanG = (0 + 255 + 0 + 255 + 0 + 128) / 6.0 / 255.0
    val meanB = (0 + 0 + 255 + 255 + 0 + 128) / 6.0 / 255.0
    assert(math.abs(f(3) - meanR) < 1e-6)
    assert(math.abs(f(4) - meanG) < 1e-6)
    assert(math.abs(f(5) - meanB) < 1e-6)
  }

  test("synthetic PNGs roundtrip: encode → sniff → decode to exact dims") {
    import spark.implicits._
    val ids = (0L until 32L).toSeq
    val ds = ids.map(id => (s"img$id", Multimodal.synthPng(id))).toDS()
    val rows = Multimodal.extractFeatures(ds).toDF().orderBy("url").collect()
    assert(rows.forall(_.getString(1) == "image/png"))
    assert(rows.forall(_.getBoolean(3)), "every PNG must really decode")
    rows.foreach { r =>
      val id = r.getString(0).drop(3).toLong
      val f = r.getSeq[Float](4)
      val expW = 4 + (graft.synth.Det.mix64(id * 31L + 7L) & 0x7L).toInt
      val expH = 3 + (graft.synth.Det.mix64(id * 57L + 11L) & 0x7L).toInt
      assert(f(0) == expW.toFloat && f(1) == expH.toFloat, s"id=$id")
      assert(f(3) >= 0.0f && f(3) <= 1.0f)
    }
  }

  test("JPEG in-memory roundtrip decodes via the same path") {
    val img = new java.awt.image.BufferedImage(8, 5,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 5; x <- 0 until 8) img.setRGB(x, y, (x * 32) << 16)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val payload = bos.toByteArray
    assert(Multimodal.sniffMimeScalar(payload) == "image/jpeg")
    val f = Multimodal.decodeImageFeatures(payload).get
    assert(f(0) == 8.0f && f(1) == 5.0f)
  }

  test("corrupt image bytes fall back to the stub, flagged undecoded") {
    val fake = Array[Byte](0x89.toByte, 0x50, 0x4e, 0x47, 1, 2, 3, 4)
    assert(Multimodal.sniffMimeScalar(fake) == "image/png")
    assert(Multimodal.decodeImageFeatures(fake).isEmpty)
    import spark.implicits._
    val rows = Multimodal.extractFeatures(Seq(("bad", fake)).toDS())
      .collect()
    assert(!rows.head.decoded)
    assert(rows.head.features.sameElements(
      Multimodal.stubDecodeFeatures(fake, Multimodal.ImageFeatureDim)))
  }

  test("stub decoder is a pure function of payload bytes") {
    val p = "abc".getBytes
    val f1 = Multimodal.stubDecodeFeatures(p, 8)
    val f2 = Multimodal.stubDecodeFeatures("abc".getBytes, 8)
    assert(f1.sameElements(f2))
    assert(!f1.sameElements(Multimodal.stubDecodeFeatures("abd".getBytes, 8)))
  }

  private def bigPng(w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, (x * 31 + y * 17) & 0xffffff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("resize: real downscale, aspect preserved, no upscale, re-decodable") {
    import spark.implicits._
    val rows = Seq(
      ("wide", bigPng(200, 100)),
      ("tall", bigPng(60, 180)),
      ("small", Multimodal.synthPng(4L)), // already within maxDim
      ("junk", "not an image".getBytes)).toDS()
    val out = Multimodal.resizeImages(rows, maxDim = 64)
      .collect().map(r => r.url -> r).toMap
    assert(out("wide").decoded && out("wide").width == 64 &&
      out("wide").height == 32, s"${out("wide")}")
    assert(out("tall").decoded && out("tall").height == 64 &&
      out("tall").width == 21) // round(60*64/180)
    val small = out("small")
    assert(small.decoded && small.width == small.orig_w &&
      small.height == small.orig_h, "small image must not upscale")
    assert(!out("junk").decoded && out("junk").png.isEmpty)
    // the resized payload is a real PNG with the declared dims
    val re = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(out("wide").png))
    assert(re.getWidth == 64 && re.getHeight == 32)
  }

  test("frame sampling: real PCM windows from WAV with increasing offsets; " +
      "video stub flagged undecoded and deterministic") {
    import spark.implicits._
    val wav = Multimodal.synthWav(9L)
    val webmish = Array[Byte](0x1a, 0x45, 0xdf.toByte, 0xa3.toByte) ++
      "fake container body".getBytes
    val rows = Seq(("a.wav", wav), ("v.webm", webmish)).toDS()
    val out = Multimodal.sampleFrames(rows, n = 4).collect()
    val wavFrames = out.filter(_.url == "a.wav").sortBy(_.frame_idx)
    assert(wavFrames.length == 4)
    assert(wavFrames.forall(f => f.decoded && f.mime == "audio/wav"))
    assert(wavFrames.forall(_.frame.nonEmpty))
    val ts = wavFrames.map(_.t_offset_sec)
    assert(ts.zip(ts.tail).forall { case (a, b) => a < b },
      s"offsets not increasing: ${ts.toSeq}")
    // offsets sit inside the clip: duration from the real decoder
    val dur = Multimodal.decodeAudioFeatures(wav).get(3)
    assert(ts.forall(t => t >= 0f && t < dur))
    val vid = out.filter(_.url == "v.webm").sortBy(_.frame_idx)
    assert(vid.length == 4)
    assert(vid.forall(f => !f.decoded && f.mime == "video/webm" &&
      f.t_offset_sec == -1f))
    // stub frames are a pure function of (payload, idx)
    val again = Multimodal.sampleFrames(rows, n = 4).collect()
      .filter(_.url == "v.webm").sortBy(_.frame_idx)
    assert(vid.zip(again).forall { case (x, y) =>
      x.frame.sameElements(y.frame) })
    assert(!vid(0).frame.sameElements(vid(1).frame),
      "distinct frame indices must differ")
  }

  test("mu-law WAV windows are NOT emitted as PCM (same encoding gate as " +
      "the feature decoder)") {
    import javax.sound.sampled.{AudioFormat, AudioSystem, AudioFileFormat}
    // transcode a real PCM synth WAV to mu-law and re-wrap as WAVE
    val pcm = AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(Multimodal.synthWav(2L)))
    val src = pcm.getFormat
    val ulaw = AudioSystem.getAudioInputStream(
      new AudioFormat(AudioFormat.Encoding.ULAW, src.getSampleRate, 8,
        src.getChannels, src.getChannels, src.getSampleRate, false), pcm)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ulaw, AudioFileFormat.Type.WAVE, bos)
    val payload = bos.toByteArray
    assert(Multimodal.sniffMimeScalar(payload) == "audio/wav")
    assert(Multimodal.sampleWavWindows(payload, 3).isEmpty,
      "companded mu-law bytes must not pass as raw PCM windows")
    import spark.implicits._
    val out = Multimodal.sampleFrames(Seq(("u.wav", payload)).toDS(), n = 3)
      .collect()
    assert(out.length == 3 && out.forall(!_.decoded),
      "mu-law payload must take the labeled stub path")
  }
}
