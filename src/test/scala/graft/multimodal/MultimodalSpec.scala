package graft.multimodal

import graft.SparkSpec
import org.apache.spark.sql.SparkSession

class MultimodalSpec extends SparkSpec {

  test("sceneCuts: cuts where the luminance delta exceeds the threshold, per video") {
    import spark.implicits._
    val frames = Seq(
      // video 1: 10 -> 12 (no) -> 200 (cut) -> 205 (no)
      (1L, 0L, 10000L), (1L, 1L, 12000L), (1L, 2L, 200000L), (1L, 3L, 205000L),
      // video 2: single frame, never a cut
      (2L, 0L, 50000L),
      // video 3: two cuts, non-contiguous frame indexes (decode gaps)
      (3L, 0L, 0L), (3L, 2L, 90000L), (3L, 5L, 1000L))
      .toDF("doc_id", "frame_idx", "mean_milli_gray")
    val got = Multimodal.sceneCuts(frames, thresholdMilli = 60000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 2L), (3L, 2L), (3L, 5L)))
    intercept[IllegalArgumentException] {
      Multimodal.sceneCuts(frames, thresholdMilli = 0L)
    }
    // keyframes = first frame + each cut, scene-numbered from 0
    val kf = Multimodal.keyframes(frames, thresholdMilli = 60000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(kf === Set(
      (1L, 0L, 0L), (1L, 2L, 1L),
      (2L, 0L, 0L),
      (3L, 0L, 0L), (3L, 2L, 1L), (3L, 5L, 2L)))
  }
  import spark.implicits._

  private implicit def s: SparkSession = spark

  test("attachBinary produces (doc_id, media binary) schema") {
    val df = Multimodal.attachBinary(Seq((1L, "abc")).toDF("doc_id", "text"), "doc_id", "text")
    assert(df.columns.toSeq === Seq("doc_id", "media"))
    assert(df.schema("media").dataType.typeName === "binary")
    assert(df.head.getAs[Array[Byte]]("media").toSeq === "abc".getBytes("UTF-8").toSeq)
  }

  test("decode runs partition-parallel and derives metadata from bytes") {
    val df = Multimodal.attachBinary(
      Seq((1L, "a" * 100), (2L, ""), (3L, "xyz")).toDF("doc_id", "text"), "doc_id", "text")
      .repartition(3)
    val out = Multimodal.decode(df).collect().map(d => d.doc_id -> d).toMap
    assert(out(1L) === Multimodal.DecodedMedia(1L, 100, 64 + 100 % 64, 64 + (100 / 64) % 64, 'a'.toLong))
    assert(out(2L) === Multimodal.DecodedMedia(2L, 0, 64, 64, 0))
    assert(out(3L).checksum === 'x'.toLong)
  }

  test("decode parses TRUE dimensions of real PNG and BMP payloads") {
    def encode(fmt: String, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, 0xCAFE)
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos))
      bos.toByteArray
    }
    val png = encode("png", 120, 45)
    val bmp = encode("bmp", 7, 300)
    // full pipeline: binary column -> mapPartitions decode on executors
    val df = Seq((1L, png), (2L, bmp)).toDF("doc_id", "media")
    val out = Multimodal.decode(df).collect().map(d => d.doc_id -> d).toMap
    assert((out(1L).width, out(1L).height) === (120L, 45L))
    assert((out(2L).width, out(2L).height) === (7L, 300L))
    assert(out(1L).n_bytes === png.length.toLong)
    // PNG magic leads 0x89 (non-ASCII) -> checksum 0; BMP leads 'B'
    assert(out(1L).checksum === 0L)
    assert(out(2L).checksum === 'B'.toLong)
  }

  test("decodeMeta never sniffs magic bytes — text starting with 'BM' is safe") {
    // 'BM' is the BMP magic: the sniffing decodeBytes may hand such text to
    // a real reader, but the metadata-only codec (used by q27 over text
    // stand-ins) must apply the formula regardless of leading bytes
    val texty = "BMW dealers in the region reported record sales".getBytes("UTF-8")
    val m = Multimodal.decodeMeta(7L, texty)
    val n = texty.length.toLong
    assert(m === Multimodal.DecodedMedia(7L, n, 64 + n % 64, 64 + (n / 64) % 64, 'B'.toLong))
  }

  test("imageDimensions: corrupt/truncated headers fall back to None") {
    val png = {
      val img = new java.awt.image.BufferedImage(9, 9,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    assert(Multimodal.imageDimensions(png) === Some((9L, 9L)))
    assert(Multimodal.imageDimensions(png.take(10)) === None) // truncated
    assert(Multimodal.imageDimensions("plain text".getBytes) === None)
    assert(Multimodal.imageDimensions(Array.empty[Byte]) === None)
    assert(Multimodal.imageDimensions(null) === None)
  }

  test("resizeImage: exact nearest-neighbor contract, down- and up-scale") {
    // 2x2 source with four distinct colors
    val img = new java.awt.image.BufferedImage(2, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0x111111); img.setRGB(1, 0, 0x222222)
    img.setRGB(0, 1, 0x333333); img.setRGB(1, 1, 0x444444)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val bytes = bos.toByteArray
    // downscale to 1x1: src index 0*2/1 = 0 -> top-left pixel
    val down = Multimodal.resizeImage(bytes, 1, 1).get
    val d = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(down))
    assert((d.getWidth, d.getHeight) === (1, 1))
    assert((d.getRGB(0, 0) & 0xffffff) === 0x111111)
    // upscale to 4x4: each source pixel becomes an exact 2x2 block
    val up = Multimodal.resizeImage(bytes, 4, 4).get
    val u = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(up))
    assert((u.getWidth, u.getHeight) === (4, 4))
    for (y <- 0 until 4; x <- 0 until 4) {
      val want = Seq(Seq(0x111111, 0x222222), Seq(0x333333, 0x444444))(y / 2)(x / 2)
      assert((u.getRGB(x, y) & 0xffffff) === want, s"($x,$y)")
    }
  }

  test("resizeImage degrades to None on junk payloads and bad targets") {
    assert(Multimodal.resizeImage("not an image".getBytes, 4, 4) === None)
    assert(Multimodal.resizeImage(Array.empty[Byte], 4, 4) === None)
    assert(Multimodal.resizeImage(null, 4, 4) === None)
    val img = new java.awt.image.BufferedImage(2, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    assert(Multimodal.resizeImage(bos.toByteArray, 0, 4) === None)
  }

  test("sampleFrames explodes one row per stride offset") {
    val df = Multimodal.attachBinary(Seq((1L, "0123456789")).toDF("doc_id", "text"), "doc_id", "text")
    val frames = Multimodal.sampleFrames(df, 4).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(frames.toSeq === Seq((0L, 0L), (1L, 4L), (2L, 8L)))
  }

  test("decodePcm16: little-endian signed samples, exact RMS floor and peak") {
    // samples 3, -4: LE bytes (03 00, fc ff); RMS = sqrt(12.5) -> 3535 milli
    val bytes = Array[Byte](0x03, 0x00, 0xfc.toByte, 0xff.toByte)
    val d = Multimodal.decodePcm16(7L, bytes)
    assert(d === Multimodal.DecodedAudio(7L, 2L, 3535L, 4L))
    // byte order matters: 0x0100 = 256, not 1 — an endianness bug is visible
    val d2 = Multimodal.decodePcm16(1L, Array[Byte](0x00, 0x01))
    assert(d2.peak === 256L)
    // Short.MinValue: |s| must not overflow to a negative peak
    val d3 = Multimodal.decodePcm16(2L, Array[Byte](0x00, 0x80.toByte))
    assert(d3.peak === 32768L)
  }

  test("decodePcm16: trailing odd byte ignored, null and empty decode to zeros") {
    val d = Multimodal.decodePcm16(1L, Array[Byte](0x05, 0x00, 0x7f))
    assert(d.n_samples === 1L && d.peak === 5L)
    assert(Multimodal.decodePcm16(2L, null) === Multimodal.DecodedAudio(2L, 0L, 0L, 0L))
    assert(Multimodal.decodePcm16(3L, Array.emptyByteArray) === Multimodal.DecodedAudio(3L, 0L, 0L, 0L))
  }

  private def wav(rate: Int, channels: Int, samples: Seq[Int],
                  junkBeforeData: Boolean = false, fmtCode: Int = 1): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
    def le32(v: Int): Unit = { le16(v & 0xffff); le16((v >> 16) & 0xffff) }
    def tag(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
    tag("RIFF"); le32(0); tag("WAVE") // size field unchecked by the parser
    tag("fmt "); le32(16); le16(fmtCode); le16(channels); le32(rate)
    le32(rate * channels * 2); le16(channels * 2); le16(16)
    if (junkBeforeData) { tag("JUNK"); le32(3); bos.write(Array[Byte](1, 2, 3)); bos.write(0) } // odd size -> pad
    tag("data"); le32(samples.length * 2); samples.foreach(le16)
    bos.toByteArray
  }

  test("decodeWav parses fmt + data chunks, walking past interleaved chunks") {
    val d = Multimodal.decodeWav(1L, wav(8000, 1, Seq(300, -300, 300, -300)))
    assert(d === Multimodal.DecodedWav(1L, 8000L, 1L, 4L, 300000L, 300L))
    // a JUNK chunk with odd size + pad byte before data must not break the walk
    val d2 = Multimodal.decodeWav(2L, wav(44100, 2, Seq(5, -5), junkBeforeData = true))
    assert(d2 === Multimodal.DecodedWav(2L, 44100L, 2L, 2L, 5000L, 5L))
  }

  test("decodeWav degrades: garbage -> zeros, non-PCM fmt -> header only") {
    assert(Multimodal.decodeWav(1L, "not a wav at all".getBytes) ===
      Multimodal.DecodedWav(1L, 0L, 0L, 0L, 0L, 0L))
    assert(Multimodal.decodeWav(2L, null).sample_rate === 0L)
    // truncated data chunk: declared length runs past the payload
    val t = wav(8000, 1, Seq(1, 2, 3))
    assert(Multimodal.decodeWav(3L, t.dropRight(2)).sample_rate === 0L)
    // IEEE-float format code: header metadata surfaces, samples zeroed
    val f = Multimodal.decodeWav(4L, wav(16000, 1, Seq(9, 9), fmtCode = 3))
    assert(f === Multimodal.DecodedWav(4L, 16000L, 1L, 0L, 0L, 0L))
    // crafted chunk size near Int.MaxValue: Int arithmetic would wrap the
    // truncation check negative and crash downstream — must degrade to zeros
    val crafted = "RIFF".getBytes ++ Array[Byte](0, 0, 0, 0) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ Array[Byte](0xf0.toByte, 0xff.toByte, 0xff.toByte, 0x7f)
    assert(Multimodal.decodeWav(5L, crafted) === Multimodal.DecodedWav(5L, 0L, 0L, 0L, 0L, 0L))
  }

  test("decodeAudio runs the codec partition-parallel over binary payloads") {
    val payload = Array[Byte](0x0a, 0x00, 0xf6.toByte, 0xff.toByte) // +10, -10
    val df = Seq((1L, payload), (2L, payload)).toDF("doc_id", "media")
    val out = Multimodal.decodeAudio(df).collect().sortBy(_.doc_id)
    assert(out.map(_.rms_milli).toSeq === Seq(10000L, 10000L))
    assert(out.map(_.n_samples).toSeq === Seq(2L, 2L))
  }

  private def avi(width: Int, height: Int, frames: Int, usPerFrame: Int,
                  streams: Int, topJunk: Boolean = false,
                  hdrlJunk: Boolean = false): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
    def le32(v: Int): Unit = { le16(v & 0xffff); le16((v >> 16) & 0xffff) }
    def tag(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
    tag("RIFF"); le32(0); tag("AVI ")
    if (topJunk) { tag("JUNK"); le32(3); bos.write(Array[Byte](1, 2, 3)); bos.write(0) }
    tag("LIST"); le32(4 + (if (hdrlJunk) 12 else 0) + 8 + 56); tag("hdrl")
    if (hdrlJunk) { tag("JUNK"); le32(4); le32(0) }
    tag("avih"); le32(56)
    le32(usPerFrame); le32(0); le32(0); le32(0)
    le32(frames); le32(0); le32(streams); le32(0)
    le32(width); le32(height)
    le32(0); le32(0); le32(0); le32(0)
    tag("LIST"); le32(4); tag("movi")
    bos.toByteArray
  }

  test("decodeAvi descends into LIST hdrl and walks past JUNK at both levels") {
    val d = Multimodal.decodeAvi(1L, avi(320, 240, 120, 33333, 1))
    assert(d === Multimodal.DecodedVideo(1L, 320L, 240L, 120L, 33333L, 1L))
    // odd-size JUNK before the header list: fixed-offset parsing dies here
    val d2 = Multimodal.decodeAvi(2L, avi(640, 480, 48, 41667, 2, topJunk = true))
    assert(d2 === Multimodal.DecodedVideo(2L, 640L, 480L, 48L, 41667L, 2L))
    // JUNK inside hdrl before avih: the SUBchunk walk must also be real
    val d3 = Multimodal.decodeAvi(3L, avi(160, 120, 1, 50000, 1, hdrlJunk = true))
    assert(d3 === Multimodal.DecodedVideo(3L, 160L, 120L, 1L, 50000L, 1L))
  }

  test("decodeAvi degrades: garbage, WAVE form, truncation, hdrl-sans-avih -> zeros") {
    val zero = Multimodal.DecodedVideo(9L, 0L, 0L, 0L, 0L, 0L)
    assert(Multimodal.decodeAvi(9L, "definitely not an avi".getBytes) === zero)
    assert(Multimodal.decodeAvi(9L, null) === zero)
    // a WAV is RIFF but not form 'AVI ' — the form check must reject it
    assert(Multimodal.decodeAvi(9L, wav(8000, 1, Seq(1, 2))) === zero)
    // truncated mid-hdrl: declared sizes overrun the payload
    assert(Multimodal.decodeAvi(9L, avi(320, 240, 10, 33333, 1).dropRight(30)) === zero)
    // hdrl list present but no avih subchunk inside it
    val noAvih = {
      val bos = new java.io.ByteArrayOutputStream()
      def le32(v: Int): Unit = (0 to 3).foreach(i => bos.write((v >> (8 * i)) & 0xff))
      def tag(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
      tag("RIFF"); le32(0); tag("AVI "); tag("LIST"); le32(12); tag("hdrl")
      tag("JUNK"); le32(0)
      bos.toByteArray
    }
    assert(Multimodal.decodeAvi(9L, noAvih) === zero)
    // crafted 32-bit size near Int.MaxValue must not wrap the bounds check
    val crafted = "RIFF".getBytes ++ Array[Byte](0, 0, 0, 0) ++ "AVI ".getBytes ++
      "LIST".getBytes ++ Array[Byte](0xf0.toByte, 0xff.toByte, 0xff.toByte, 0x7f)
    assert(Multimodal.decodeAvi(9L, crafted) === zero)
  }

  /** MJPEG-in-AVI builder: uniform-gray JPEG frames as `00dc` chunks
    * inside `LIST movi` (optionally wrapped in `LIST rec `, preceded by an
    * odd-sized audio `01wb` chunk, and followed by an undecodable dc
    * chunk). Frames are (w, h, gray) triples; gray fills every pixel so
    * the decoded mean is the planted value within JPEG's DC-quantization
    * error. The graded q160 plants the same construction inline — keep
    * them in sync. */
  private def mjpegAvi(frames: Seq[(Int, Int, Int)],
                       topJunk: Boolean = false, recWrap: Boolean = false,
                       audioChunk: Boolean = false,
                       garbageDc: Boolean = false): Array[Byte] = {
    def le32(v: Int): Array[Byte] =
      Array(v, v >> 8, v >> 16, v >> 24).map(x => (x & 0xff).toByte)
    def chunk(id: String, data: Array[Byte]): Array[Byte] =
      id.getBytes("US-ASCII") ++ le32(data.length) ++ data ++
        (if ((data.length & 1) == 1) Array(0.toByte) else Array.empty[Byte])
    def jpeg(w: Int, h: Int, g: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, g * 0x010101)
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "jpg", bos))
      bos.toByteArray
    }
    val dcs = frames.map { case (w, h, g) => chunk("00dc", jpeg(w, h, g)) }
    val framePart =
      if (recWrap) chunk("LIST", "rec ".getBytes("US-ASCII") ++ dcs.flatten.toArray)
      else dcs.flatten.toArray
    val movi = "movi".getBytes("US-ASCII") ++
      (if (audioChunk) chunk("01wb", Array[Byte](1, 2, 3)) else Array.empty[Byte]) ++
      framePart ++
      (if (garbageDc) chunk("00dc", "not a jpeg".getBytes) else Array.empty[Byte])
    "RIFF".getBytes("US-ASCII") ++ le32(0) ++ "AVI ".getBytes("US-ASCII") ++
      (if (topJunk) chunk("JUNK", Array[Byte](7, 7, 7)) else Array.empty[Byte]) ++
      chunk("LIST", "movi".getBytes("US-ASCII") ++ movi.drop(4))
  }

  test("decodeMjpegFrames: planted uniform frames through movi/rec/audio walks") {
    val specs = Seq((16, 24, 40), (24, 16, 200), (32, 32, 117))
    for ((recWrap, audio, junk) <- Seq((false, false, false), (true, true, true),
                                       (true, false, false), (false, true, true))) {
      val out = Multimodal.decodeMjpegFrames(5L,
        mjpegAvi(specs, topJunk = junk, recWrap = recWrap, audioChunk = audio))
      assert(out.map(f => (f.frame_idx, f.width, f.height)) ===
        specs.zipWithIndex.map { case ((w, h, _), i) => (i.toLong, w.toLong, h.toLong) })
      val devs = out.zip(specs).map { case (f, (_, _, g)) =>
        math.abs(f.mean_milli_gray - 1000L * g) }
      info(s"rec=$recWrap audio=$audio: max mean deviation ${devs.max} milli-gray")
      assert(devs.max <= 2000L, s"JPEG mean drifted ${devs.max} milli-gray")
      assert(out.forall(_.doc_id == 5L))
    }
  }

  test("decodeMjpegFrames degrades: garbage/truncation -> empty; bad dc drops but keeps its index") {
    assert(Multimodal.decodeMjpegFrames(1L, "not avi".getBytes) === Seq.empty)
    assert(Multimodal.decodeMjpegFrames(1L, null) === Seq.empty)
    val ok = mjpegAvi(Seq((16, 16, 80)))
    // truncated: declared sizes overrun the payload -> fail closed
    assert(Multimodal.decodeMjpegFrames(1L, ok.dropRight(10)) === Seq.empty)
    // an undecodable dc chunk AFTER the real frames drops but consumes
    // index 1 (visible gap semantics, the dhash drop convention)
    val withGarbage = Multimodal.decodeMjpegFrames(2L,
      mjpegAvi(Seq((16, 16, 80)), garbageDc = true))
    assert(withGarbage.map(_.frame_idx) === Seq(0L))
    // audio-only movi: zero frames, not an error
    assert(Multimodal.decodeMjpegFrames(3L,
      mjpegAvi(Seq.empty, audioChunk = true)) === Seq.empty)
  }

  test("decodeFramesOf runs the codec partition-parallel over binary payloads") {
    val df = Seq((1L, mjpegAvi(Seq((16, 16, 50), (16, 16, 220)))),
      (2L, mjpegAvi(Seq((24, 16, 128)), recWrap = true))).toDF("doc_id", "media")
      .repartition(2)
    val out = Multimodal.decodeFramesOf(df).collect().sortBy(f => (f.doc_id, f.frame_idx))
    assert(out.map(f => (f.doc_id, f.frame_idx)) === Seq((1L, 0L), (1L, 1L), (2L, 0L)))
    assert(out.map(_.width).toSeq === Seq(16L, 16L, 24L))
  }

  test("decodeAvis runs the codec partition-parallel over binary payloads") {
    val df = Seq((1L, avi(320, 240, 10, 33333, 1)),
      (2L, avi(640, 480, 20, 41667, 2, topJunk = true))).toDF("doc_id", "media")
    val out = Multimodal.decodeAvis(df).collect().sortBy(_.doc_id)
    assert(out.map(_.width).toSeq === Seq(320L, 640L))
    assert(out.map(_.n_frames).toSeq === Seq(10L, 20L))
  }

  private def plantedImage(sig: Long, fmt: String = "png"): Array[Byte] =
    PlantedImages.planted(sig, fmt)

  test("dhash64 recovers the planted gradient-sign pattern exactly") {
    val sigs = Seq(0L, -1L, 0x5a5a5a5a5a5a5a5aL, 0x123456789abcdef0L)
    sigs.foreach { sig =>
      assert(Multimodal.dhash64(plantedImage(sig)) === Some(sig))
      // BMP rendition of the same pixels hashes identically (the point of
      // a perceptual hash: the container doesn't matter, the pixels do)
      assert(Multimodal.dhash64(plantedImage(sig, "bmp")) === Some(sig))
    }
  }

  test("dhash64 downsamples larger images and degrades to None on garbage") {
    // a 90x80 image goes through the bilinear resample path: we only pin
    // that it hashes AND that a re-encode of the same pixels agrees
    val big = new java.awt.image.BufferedImage(90, 80,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 80; x <- 0 until 90)
      big.setRGB(x, y, ((x * 7 + y * 13) % 256) * 0x010101)
    def enc(fmt: String) = {
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(big, fmt, bos)); bos.toByteArray
    }
    val hPng = Multimodal.dhash64(enc("png"))
    assert(hPng.isDefined)
    assert(Multimodal.dhash64(enc("bmp")) === hPng)
    assert(Multimodal.dhash64("not an image at all".getBytes) === None)
    assert(Multimodal.dhash64(Array.emptyByteArray) === None)
    assert(Multimodal.dhash64(null) === None)
    // truncated PNG: magic sniffs as image, decode fails -> None, not throw
    assert(Multimodal.dhash64(enc("png").take(20)) === None)
  }

  test("dhashImages drops undecodable payloads and hashes the rest") {
    val df = Seq((1L, plantedImage(42L)), (2L, "junk".getBytes),
      (3L, plantedImage(42L, "bmp"))).toDF("doc_id", "media").repartition(3)
    val out = Multimodal.dhashImages(df).collect().sortBy(_.doc_id)
    assert(out.map(_.doc_id).toSeq === Seq(1L, 3L))
    assert(out.map(_.phash).distinct.toSeq === Seq(42L))
  }

  private def pcm(samples: Seq[Int]): Array[Byte] = {
    val b = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (v, i) =>
      b(2 * i) = (v & 0xff).toByte; b(2 * i + 1) = ((v >> 8) & 0xff).toByte
    }
    b
  }
  private def samplesOf(b: Array[Byte]): Seq[Int] =
    (0 until b.length / 2).map(i =>
      (((b(2 * i + 1): Int) << 8) | (b(2 * i) & 0xff)).toShort.toInt)

  test("afingerprintPcm16 recovers the planted energy-delta pattern; volume-invariant") {
    def pcm(sig: Long, scale: Int = 1): Array[Byte] = {
      val (frames, per) = (65, 64)
      val bytes = new Array[Byte](frames * per * 2)
      var a = 1000
      for (f <- 0 until frames) {
        if (f > 0) a += (if (((sig >>> (f - 1)) & 1L) == 1L) 10 else -10)
        for (i <- 0 until per) {
          val s = (if (i % 2 == 0) a else -a) * scale
          bytes(2 * (f * per + i)) = (s & 0xff).toByte
          bytes(2 * (f * per + i) + 1) = ((s >> 8) & 0xff).toByte
        }
      }
      bytes
    }
    val sigs = Seq(0x5a5a5a5a5a5a5a5aL, 0x123456789abcdef0L, 1L)
    sigs.foreach { sig =>
      assert(Multimodal.afingerprintPcm16(1L, pcm(sig)).ahash === sig)
      // re-leveled rendition (double volume) fingerprints identically —
      // the point of sign-of-energy-difference: loudness scales out
      assert(Multimodal.afingerprintPcm16(1L, pcm(sig, scale = 2)).ahash === sig)
    }
    // degenerates: silence -> 0; monotone rising fade -> -1; short -> 0
    assert(Multimodal.afingerprintPcm16(1L, new Array[Byte](65 * 64 * 2)).ahash === 0L)
    assert(Multimodal.afingerprintPcm16(1L, pcm(-1L)).ahash === -1L)
    assert(Multimodal.afingerprintPcm16(1L, new Array[Byte](10)).ahash === 0L)
    assert(Multimodal.afingerprintPcm16(1L, null).ahash === 0L)
  }

  test("resamplePcm16: exact nearest-sample index map both directions, identity at same length") {
    val src = Seq(100, -200, 300, -32768, 32767, 7) // 6 samples
    // downsample to 3: indices 0*6/3=0, 1*6/3=2, 2*6/3=4
    assert(samplesOf(Multimodal.resamplePcm16(pcm(src), 3).get) === Seq(100, 300, 32767))
    // upsample to 8: idx floor(i*6/8) = 0,0,1,2,3,3,4,5
    assert(samplesOf(Multimodal.resamplePcm16(pcm(src), 8).get) ===
      Seq(100, 100, -200, 300, -32768, -32768, 32767, 7))
    // same length = identity; one-sample source fans out
    assert(samplesOf(Multimodal.resamplePcm16(pcm(src), 6).get) === src)
    assert(samplesOf(Multimodal.resamplePcm16(pcm(Seq(-5)), 4).get) === Seq(-5, -5, -5, -5))
    // trailing odd byte ignored (decodePcm16 contract)
    assert(samplesOf(Multimodal.resamplePcm16(pcm(src) :+ 0x7f.toByte, 3).get)
      === Seq(100, 300, 32767))
    // degenerate inputs
    assert(Multimodal.resamplePcm16(null, 3) === None)
    assert(Multimodal.resamplePcm16(Array[Byte](1), 3) === None)
    assert(Multimodal.resamplePcm16(pcm(src), 0) === None)
  }

  test("resampleAudio maps partition-parallel and drops sample-less payloads") {
    val df = Seq((1L, pcm(Seq(10, 20, 30, 40))), (2L, Array.emptyByteArray),
      (3L, pcm(Seq(-1)))).toDF("doc_id", "media").repartition(3)
    val out = Multimodal.resampleAudio(df, 2).collect().sortBy(_.doc_id)
    assert(out.map(_.doc_id).toSeq === Seq(1L, 3L))
    assert(samplesOf(out(0).media) === Seq(10, 30))
    assert(samplesOf(out(1).media) === Seq(-1, -1))
  }

  test("videoSignature: sign-of-keyframe-luminance bits; shift-invariant; single-scene drops") {
    def frames(rows: (Long, Long, Long)*) =
      rows.toDF("doc_id", "frame_idx", "mean_milli_gray")
    def sigs(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      Multimodal.videoSignature(df, thresholdMilli = 15000L).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // video 1: keyframes at 100k, 150k, 60k, 120k -> deltas +,-,+ ->
    // bits 0 and 2 set = 5; video 2 = same walk shifted +7k gray
    // (re-level invariance); video 3: a sub-threshold wiggle at frame 1
    // is NOT a keyframe, so the signature skips it entirely
    val base = frames(
      (1L, 0L, 100000L), (1L, 1L, 150000L), (1L, 2L, 60000L), (1L, 3L, 120000L),
      (2L, 0L, 107000L), (2L, 1L, 157000L), (2L, 2L, 67000L), (2L, 3L, 127000L),
      (3L, 0L, 100000L), (3L, 1L, 104000L), (3L, 2L, 150000L), (3L, 3L, 60000L))
    val got = sigs(base)
    assert(got(1L) === 5L)
    assert(got(2L) === 5L)
    // video 3 keyframes: 100k, 150k, 60k -> deltas +,- -> bit 0 = 1
    assert(got(3L) === 1L)
    // a single-keyframe video (no cuts) has no temporal evidence: no row
    assert(sigs(frames((9L, 0L, 80000L), (9L, 1L, 81000L))) === Map.empty)
  }
}
