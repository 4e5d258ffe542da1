package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: media as opaque `binary` columns with typed
  * metadata, decoded batch-wise on executors.
  *
  * The Spark concerns — schema, partition-parallel batch decode via
  * mapPartitions, typed output Encoders, never shipping bytes to the driver —
  * are implemented and tested. The codec is REAL for images: `decodeBytes`
  * parses true dimensions from any format the JDK's ImageIO registry knows
  * (PNG/JPEG/BMP/GIF — no external dependency), reading only the header,
  * never the pixel planes. Payloads no installed reader recognizes (audio,
  * video, plain text) fall back to a deterministic metadata stub so the
  * pipeline is total; a video/audio codec would slot into the same
  * per-partition iterator, which is where native decoder contexts amortize
  * (one instance per partition, not per row).
  */
object Multimodal {

  /** Media row: id + opaque payload. */
  case class MediaRecord(doc_id: Long, media: Array[Byte])

  /** Decoded metadata — all Long for cross-engine schema stability. */
  case class DecodedMedia(doc_id: Long, n_bytes: Long, width: Long, height: Long, checksum: Long)

  // ImageIO's disk cache would write temp files per decode on executors;
  // header reads fit in memory, always.
  javax.imageio.ImageIO.setUseCache(false)

  /** True (width, height) for any payload an installed ImageIO reader
    * recognizes by magic bytes; None otherwise. Header-only: the reader's
    * getWidth/getHeight never touch the pixel data, so cost is O(header),
    * not O(pixels) — the right scan shape for a metadata pass over 100 TB
    * of media. ANY reader failure (not just IOException — readers throw
    * IllegalArgument/IndexOutOfBounds on garbage headers too) and any
    * nonsensical dimension falls back to None: a malformed payload must
    * degrade, never kill the task. */
  def imageDimensions(bytes: Array[Byte]): Option[(Long, Long)] = {
    if (bytes == null || bytes.length == 0) return None
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) None
      else {
        val r = readers.next()
        try {
          r.setInput(iis)
          val (w, h) = (r.getWidth(0).toLong, r.getHeight(0).toLong)
          if (w > 0 && h > 0) Some((w, h)) else None
        } catch {
          case scala.util.control.NonFatal(_) => None // truncated/corrupt header
        } finally r.dispose()
      }
    } finally iis.close()
  }

  /** Metadata-only codec: the deterministic formula decode, independent of
    * payload content. Use where payloads are KNOWN to be non-media — e.g.
    * text stand-ins in plumbing tests, whose leading bytes must not be
    * magic-sniffed (a text that happens to start with "BM" would otherwise
    * be claimed by the BMP reader and yield garbage dimensions). */
  def decodeMeta(id: Long, bytes: Array[Byte]): DecodedMedia = {
    val n = if (bytes == null) 0L else bytes.length.toLong
    // checksum: first byte when ASCII, else 0 — keeps the value identical
    // whether computed byte-wise (here) or codepoint-wise (the SQL oracle's
    // ascii()), since any non-ASCII leading character maps to 0 both ways
    val b0 = if (n == 0) 0L else bytes(0).toLong & 0xffL
    val checksum = if (b0 < 128) b0 else 0L
    DecodedMedia(id, n, 64 + n % 64, 64 + (n / 64) % 64, checksum)
  }

  /** Decode: real image-header parse when the payload is a recognized image
    * format; the deterministic metadata formula otherwise (keeps the
    * pipeline total over text/audio payloads). */
  def decodeBytes(id: Long, bytes: Array[Byte]): DecodedMedia =
    imageDimensions(bytes) match {
      case Some((w, h)) =>
        val m = decodeMeta(id, bytes)
        DecodedMedia(id, m.n_bytes, w, h, m.checksum)
      case None => decodeMeta(id, bytes)
    }

  /** Project a text column into an opaque binary media column — the test
    * stand-in for reading real image/audio payloads. */
  def attachBinary(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    df.select(col(idCol).cast(LongType).as("doc_id"),
      col(payloadCol).cast(BinaryType).as("media"))

  /** Partition-parallel decode: binary media -> typed metadata. The batch
    * shape (one iterator per partition) is what a real codec needs to reuse
    * native contexts; output is a typed Dataset with a product Encoder.
    * `codec` defaults to the sniffing decodeBytes; pass decodeMeta for
    * payloads known to be non-media. */
  def decode(media: DataFrame,
             codec: (Long, Array[Byte]) => DecodedMedia = decodeBytes)
            (implicit spark: SparkSession): Dataset[DecodedMedia] = {
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { it =>
      // real codec: init decoder once here, close at iterator end
      it.map(r => codec(r.doc_id, r.media))
    }
  }

  /** Decoded audio metadata — the standard audio-QC triple (duration in
    * samples, loudness, clipping headroom), all Long for cross-engine
    * schema stability. `rms_milli` is floor(1000 * RMS) so the loudness
    * survives the integer schema. */
  case class DecodedAudio(doc_id: Long, n_samples: Long, rms_milli: Long, peak: Long)

  /** PCM16-LE decode: the payload as signed 16-bit little-endian mono
    * samples (the WAV data-chunk layout; a trailing odd byte is ignored,
    * a null/short payload decodes to zeros rather than killing the task).
    * Real arithmetic on the real byte layout — unlike image decode there
    * is no codec registry to defer to, so the audio path has no stub: this
    * IS the decoder. Cost is one linear pass per payload, executed inside
    * the same per-partition iterator as the other codecs. */
  def decodePcm16(id: Long, bytes: Array[Byte]): DecodedAudio = {
    if (bytes == null || bytes.length < 2) return DecodedAudio(id, 0L, 0L, 0L)
    val n = bytes.length / 2
    var i = 0; var sumSq = 0.0; var peak = 0L
    while (i < n) {
      val s = (((bytes(2 * i + 1): Int) << 8) | (bytes(2 * i) & 0xff)).toShort.toLong
      val a = math.abs(s)
      if (a > peak) peak = a
      sumSq += s.toDouble * s
      i += 1
    }
    DecodedAudio(id, n.toLong, math.floor(math.sqrt(sumSq / n) * 1000.0).toLong, peak)
  }

  /** Partition-parallel PCM16 audio decode — same batch shape as [[decode]]. */
  def decodeAudio(media: DataFrame)(implicit spark: SparkSession): Dataset[DecodedAudio] = {
    import spark.implicits._
    media.as[MediaRecord].mapPartitions(it => it.map(r => decodePcm16(r.doc_id, r.media)))
  }

  /** WAV container metadata + decoded samples. sample_rate/channels come
    * from the fmt chunk; the audio triple from the data chunk's PCM16. */
  case class DecodedWav(doc_id: Long, sample_rate: Long, channels: Long,
                        n_samples: Long, rms_milli: Long, peak: Long)

  private def le16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)

  /** Parse a RIFF/WAVE payload: walk the chunk list (chunks are NOT at
    * fixed offsets — encoders insert LIST/fact chunks before data), read
    * sample rate + channel count from `fmt `, decode the `data` chunk as
    * PCM16. Same O(header)+O(samples) single pass as the other codecs; any
    * malformed structure degrades to an all-zero row, never a task kill.
    * Only format code 1 (integer PCM) with 16-bit samples is decoded —
    * float/ADPCM payloads surface their header metadata with zeroed sample
    * stats rather than garbage. */
  def decodeWav(id: Long, bytes: Array[Byte]): DecodedWav = {
    val zero = DecodedWav(id, 0L, 0L, 0L, 0L, 0L)
    if (bytes == null || bytes.length < 12 ||
        !(bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F') ||
        !(bytes(8) == 'W' && bytes(9) == 'A' && bytes(10) == 'V' && bytes(11) == 'E'))
      return zero
    var off = 12
    var rate = 0L; var channels = 0L; var fmtCode = -1; var bps = 0
    var dataOff = -1; var dataLen = 0
    while (off + 8 <= bytes.length) {
      val cid = new String(bytes, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
      // compare in Long: a crafted 32-bit size near Int.MaxValue would wrap
      // `off + 8 + len` negative and sail past the truncation check (then
      // crash the task downstream — violating the degrade-don't-kill contract)
      val lenL = le32(bytes, off + 4)
      if (off + 8L + lenL > bytes.length) return zero // truncated chunk
      val len = lenL.toInt
      if (cid == "fmt " && len >= 16) {
        fmtCode = le16(bytes, off + 8)
        channels = le16(bytes, off + 10).toLong
        rate = le32(bytes, off + 12)
        bps = le16(bytes, off + 22)
      } else if (cid == "data") {
        dataOff = off + 8; dataLen = len
      }
      off += 8 + len + (len & 1) // chunks are word-aligned; odd sizes pad
    }
    if (rate <= 0 || channels <= 0) return zero
    if (fmtCode != 1 || bps != 16 || dataOff < 0)
      return DecodedWav(id, rate, channels, 0L, 0L, 0L)
    val pcm = decodePcm16(id, java.util.Arrays.copyOfRange(bytes, dataOff, dataOff + dataLen))
    DecodedWav(id, rate, channels, pcm.n_samples, pcm.rms_milli, pcm.peak)
  }

  /** Partition-parallel WAV decode — same batch shape as [[decode]]. */
  def decodeWavs(media: DataFrame)(implicit spark: SparkSession): Dataset[DecodedWav] = {
    import spark.implicits._
    media.as[MediaRecord].mapPartitions(it => it.map(r => decodeWav(r.doc_id, r.media)))
  }

  /** AVI MainAVIHeader metadata — the video leg of the multimodal triple
    * (image [[imageDimensions]], audio [[decodeWav]], video here). */
  case class DecodedVideo(doc_id: Long, width: Long, height: Long,
                          n_frames: Long, us_per_frame: Long, n_streams: Long)

  /** Parse a RIFF/AVI payload's MainAVIHeader: AVI nests the `avih` header
    * one level down, inside the `LIST hdrl` compound chunk, so this walks
    * the TOP-LEVEL chunk list to `LIST hdrl` and then hdrl's SUBchunks to
    * `avih` — a fixed-offset parse breaks the moment an encoder puts a
    * JUNK/INFO chunk before either level, and real muxers do. Same
    * contracts as [[decodeWav]]: 32-bit sizes compared in Long so a
    * crafted size cannot wrap past the truncation check, word-aligned
    * chunk advance (odd sizes pad), and any malformed structure degrades
    * to the all-zero row rather than a task kill. Header-only cost: the
    * movi payload (the actual frames) is never touched, so decoding
    * metadata for a 100 TB video corpus reads only the leading bytes of
    * each blob. */
  def decodeAvi(id: Long, bytes: Array[Byte]): DecodedVideo = {
    val zero = DecodedVideo(id, 0L, 0L, 0L, 0L, 0L)
    if (bytes == null || bytes.length < 12 ||
        !(bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F') ||
        !(bytes(8) == 'A' && bytes(9) == 'V' && bytes(10) == 'I' && bytes(11) == ' '))
      return zero
    var off = 12
    while (off + 8 <= bytes.length) {
      val cid = new String(bytes, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val lenL = le32(bytes, off + 4)
      if (off + 8L + lenL > bytes.length) return zero // truncated chunk
      val len = lenL.toInt
      if (cid == "LIST" && len >= 4 &&
          new String(bytes, off + 8, 4, java.nio.charset.StandardCharsets.US_ASCII) == "hdrl") {
        var so = off + 12
        val end = off + 8 + len
        while (so + 8 <= end) {
          val sid = new String(bytes, so, 4, java.nio.charset.StandardCharsets.US_ASCII)
          val slenL = le32(bytes, so + 4)
          if (so + 8L + slenL > end) return zero // subchunk overruns hdrl
          val slen = slenL.toInt
          if (sid == "avih" && slen >= 40) {
            val base = so + 8
            return DecodedVideo(id,
              width = le32(bytes, base + 32), height = le32(bytes, base + 36),
              n_frames = le32(bytes, base + 16), us_per_frame = le32(bytes, base),
              n_streams = le32(bytes, base + 24))
          }
          so += 8 + slen + (slen & 1)
        }
        return zero // hdrl without avih
      }
      off += 8 + len + (len & 1)
    }
    zero
  }

  /** Partition-parallel AVI header decode — same batch shape as [[decode]]. */
  def decodeAvis(media: DataFrame)(implicit spark: SparkSession): Dataset[DecodedVideo] = {
    import spark.implicits._
    media.as[MediaRecord].mapPartitions(it => it.map(r => decodeAvi(r.doc_id, r.media)))
  }

  /** One decoded video FRAME: its movi-order index, pixel dimensions, and
    * the integer mean gray of the decoded plane in milli-units
    * (1000·Σgray/pixels, Long arithmetic — the integer-skeleton grading
    * convention; JPEG is lossy, so gates compare the mean against a
    * planted uniform value within a measured margin, never bit-exact). */
  case class DecodedFrame(doc_id: Long, frame_idx: Long, width: Long,
                          height: Long, mean_milli_gray: Long)

  /** Decode the FRAME PIXELS of an MJPEG-in-AVI payload — the pixel-level
    * completion of the video leg ([[decodeAvi]] stops at the header;
    * image q87 and audio q101/q127 already do sample-level work). Walks
    * the top-level RIFF chunks to every `LIST movi`, then movi's
    * subchunks: `##dc` compressed-video chunks (two stream digits + "dc",
    * the AVI stream-chunk naming) are MJPEG frames — each one a complete
    * JPEG — and decode through the same ImageIO path as every image
    * operator here; one level of `LIST rec ` nesting is walked too (real
    * muxers group interleaved chunks into rec lists). Non-video chunks
    * (audio `##wb`, index, JUNK) skip by size. frame_idx is the chunk's
    * position among the payload's dc chunks in movi order; a dc chunk no
    * ImageIO reader decodes DROPS but still consumes its index (the
    * [[dhash64]] drop convention — the gap is visible to callers), while
    * a STRUCTURALLY malformed payload (bad magic, chunk overrun) returns
    * zero frames, fail-closed, same contracts as [[decodeAvi]]: Long
    * size comparisons, word-aligned advance, no task kills. Cost is
    * O(payload) BY NATURE — frames are the payload, unlike the
    * header-only metadata pass. */
  def decodeMjpegFrames(id: Long, bytes: Array[Byte]): Seq[DecodedFrame] = {
    if (bytes == null || bytes.length < 12 ||
        !(bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F') ||
        !(bytes(8) == 'A' && bytes(9) == 'V' && bytes(10) == 'I' && bytes(11) == ' '))
      return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[DecodedFrame]
    var idx = 0L
    def isDc(cid: String): Boolean =
      cid.length == 4 && cid(0).isDigit && cid(1).isDigit &&
        cid(2) == 'd' && cid(3) == 'c'
    // walk one chunk run [start, end); false on structural malformation
    def walk(start: Int, end: Int, depth: Int): Boolean = {
      var so = start
      while (so + 8 <= end) {
        val cid = new String(bytes, so, 4, java.nio.charset.StandardCharsets.US_ASCII)
        val lenL = le32(bytes, so + 4)
        if (so + 8L + lenL > end) return false
        val len = lenL.toInt
        if (cid == "LIST" && len >= 4 && depth < 1 &&
            new String(bytes, so + 8, 4, java.nio.charset.StandardCharsets.US_ASCII) == "rec ") {
          if (!walk(so + 12, so + 8 + len, depth + 1)) return false
        } else if (isDc(cid)) {
          val img =
            try javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes, so + 8, len))
            catch { case scala.util.control.NonFatal(_) => null }
          if (img != null && img.getWidth > 0 && img.getHeight > 0) {
            val (w, h) = (img.getWidth, img.getHeight)
            var sum = 0L
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) { sum += grayOf(img.getRGB(x, y)); x += 1 }
              y += 1
            }
            out += DecodedFrame(id, idx, w, h, 1000L * sum / (w.toLong * h))
          }
          idx += 1
        }
        so += 8 + len + (len & 1)
      }
      true
    }
    var off = 12
    while (off + 8 <= bytes.length) {
      val cid = new String(bytes, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val lenL = le32(bytes, off + 4)
      if (off + 8L + lenL > bytes.length) return Seq.empty // truncated chunk
      val len = lenL.toInt
      if (cid == "LIST" && len >= 4 &&
          new String(bytes, off + 8, 4, java.nio.charset.StandardCharsets.US_ASCII) == "movi") {
        if (!walk(off + 12, off + 8 + len, 0)) return Seq.empty
      }
      off += 8 + len + (len & 1)
    }
    out.toSeq
  }

  /** Partition-parallel MJPEG frame decode — one output row per decoded
    * frame, same batch shape as [[decode]]. */
  def decodeFramesOf(media: DataFrame)(implicit spark: SparkSession): Dataset[DecodedFrame] = {
    import spark.implicits._
    media.as[MediaRecord].mapPartitions(it =>
      it.flatMap(r => decodeMjpegFrames(r.doc_id, r.media)))
  }

  /** SCENE-CHANGE detection over a decoded frame table
    * ([[decodeFramesOf]] output): a cut lands at frame i when the mean
    * brightness jumps more than `thresholdMilli` from the PREVIOUS
    * decoded frame — the classic luminance-delta shot detector
    * (hard-cut detection via frame-difference thresholding; the
    * first-pass every video-curation pipeline runs before sampling
    * keyframes, so "one frame per scene" replaces "one frame per N").
    * Undecodable frames are already absent from the input (the decode
    * contract), so deltas compare consecutive DECODED frames.
    *
    * Output: (doc_id, cut_at) — frame indexes where a new scene starts.
    * Plan: one keyed window per video ordered by frame_idx
    * (frames-per-video-bounded partitions, never corpus-global), a lag,
    * a filter. Composes with [[decodeFramesOf]] into decode -> detect
    * -> sample keyframes without materializing pixels anywhere. */
  def sceneCuts(frames: DataFrame, thresholdMilli: Long): DataFrame = {
    require(thresholdMilli > 0,
      s"sceneCuts: threshold must be positive, got $thresholdMilli")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    frames
      .withColumn("__prev", lag(col("mean_milli_gray"), 1).over(w))
      .filter(col("__prev").isNotNull &&
        abs(col("mean_milli_gray") - col("__prev")) > thresholdMilli)
      .select(col("doc_id"), col("frame_idx").as("cut_at"))
  }

  /** KEYFRAME selection: one frame per scene — each video's first
    * decoded frame plus every [[sceneCuts]] cut frame, numbered with a
    * 0-based `scene_idx`. The sampling layout a video-training pipeline
    * feeds its encoder ("one frame per scene" instead of "one frame per
    * N" — q35's uniform sampler upgraded with content awareness).
    * Same keyed per-video windows as the detector; the scene number is
    * a second row_number over the already-filtered keyframe rows. */
  def keyframes(frames: DataFrame, thresholdMilli: Long): DataFrame =
    keyframeRows(frames, thresholdMilli)
      .select(col("doc_id"), col("frame_idx"), col("scene_idx"))

  /** [[keyframes]] with the keyframe's own `mean_milli_gray` retained —
    * the shared core of the public selector and [[videoSignature]]
    * (which needs the luminance back without a re-join). */
  private def keyframeRows(frames: DataFrame, thresholdMilli: Long): DataFrame = {
    require(thresholdMilli > 0,
      s"keyframes: threshold must be positive, got $thresholdMilli")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    frames
      .withColumn("__prev", lag(col("mean_milli_gray"), 1).over(w))
      .filter(col("__prev").isNull ||
        abs(col("mean_milli_gray") - col("__prev")) > thresholdMilli)
      .withColumn("scene_idx", (row_number().over(w) - 1).cast(LongType))
  }

  /** Per-video 64-bit TEMPORAL signature — the video member of the
    * packed-fingerprint family (image dHash [[dhash64]], audio
    * energy-delta [[afingerprintPcm16]]): select the scene keyframes
    * ([[keyframes]] — content-aware, so the signature survives
    * frame-rate changes and duplicated frames that shift raw frame
    * indexes), then set bit i iff keyframe i+1 is BRIGHTER than
    * keyframe i. Sign-of-luminance-delta along the scene sequence is
    * the dHash gradient idea applied across TIME (the ordinal-measure
    * family of video copy detection: re-encoded / re-leveled / lightly
    * edited renditions preserve the scene structure and its brightness
    * ordering, so they land a few Hamming bits apart, while unrelated
    * videos sit near 32) — and like its siblings it is brightness-shift
    * invariant: a constant re-level offsets both sides of every delta.
    * Scenes beyond 64 do not contribute (bits are scene_idx-indexed);
    * videos with fewer than two keyframes emit NO row (a single-scene
    * clip carries no temporal pairing evidence — callers wanting a
    * total pipeline anti-join against the output, the [[ImageHash]]
    * convention). Mine pairs with
    * [[graft.dedup.Dedup.packedNearDups]] after the family's
    * degenerate 0/-1 filter (monotone brightness ramps carry no mixed
    * structure). Plan: the keyframe windows plus one keyed aggregate,
    * all on the doc_id exchange — frames-per-video-bounded partitions,
    * never corpus-global. */
  def videoSignature(frames: DataFrame, thresholdMilli: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("scene_idx"))
    keyframeRows(frames, thresholdMilli)
      .withColumn("__next", lead(col("mean_milli_gray"), 1).over(w))
      .filter(col("__next").isNotNull && col("scene_idx") < 64)
      .groupBy(col("doc_id"))
      .agg(sum(when(col("__next") > col("mean_milli_gray"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(scene_idx AS INT))"))
        .otherwise(lit(0L))).as("vsig"))
  }

  /** Perceptual image hash row: id + 64-bit dHash over the decoded pixels.
    * Rows whose payload no ImageIO reader decodes are DROPPED (a perceptual
    * hash of non-pixels is meaningless; callers wanting a total pipeline
    * can anti-join against the output to find the undecodable ids). */
  case class ImageHash(doc_id: Long, phash: Long)

  private def grayOf(rgb: Int): Int = {
    val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff; val b = rgb & 0xff
    (299 * r + 587 * g + 114 * b) / 1000
  }

  /** 64-bit difference hash (dHash): decode the FULL pixel plane (unlike
    * [[imageDimensions]] this is an O(pixels) pass — inherent to perceptual
    * hashing), downsample to a 9×8 grayscale grid, and set bit (y*8+x) iff
    * gray(x,y) < gray(x+1,y). Horizontal gradient signs survive re-encode,
    * resize and small edits, so near-identical images land within a few
    * bits — the standard cheap perceptual hash (dHash, as popularized by
    * the pHash family; no external dependency). A 9×8 input skips the
    * resample entirely, which makes the hash exactly derivable for planted
    * test images. Any decode failure degrades to None, never a task kill. */
  def dhash64(bytes: Array[Byte]): Option[Long] = {
    if (bytes == null || bytes.length == 0) return None
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      catch { case scala.util.control.NonFatal(_) => null }
    if (img == null) return None
    try {
      val (tw, th) = (9, 8)
      val small =
        if (img.getWidth == tw && img.getHeight == th) img
        else {
          val s = new java.awt.image.BufferedImage(tw, th,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = s.createGraphics()
          try {
            g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img, 0, 0, tw, th, null)
          } finally g.dispose()
          s
        }
      var sig = 0L
      var y = 0
      while (y < th) {
        var prev = grayOf(small.getRGB(0, y))
        var x = 0
        while (x < 8) {
          val cur = grayOf(small.getRGB(x + 1, y))
          if (prev < cur) sig |= 1L << (y * 8 + x)
          prev = cur
          x += 1
        }
        y += 1
      }
      Some(sig)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Partition-parallel perceptual hashing — same batch shape as [[decode]];
    * undecodable payloads drop out (see [[ImageHash]]). */
  def dhashImages(media: DataFrame)(implicit spark: SparkSession): Dataset[ImageHash] = {
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { it =>
      it.flatMap(r => dhash64(r.media).map(h => ImageHash(r.doc_id, h)))
    }
  }

  /** 64-bit audio fingerprint — [[ImageHash]]'s sibling for the PCM
    * modality. */
  case class AudioHash(doc_id: Long, ahash: Long)

  /** Time-domain ENERGY-DELTA audio fingerprint — the dHash idea applied
    * to the sample stream (the sign-of-band-energy-difference family of
    * Haitsma & Kalker's audio fingerprinting, reduced to the time domain
    * so the whole computation is integer-exact and FFT-free): the PCM16
    * stream splits into 65 equal frames, per-frame energy is the exact
    * integer sum of squared samples, and bit i says whether frame i+1 is
    * louder than frame i. Sign-of-difference is invariant under volume
    * scaling (energies scale together) and local edits flip only the bits
    * whose frames they touch — re-encoded / re-leveled / slightly-trimmed
    * renditions land a few Hamming bits apart, unrelated clips near 32.
    * A trailing partial frame is ignored (the 65th boundary is the last
    * full one); payloads shorter than 65 full frames (or degenerate —
    * see [[graft.dedup.Dedup.audioNearDups]]'s 0/-1 filter) carry no
    * pairing evidence. Long-safe: per-frame energy overflows only past
    * ~2^33 samples per frame (a >17 GB payload). */
  def afingerprintPcm16(id: Long, bytes: Array[Byte]): AudioHash = {
    if (bytes == null || bytes.length < 2 * 65) return AudioHash(id, 0L)
    val n = bytes.length / 2
    val frame = n / 65
    if (frame == 0) return AudioHash(id, 0L)
    var h = 0L
    var prev = 0L
    var f = 0
    while (f < 65) {
      var e = 0L
      var i = f * frame
      val end = i + frame
      while (i < end) {
        val s = (((bytes(2 * i + 1): Int) << 8) | (bytes(2 * i) & 0xff)).toShort.toLong
        e += s * s
        i += 1
      }
      if (f > 0 && e > prev) h |= 1L << (f - 1)
      prev = e
      f += 1
    }
    AudioHash(id, h)
  }

  /** Partition-parallel audio fingerprinting — same batch shape as
    * [[decodeAudio]]. */
  def afingerprintAudio(media: DataFrame)(implicit spark: SparkSession): Dataset[AudioHash] = {
    import spark.implicits._
    media.as[MediaRecord].mapPartitions(it =>
      it.map(r => afingerprintPcm16(r.doc_id, r.media)))
  }

  /** REAL pixel resize: decode → nearest-neighbor resample to exactly
    * (tw, th) → lossless PNG re-encode. Nearest-neighbor with pure integer
    * index math (src = dst * srcDim / dstDim, floor) — deterministic across
    * JVMs (no float filtering kernels, no rendering-pipeline variance), the
    * property that lets planted-image tests assert exact output pixels. The
    * fixed target is the canonical training-pipeline shape (vision encoders
    * take a fixed input size); both down- and up-scaling are defined.
    * Undecodable payloads degrade to None, never a task kill. */
  def resizeImage(bytes: Array[Byte], tw: Int, th: Int): Option[Array[Byte]] = {
    if (bytes == null || bytes.length == 0 || tw <= 0 || th <= 0) return None
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      catch { case scala.util.control.NonFatal(_) => null }
    if (img == null || img.getWidth <= 0 || img.getHeight <= 0) return None
    try {
      val out = new java.awt.image.BufferedImage(tw, th,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < th) {
        val sy = y * img.getHeight / th
        var x = 0
        while (x < tw) {
          out.setRGB(x, y, img.getRGB(x * img.getWidth / tw, sy))
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(out, "png", bos)
      Some(bos.toByteArray)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Partition-parallel thumbnail stage — same batch shape as [[decode]]:
    * media in, media out, undecodable rows dropped (anti-join the output to
    * find them). At 100 TB this is the narrow per-row map it looks like:
    * no shuffle, pixels live only inside the task. */
  def resizeImages(media: DataFrame, tw: Int, th: Int)(implicit spark: SparkSession): Dataset[MediaRecord] = {
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { it =>
      it.flatMap(r => resizeImage(r.media, tw, th).map(b => MediaRecord(r.doc_id, b)))
    }
  }

  /** Nearest-sample PCM16-LE resample to exactly `dstSamples` mono samples —
    * the audio analog of [[resizeImage]]'s nearest-neighbor resize: source
    * index = dst·srcN/dstN, floored, pure integer math, so the result is
    * deterministic across JVMs (no windowed-sinc kernels — a
    * feature-extraction front-end needs reproducibility first, and both
    * up- and down-sampling paths fall out of the same index map). A
    * trailing odd byte is ignored (the [[decodePcm16]] contract);
    * null/sample-less input or a non-positive target returns None. */
  def resamplePcm16(bytes: Array[Byte], dstSamples: Int): Option[Array[Byte]] = {
    if (bytes == null || bytes.length < 2 || dstSamples <= 0) return None
    val srcN = bytes.length / 2
    val out = new Array[Byte](dstSamples * 2)
    var i = 0
    while (i < dstSamples) {
      val s = (i.toLong * srcN / dstSamples).toInt
      out(2 * i) = bytes(2 * s)
      out(2 * i + 1) = bytes(2 * s + 1)
      i += 1
    }
    Some(out)
  }

  /** Partition-parallel fixed-length audio stage — same batch shape as
    * [[resizeImages]]: media in, media out (every payload resampled to the
    * encoder's fixed window), undecodable rows dropped. Narrow per-row
    * map: no shuffle, samples live only inside the task. */
  def resampleAudio(media: DataFrame, dstSamples: Int)(implicit spark: SparkSession): Dataset[MediaRecord] = {
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { it =>
      it.flatMap(r => resamplePcm16(r.media, dstSamples).map(b => MediaRecord(r.doc_id, b)))
    }
  }

  /** Frame sampling stub: pick every `stride`-th byte as a "frame" offset —
    * the Spark-side shape of video frame extraction (explode to one row per
    * frame, key back to the doc). */
  def sampleFrames(media: DataFrame, stride: Int): DataFrame =
    media.select(col("doc_id"),
      // empty payloads emit NO frames: the greatest(.., 0) clamp exists for
      // the sequence() bound only, so it must not manufacture a phantom
      // frame at offset 0 of a zero-byte payload (posexplode of the empty
      // array drops the row, matching null payloads via null propagation)
      posexplode(when(length(col("media")) > 0,
        transform(
          sequence(lit(0), greatest(ceil(length(col("media")) / stride) - 1, lit(0))),
          i => i * stride))
        .otherwise(array().cast(ArrayType(LongType)))))
      .select(col("doc_id"), col("pos").cast(LongType).as("frame_idx"), col("col").cast(LongType).as("byte_offset"))
}
