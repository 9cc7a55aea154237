package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, processed per-partition in bounded batches.
  *
  * Image, audio AND raw-video decode are REAL: `javax.imageio`
  * (PNG/BMP/GIF/JPEG) and `javax.sound.sampled` (WAV/AIFF/AU) ship in
  * every JDK, and YUV4MPEG2 ("Y4M") raw video is parsed from scratch
  * ([[decodeY4M]] — a public, uncompressed format; no codec needed), so
  * width/height/channels and frame-derived durations come from actual
  * decodes. Only COMPRESSED video containers — no JDK codec exists —
  * keep the clearly-marked deterministic stub for their metadata.
  *
  * At scale: rows carry blobs, so partitions are sized by
  * `spark.sql.files.maxPartitionBytes` on read and the transforms are
  * narrow (no shuffle); feature extraction emits small fixed-width vectors
  * so downstream joins/aggs shuffle features, never blobs.
  */
object Multimodal {

  final case class MediaMeta(width: Int, height: Int, channels: Int, durationMs: Long)

  // In-memory ImageInputStreams: the default disk cache would write a temp
  // file per decoded blob on every executor — pure overhead for blobs that
  // are already byte arrays in memory.
  private lazy val imageIoNoDiskCache: Unit =
    javax.imageio.ImageIO.setUseCache(false)

  /** REAL image decode via the JDK's ImageIO (PNG/BMP/GIF/JPEG readers ship
    * in every JDK). Returns None when no reader claims the bytes (non-image
    * payloads, audio/video, truncated data) — callers fall back to the
    * audio/video stub. `channels` = raster band count (1 gray, 3 RGB,
    * 4 RGBA); `durationMs` = 0 for stills.
    */
  def decodeImageMeta(content: Array[Byte]): Option[MediaMeta] =
    if (content == null || content.length < 8) None
    else try {
      imageIoNoDiskCache
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(content))
      if (img == null) None
      else Some(MediaMeta(img.getWidth, img.getHeight, img.getRaster.getNumBands, 0L))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** STUB decode for media no reader understands (COMPRESSED video
    * containers only): deterministic pseudo-metadata derived from the
    * blob hash. Images, audio, and raw Y4M video never reach this —
    * [[decodeMeta]] dispatches them to the real ImageIO / javax.sound /
    * [[decodeY4M]] paths.
    */
  def decodeMetaStub(content: Array[Byte]): MediaMeta = {
    val h = graft.cdc.XXH64.hash(if (content == null) Array.emptyByteArray else content, 42L)
    MediaMeta(
      width = (math.floorMod(h, 1920L) + 1L).toInt,
      height = (math.floorMod(h >>> 16, 1080L) + 1L).toInt,
      channels = (math.floorMod(h >>> 32, 3L) + 1L).toInt,
      durationMs = math.floorMod(h >>> 40, 600000L))
  }

  /** REAL audio decode via javax.sound.sampled (stock JDK, like ImageIO):
    * channel count and frame-count-derived duration for WAV/AIFF/AU PCM
    * payloads. `durationMs` = round(frames·1000 / frameRate) — a single
    * correctly-rounded double division then round, so it is exactly
    * reproducible AND honest for fractional frame rates (classic .au is
    * 8012.821 Hz; naive integer truncation would misreport it). For
    * integer rates (all fixtures here) it equals the pure integer
    * arithmetic the oracle's truth table uses. None for non-audio
    * payloads.
    */
  def decodeAudioMeta(content: Array[Byte]): Option[MediaMeta] =
    if (content == null || content.length < 12) None
    else try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(content))
      try {
        val fmt = ais.getFormat
        val frames = ais.getFrameLength
        if (frames <= 0 || fmt.getFrameRate <= 0f) None
        else Some(MediaMeta(0, 0, fmt.getChannels,
          math.round(frames * 1000.0 / fmt.getFrameRate)))
      } finally ais.close()
    } catch {
      case _: javax.sound.sampled.UnsupportedAudioFileException => None
      case scala.util.control.NonFatal(_) => None
    }

  /** Decode dispatch: real JDK codecs first (ImageIO for rasters, then
    * javax.sound for audio), then the from-scratch Y4M parser for raw
    * video; the stub only for blobs no reader understands (compressed
    * video containers — no JDK codec exists).
    */
  def decodeMeta(content: Array[Byte]): MediaMeta =
    decodeImageMeta(content)
      .orElse(decodeAudioMeta(content))
      .orElse(decodeVideoMeta(content))
      .getOrElse(decodeMetaStub(content))

  // ------------------------------------------------------- Y4M raw video

  /** Decoded YUV4MPEG2 stream: header geometry plus the raw LUMA plane of
    * every frame (w·h bytes each, row-major — luma IS the grayscale
    * image, which is all the perceptual fingerprint needs; chroma planes
    * are parsed for their exact byte length and skipped).
    */
  final case class Y4mVideo(
      width: Int, height: Int, fpsNum: Int, fpsDen: Int,
      frames: Array[Array[Byte]])

  /** REAL video decode, from scratch: YUV4MPEG2 ("Y4M") is the public,
    * uncompressed interchange format of the mjpegtools/ffmpeg world —
    * a text header (`YUV4MPEG2 W… H… F… C…\n`), then per frame a
    * `FRAME…\n` marker followed by raw Y, U, V planes. No JDK codec is
    * involved, so unlike compressed containers this parser makes the
    * video path's data REAL end to end. Supports C444 (full chroma) and
    * the C420 family (quarter chroma: 420jpeg/420mpeg2/420paldv/420 —
    * identical plane sizes, different siting, irrelevant to plane
    * lengths); C%s defaults to 420jpeg per the spec. Returns None when
    * the magic is absent; fails LOUDLY (IllegalArgumentException) on a
    * malformed stream — a silent partial decode would let fingerprints
    * drift from truth.
    */
  def decodeY4M(content: Array[Byte]): Option[Y4mVideo] = {
    val Magic = "YUV4MPEG2"
    if (content == null || content.length < Magic.length ||
      !content.take(Magic.length).sameElements(Magic.getBytes("US-ASCII")))
      return None
    def lineEnd(from: Int): Int = {
      var i = from
      while (i < content.length && content(i) != 0x0a) i += 1
      require(i < content.length, "Y4M: unterminated header line")
      i
    }
    val hdrEnd = lineEnd(0)
    val tokens = new String(content, 0, hdrEnd, "US-ASCII").split(' ')
    require(tokens.head == Magic, "Y4M: bad magic token")
    var w = -1; var h = -1; var fn = 25; var fd = 1; var chroma = "420jpeg"
    tokens.tail.filter(_.nonEmpty).foreach { t =>
      t.head match {
        case 'W' => w = t.tail.toInt
        case 'H' => h = t.tail.toInt
        case 'F' =>
          val Array(n, d) = t.tail.split(':'); fn = n.toInt; fd = d.toInt
        case 'C' => chroma = t.tail
        case _   => () // I (interlacing), A (aspect), X (extensions): ignored
      }
    }
    require(w > 0 && h > 0, s"Y4M: missing/invalid geometry W$w H$h")
    require(fn > 0 && fd > 0, s"Y4M: invalid frame rate F$fn:$fd")
    val chromaBytes = chroma match {
      case "444" => w * h * 2
      case c if c.startsWith("420") =>
        require(w % 2 == 0 && h % 2 == 0,
          s"Y4M: C420 needs even dimensions, got ${w}x$h")
        (w / 2) * (h / 2) * 2
      case other =>
        throw new IllegalArgumentException(s"Y4M: unsupported chroma C$other")
    }
    val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var pos = hdrEnd + 1
    while (pos < content.length) {
      val markEnd = lineEnd(pos)
      require(markEnd - pos >= 5 &&
        new String(content, pos, 5, "US-ASCII") == "FRAME",
        s"Y4M: expected FRAME marker at byte $pos")
      val dataStart = markEnd + 1
      require(dataStart + w * h + chromaBytes <= content.length,
        "Y4M: truncated frame payload")
      frames += java.util.Arrays.copyOfRange(content, dataStart, dataStart + w * h)
      pos = dataStart + w * h + chromaBytes
    }
    require(frames.nonEmpty, "Y4M: stream has no frames")
    Some(Y4mVideo(w, h, fn, fd, frames.toArray))
  }

  /** REAL video metadata from the Y4M parser: geometry, 3 planes, and a
    * frame-count-derived duration (round(frames·1000·den/num) — the
    * audio path's correctly-rounded-division rule). None for non-Y4M
    * payloads, which fall through to the container stub.
    */
  def decodeVideoMeta(content: Array[Byte]): Option[MediaMeta] =
    try decodeY4M(content).map { v =>
      MediaMeta(v.width, v.height, channels = 3,
        durationMs = math.round(v.frames.length * 1000.0 * v.fpsDen / v.fpsNum))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Ground-truth geometry for [[y4mFixture]] — pure arithmetic on `id`,
    * NO parser involved: pairs of consecutive ids (group g = id/2) share
    * one video of w = 12 + g%21, h = 10 + (g·7)%15, nframes = 8 + (g·3)%9
    * at 25 fps.
    */
  def videoFixtureTruth(id: Long): (Int, Int, Int) = {
    val g = id / 2
    (12 + math.floorMod(g, 21L).toInt,
      10 + math.floorMod(g * 7L, 15L).toInt,
      8 + math.floorMod(g * 3L, 9L).toInt)
  }

  /** Luma of video-fixture pixel (x, y) in frame f of group g — THE
    * shared arithmetic truth (fixture writer and tests call this; the
    * oracle replays it in SQL). The x/y gradients VARY per (g, f)
    * (steps 31+2·((g·5+f·3)%13) and 131+2·((g·7+f)%11)): a fixed
    * gradient makes every keyframe's dHash near-identical corpus-wide
    * and incidental hamming-≤3 pairs grow QUADRATICALLY (measured 137k
    * pairs at 5k docs vs ~10k planted) — the same flood the audio
    * fixture's f² term prevents, one modality over.
    */
  def videoLuma(g: Long, f: Long, x: Long, y: Long): Int =
    ((g * 1000003L + f * 8191L
      + x * (31L + 2L * math.floorMod(g * 5L + f * 3L, 13L))
      + y * (131L + 2L * math.floorMod(g * 7L + f, 11L))
      + x * x * math.floorMod(g + f, 7L)
      + y * y * math.floorMod(g * 3L + f, 5L)) & 255L).toInt

  /** Deterministic Y4M blob: a REAL YUV4MPEG2 stream (C444, 25 fps) whose
    * geometry is [[videoFixtureTruth]] and whose luma is the pure
    * arithmetic function [[videoLuma]] — replayable in SQL. Odd ids
    * carry the near-dup edit: frame 0's (0,0) luma forced to 255 (the
    * image corner-jitter pattern, one video frame over), so their
    * slot-0 keyframe fingerprint lands a few bits from the group's
    * while slots 1..3 stay identical. Chroma planes are flat 128
    * (ignored by the luma fingerprint, parsed for length by the
    * decoder).
    */
  def y4mFixture(id: Long): Array[Byte] = {
    val g = id / 2
    val (w, h, nf) = videoFixtureTruth(id)
    val header = s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 C444\n".getBytes("US-ASCII")
    val frameHdr = "FRAME\n".getBytes("US-ASCII")
    val out = new java.io.ByteArrayOutputStream(
      header.length + nf * (frameHdr.length + 3 * w * h))
    out.write(header)
    val chroma = Array.fill[Byte](2 * w * h)(128.toByte)
    var f = 0
    while (f < nf) {
      out.write(frameHdr)
      val y = new Array[Byte](w * h)
      var py = 0
      while (py < h) {
        var px = 0
        while (px < w) {
          val v =
            if (id % 2 == 1 && f == 0 && px == 0 && py == 0) 255
            else videoLuma(g, f, px, py)
          y(py * w + px) = v.toByte
          px += 1
        }
        py += 1
      }
      out.write(y)
      out.write(chroma)
      f += 1
    }
    out.toByteArray
  }

  /** (blob_id, content) corpus of [[y4mFixture]] blobs — narrow map,
    * blobs never shuffle.
    */
  def videoBlobs(ids: DataFrame, idCol: String): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    ids.select(col(idCol).cast("long")).as[Long]
      .map(id => (id, y4mFixture(id)))
      .toDF("blob_id", "content")
  }

  /** Per-keyframe perceptual fingerprints of one decoded video: 4 evenly
    * spaced keyframes (slot k samples frame k·n/4 — slot 0 is always
    * frame 0), each 9×8 nearest-neighbor downsampled from the LUMA plane
    * (same integer index arithmetic as [[grayThumb]]; luma needs no RGB
    * conversion) and [[dHash64]]-packed. Returns (slot, sig) pairs.
    */
  def videoKeyframeHashes(v: Y4mVideo, slots: Int = 4): Array[(Int, Long)] =
    Array.tabulate(slots) { s =>
      val fidx = s * v.frames.length / slots
      val y = v.frames(fidx)
      val gray = Array.tabulate(72) { i =>
        val cy = i / 9
        val cx = i % 9
        y((cy * v.height / 8) * v.width + (cx * v.width / 9)) & 0xff
      }
      (s, dHash64(gray))
    }

  /** (id, sig) keyframe-fingerprint relation of a Y4M corpus, shaped for
    * [[Dedupe.hammingPairs]]: id = blob_id·4 + slot, so pairs match
    * videos keyframe-by-keyframe. REAL decode; narrow — blobs never
    * shuffle, only 16-byte (id, sig) rows do.
    */
  def videoFpRelation(blobs: DataFrame, idCol: String, contentCol: String): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.select(col(idCol).cast("long"), col(contentCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, content) =>
        val v = decodeY4M(content).getOrElse(
          throw new IllegalArgumentException(s"blob $id is not a Y4M stream"))
        videoKeyframeHashes(v).iterator.map { case (slot, sig) =>
          (id * 4 + slot, sig)
        }
      }
      .toDF("id", "sig")
  }

  // ------------------------------------------------- deterministic fixtures

  /** Ground-truth metadata for [[imageFixture]] — pure arithmetic on `id`,
    * NO codec involved, so an oracle can assert the real decode against it.
    * Formats cycle gray-PNG (1 band) / RGB-PNG (3) / RGBA-PNG (4) /
    * 24-bit BMP (3).
    */
  def fixtureTruth(id: Long): MediaMeta = {
    val w = 4 + math.floorMod(id, 29L).toInt
    val h = 4 + math.floorMod(id * 7L, 23L).toInt
    val channels = math.floorMod(id, 4L).toInt match {
      case 0 => 1
      case 1 => 3
      case 2 => 4
      case _ => 3
    }
    MediaMeta(w, h, channels, 0L)
  }

  /** Deterministic image blob: a real encoded PNG/BMP whose dimensions and
    * band count are [[fixtureTruth]] of `id` and whose pixels are a pure
    * function of (id, x, y). Encoded with the same JDK ImageIO the decode
    * path reads with — but the TRUTH comes from arithmetic, not the codec.
    */
  def imageFixture(id: Long): Array[Byte] = {
    import java.awt.image.BufferedImage
    val m = fixtureTruth(id)
    val (imgType, fmt) = math.floorMod(id, 4L).toInt match {
      case 0 => (BufferedImage.TYPE_BYTE_GRAY, "png")
      case 1 => (BufferedImage.TYPE_INT_RGB, "png")
      case 2 => (BufferedImage.TYPE_INT_ARGB, "png")
      case _ => (BufferedImage.TYPE_3BYTE_BGR, "bmp")
    }
    val img = new BufferedImage(m.width, m.height, imgType)
    var y = 0
    while (y < m.height) {
      var x = 0
      while (x < m.width) {
        val v = (id * 1000003L + x * 31L + y * 131L)
        val argb = 0xff000000 | (v & 0xffffff).toInt
        img.setRGB(x, y, argb)
        x += 1
      }
      y += 1
    }
    imageIoNoDiskCache
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, bos)
    bos.toByteArray
  }

  /** Ground-truth metadata for [[audioFixture]] — pure arithmetic on
    * `id`, NO codec involved: mono/stereo alternating, 8 kHz PCM16,
    * frame count 8·(100 + id·13 mod 200) so durationMs = frames/8 is an
    * exact integer (100–299 ms).
    */
  def audioFixtureTruth(id: Long): MediaMeta = {
    val frames = 8L * (100L + math.floorMod(id * 13L, 200L))
    MediaMeta(0, 0, channels = 1 + math.floorMod(id, 2L).toInt,
      durationMs = frames * 1000L / 8000L)
  }

  /** Deterministic audio blob: a real RIFF/WAV (PCM16 little-endian,
    * 8 kHz) whose channel count and frame length are
    * [[audioFixtureTruth]] of `id` and whose samples are a pure function
    * of (id, frame, channel). Encoded with the same javax.sound codec
    * the decode path reads with — the TRUTH comes from arithmetic.
    */
  def audioFixture(id: Long): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val m = audioFixtureTruth(id)
    val frames = m.durationMs * 8 // exact inverse of truth's frames/8
    val bytes = new Array[Byte]((frames * m.channels * 2).toInt)
    var f = 0L
    var o = 0
    while (f < frames) {
      var c = 0
      while (c < m.channels) {
        val s = ((id * 31L + f * 7L + c * 977L) % 65536L - 32768L).toShort
        bytes(o) = (s & 0xff).toByte
        bytes(o + 1) = ((s >> 8) & 0xff).toByte
        o += 2
        c += 1
      }
      f += 1
    }
    val fmt = new AudioFormat(8000f, 16, m.channels, true, false)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(bytes), fmt, frames)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Near-dup audio fixture: PAIRS of consecutive ids (group g = id/2)
    * share one PCM signal — channels 1+g%2, frames 8·(100+(g·13)%200),
    * sample s(f,c) = ((g·1000003+f²·7+f·911+c·977)%65536)−32768 (the f²
    * term varies the energy envelope ACROSS windows per group; a linear
    * ramp makes every group's envelope near-identical and floods the
    * hamming ball with cross-group pairs — measured 684 vs the planted
    * 100 at 100 groups, vs exactly 100 with f²) — and odd ids get a
    * "click" edit (frame 0 forced to +32767 on every channel), the
    * audio analog of the image corner-pixel jitter: it moves exactly
    * one energy window, so the fingerprint lands ≤ 1 bit away.
    */
  def audioFpFixture(id: Long): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val g = id / 2
    val channels = 1 + math.floorMod(g, 2L).toInt
    val frames = 8L * (100L + math.floorMod(g * 13L, 200L))
    val bytes = new Array[Byte]((frames * channels * 2).toInt)
    var f = 0L
    var o = 0
    while (f < frames) {
      var c = 0
      while (c < channels) {
        val s =
          if (id % 2 == 1 && f == 0) 32767.toShort
          else ((g * 1000003L + f * f * 7L + f * 911L + c * 977L) % 65536L
            - 32768L).toShort
        bytes(o) = (s & 0xff).toByte
        bytes(o + 1) = ((s >> 8) & 0xff).toByte
        o += 2
        c += 1
      }
      f += 1
    }
    val fmt = new AudioFormat(8000f, 16, channels, true, false)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(bytes), fmt, frames)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** (blob_id, content) corpus of [[audioFpFixture]] blobs. */
  def audioFpBlobs(ids: DataFrame, idCol: String): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    ids.select(col(idCol).cast("long")).as[Long]
      .map(id => (id, audioFpFixture(id)))
      .toDF("blob_id", "content")
  }

  /** REAL javax.sound decode of a PCM16 WAV blob →
    * (channels, interleaved samples). Fails loudly on non-PCM16 input —
    * a silent fallback would let the fingerprint drift from truth.
    */
  def decodePcm16(content: Array[Byte]): (Int, Array[Short]) = {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(content))
    val fmt = ais.getFormat
    require(fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
      fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian,
      s"expected 16-bit little-endian SIGNED PCM, got $fmt")
    val raw = ais.readAllBytes()
    val out = new Array[Short](raw.length / 2)
    var i = 0
    while (i < out.length) {
      out(i) = ((raw(2 * i) & 0xff) | (raw(2 * i + 1) << 8)).toShort
      i += 1
    }
    (fmt.getChannels, out)
  }

  /** 64-bit audio fingerprint: mono-mix each frame (channel SUM — no
    * division, so integer-exact for any layout), assign frame f to
    * window w = f·65/frames (integer), accumulate absolute energy per
    * window, then [[dHash64]] the 65 energies as a 65×1 "image" — bit
    * w set iff window w+1 is louder than window w. Robust to the
    * codec/container and replayable in pure SQL arithmetic.
    */
  def audioFingerprint(channels: Int, samples: Array[Short]): Long = {
    val frames = samples.length / channels
    require(frames >= 65, s"need >= 65 frames, got $frames")
    // Long accumulation: an Int would overflow around 33k frames/window
    // (|m| <= 65534·channels) — minutes of real audio, far beyond the
    // fixtures, and the wrap would silently corrupt the fingerprint
    val energy = new Array[Long](65)
    var f = 0
    while (f < frames) {
      var m = 0L
      var c = 0
      while (c < channels) { m += samples(f * channels + c); c += 1 }
      energy(((f.toLong * 65L) / frames).toInt) += math.abs(m)
      f += 1
    }
    dHash64Long(energy, gw = 65, gh = 1)
  }

  /** (id, sig) fingerprint relation of an audio corpus, shaped for
    * [[Dedupe.hammingPairs]]. Narrow; blobs never shuffle.
    */
  def audioFpRelation(blobs: DataFrame, idCol: String, contentCol: String): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.select(col(idCol).cast("long"), col(contentCol))
      .as[(Long, Array[Byte])]
      .map { case (id, content) =>
        val (ch, samples) = decodePcm16(content)
        (id, audioFingerprint(ch, samples))
      }
      .toDF("id", "sig")
  }

  /** Distributed fixture corpora: one real encoded blob per id row —
    * (blob_id, content). Narrow map, blobs never shuffle.
    */
  def audioBlobs(ids: DataFrame, idCol: String): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    ids.select(col(idCol).cast("long")).as[Long]
      .map(id => (id, audioFixture(id)))
      .toDF("blob_id", "content")
  }

  /** Codec-free audio ground truth — (blob_id, channels, duration_ms). */
  def audioTruth(ids: DataFrame, idCol: String): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    ids.select(col(idCol).cast("long")).as[Long]
      .map { id =>
        val m = audioFixtureTruth(id)
        (id, m.channels, m.durationMs)
      }
      .toDF("blob_id", "channels", "duration_ms")
  }

  /** Distributed fixture corpus: one real encoded image per id row —
    * (blob_id, content). Narrow map, blobs never shuffle.
    */
  def imageBlobs(ids: DataFrame, idCol: String): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    ids.select(col(idCol).cast("long")).as[Long]
      .map(id => (id, imageFixture(id)))
      .toDF("blob_id", "content")
  }

  /** Codec-free ground truth for the same ids — (blob_id, width, height,
    * channels). What the oracle compares the REAL decode against.
    */
  def imageTruth(ids: DataFrame, idCol: String): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    ids.select(col(idCol).cast("long")).as[Long]
      .map { id =>
        val m = fixtureTruth(id)
        (id, m.width, m.height, m.channels)
      }
      .toDF("blob_id", "width", "height", "channels")
  }

  /** Re-encoded duplicate fixture: groups of 4 consecutive ids share one
    * VISUAL image (seed = id/4 drives dims and every pixel) but alternate
    * the container codec (even ids PNG TYPE_INT_RGB, odd ids BMP
    * TYPE_3BYTE_BGR — both lossless 24-bit RGB, so decoded pixels are
    * identical while the BYTES differ wherever the codec does). The
    * corpus byte-hash dedup ([[graft.operators.Dedupe]]) cannot see
    * across the codec boundary; [[perceptualDedup]] must.
    */
  def reencodedImageFixture(id: Long): Array[Byte] =
    groupImageFixture(id, jitterCorner = false)

  /** Shared builder for the re-encode fixture family: one pixel/codec
    * recipe, the jitter branch as the ONLY fork — the two public
    * fixtures (and the oracle's `phashTruthCtes` mirror) can never
    * drift apart on dims/codec/pixel arithmetic.
    */
  private def groupImageFixture(id: Long, jitterCorner: Boolean): Array[Byte] = {
    import java.awt.image.BufferedImage
    val seed = id / 4
    val w = 4 + math.floorMod(seed, 29L).toInt
    val h = 4 + math.floorMod(seed * 7L, 23L).toInt
    val (imgType, fmt) =
      if (id % 2 == 0) (BufferedImage.TYPE_INT_RGB, "png")
      else (BufferedImage.TYPE_3BYTE_BGR, "bmp")
    val img = new BufferedImage(w, h, imgType)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb =
          if (jitterCorner && id % 4 == 3 && x == 0 && y == 0) 0xffffff
          else {
            val v = seed * 1000003L + x * 31L + y * 131L
            (v & 0xffffff).toInt
          }
        img.setRGB(x, y, 0xff000000 | rgb)
        x += 1
      }
      y += 1
    }
    imageIoNoDiskCache
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, bos)
    bos.toByteArray
  }

  /** (blob_id, content) corpus of [[reencodedImageFixture]] blobs —
    * narrow map, blobs never shuffle.
    */
  def reencodedBlobs(ids: DataFrame, idCol: String): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    ids.select(col(idCol).cast("long")).as[Long]
      .map(id => (id, reencodedImageFixture(id)))
      .toDF("blob_id", "content")
  }

  /** Near-dup variant of [[reencodedImageFixture]]: ids with
    * id % 4 == 3 get the SAME image except the (0,0) corner pixel
    * forced to white — a small, arithmetic-replayable visual edit, so
    * their dHash lands a few bits from the group's (≤ the number of
    * thumbnail cells that sample pixel (0,0): exactly 1 for images
    * ≥ 9×8, a handful below). The planted corpus for hamming-ball
    * perceptual matching.
    */
  def jitteredImageFixture(id: Long): Array[Byte] =
    groupImageFixture(id, jitterCorner = true)

  /** (blob_id, content) corpus of [[jitteredImageFixture]] blobs. */
  def jitteredBlobs(ids: DataFrame, idCol: String): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    ids.select(col(idCol).cast("long")).as[Long]
      .map(id => (id, jitteredImageFixture(id)))
      .toDF("blob_id", "content")
  }

  /** (id, sig) perceptual-fingerprint relation of a blob corpus — REAL
    * decode through [[grayThumb]]+[[dHash64]], shaped for
    * [[Dedupe.hammingPairs]]. Narrow; blobs never shuffle.
    */
  def phashRelation(blobs: DataFrame, idCol: String, contentCol: String): DataFrame = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.select(col(idCol).cast("long"), col(contentCol))
      .as[(Long, Array[Byte])]
      .map { case (id, content) => (id, dHash64(grayThumb(content))) }
      .toDF("id", "sig")
  }

  /** REAL decode → `gw`×`gh` grayscale thumbnail in pure-integer
    * arithmetic: nearest-neighbor sample at (cx·W/gw, cy·H/gh) (integer
    * floor division — every index reproducible in SQL), integer
    * ITU-601-style luma (299r+587g+114b)/1000. Row-major, length gw·gh.
    */
  def grayThumb(content: Array[Byte], gw: Int = 9, gh: Int = 8): Array[Int] = {
    imageIoNoDiskCache
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(content))
    require(img != null, "grayThumb: undecodable image")
    Array.tabulate(gh * gw) { i =>
      val cy = i / gw
      val cx = i % gw
      val rgb = img.getRGB(cx * img.getWidth / gw, cy * img.getHeight / gh)
      val r = (rgb >> 16) & 255
      val g = (rgb >> 8) & 255
      val b = rgb & 255
      (299 * r + 587 * g + 114 * b) / 1000
    }
  }

  /** 64-bit difference hash (dHash) over a 9×8 grayscale thumbnail: bit
    * (cy·8+cx) set iff the right neighbor is strictly brighter. The
    * STANDARD perceptual near-dup fingerprint (robust to re-encode,
    * resize, small edits); hamming distance ranks visual similarity.
    */
  def dHash64(gray: Array[Int], gw: Int = 9, gh: Int = 8): Long =
    dHash64Long(gray.map(_.toLong), gw, gh)

  /** Long-cell variant for accumulators that exceed Int (audio window
    * energies); identical bit layout.
    */
  def dHash64Long(cells: Array[Long], gw: Int, gh: Int): Long = {
    require(cells.length == gw * gh, s"expected ${gw * gh} cells, got ${cells.length}")
    var hash = 0L
    var cy = 0
    while (cy < gh) {
      var cx = 0
      while (cx < gw - 1) {
        if (cells(cy * gw + cx + 1) > cells(cy * gw + cx))
          hash |= 1L << (cy * (gw - 1) + cx)
        cx += 1
      }
      cy += 1
    }
    hash
  }

  /** Visual (perceptual-hash) dedup: decode → dHash → hash-keyed
    * grouping to a min-id canonical — the image-corpus dedup that
    * catches RE-ENCODED duplicates byte-hash dedup misses. One narrow
    * decode pass (blobs never shuffle; only (id, 8-byte hash) rows do),
    * then the A1 merge shape: groupBy(phash) + a join back that AQE
    * broadcasts.
    */
  def perceptualDedup(blobs: DataFrame, idCol: String, contentCol: String): DataFrame = {
    val hashed = phashRelation(blobs, idCol, contentCol)
      .select(col("id").as(idCol), col("sig").as("phash"))
    val canon = hashed.groupBy(col("phash"))
      .agg(min(col(idCol)).as("visual_canonical"))
    hashed.join(canon, Seq("phash"))
      .select(col(idCol), col("phash"), col("visual_canonical"),
        (col(idCol) =!= col("visual_canonical")).as("is_visual_dup"))
  }

  /** REAL feature extraction: 64-bin byte histogram normalized to unit L1 —
    * an honest content feature usable by the Similarity operators.
    */
  def byteHistogram(content: Array[Byte]): Array[Float] = {
    val bins = new Array[Float](64)
    if (content == null || content.isEmpty) return bins
    var i = 0
    while (i < content.length) { bins((content(i) & 0xff) >> 2) += 1f; i += 1 }
    val n = content.length.toFloat
    var j = 0
    while (j < 64) { bins(j) /= n; j += 1 }
    bins
  }

  /** Resize STUB: deterministic fixed-size "thumbnail" — samples
    * `targetBytes` evenly-spaced bytes from the blob. Real resize plugs a
    * codec into the same (blob in → smaller blob out) narrow transform;
    * schema, batching, and downstream compatibility are what's exercised.
    */
  def resizeStub(content: Array[Byte], targetBytes: Int = 1024): Array[Byte] = {
    if (content == null || content.isEmpty) Array.emptyByteArray
    else if (content.length <= targetBytes) content
    else {
      val out = new Array[Byte](targetBytes)
      var i = 0
      while (i < targetBytes) {
        out(i) = content((i.toLong * content.length / targetBytes).toInt)
        i += 1
      }
      out
    }
  }

  /** Per-row resize over a blob DataFrame: (id, content) → (id, thumb);
    * the output id column keeps the caller's `idCol` name.
    */
  def resize(df: DataFrame, idCol: String, contentCol: String, targetBytes: Int = 1024): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(contentCol))
      .as[(Long, Array[Byte])]
      .map { case (id, c) => (id, resizeStub(c, targetBytes)) }
      .toDF(idCol, "thumb")
  }

  /** Frame sampling STUB: every `strideBytes` block stands in for a decoded
    * frame; emits (blob_id, frame_idx, frame_bytes) — the generator shape a
    * real video pipeline needs (one row in → N frame rows out).
    */
  def sampleFrames(
      df: DataFrame,
      idCol: String,
      contentCol: String,
      strideBytes: Int = 4096,
      maxFrames: Int = 16): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(contentCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, content) =>
        val bytes = if (content == null) Array.emptyByteArray else content
        val n = math.min(maxFrames, math.max(1, bytes.length / strideBytes))
        (0 until n).iterator.map { f =>
          val start = f * strideBytes
          val end = math.min(bytes.length, start + strideBytes)
          (id, f.toLong, java.util.Arrays.copyOfRange(bytes, start, math.max(start, end)))
        }
      }
      .toDF("blob_id", "frame_idx", "frame_bytes")
  }

  /** Full enrichment pass: metadata (REAL ImageIO decode for images, stub
    * only for undecodable media) + features (real) per blob, as one narrow
    * mapPartitions-shaped transform.
    */
  def enrich(df: DataFrame, idCol: String, contentCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(contentCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, content) =>
          val meta = decodeMeta(content)
          val size = if (content == null) 0L else content.length.toLong
          (id, size, meta.width, meta.height, meta.channels, meta.durationMs,
            byteHistogram(content))
        }
      }
      .toDF("blob_id", "n_bytes", "width", "height", "channels", "duration_ms", "features")
  }

  /** Build a binary-blob DataFrame from any table's row bytes (JSON-encoded
    * rows as payload) — turns the documents table into a multimodal-shaped
    * corpus for tests and the catalog query.
    *
    * Contract: `content` is NEVER null (coalesced to the empty blob).
    * Downstream operators emit one empty frame / zero-byte features for an
    * empty blob, while a NULL would diverge between engines (e.g. DuckDB's
    * octet_length(NULL) is NULL, silently dropping the blob from a
    * generate-series oracle instead of producing the empty-frame row).
    */
  def blobsFromTable(df: DataFrame, idCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("blob_id"),
      coalesce(encode(to_json(struct(df.columns.map(col).toSeq: _*)), "UTF-8"),
        lit(Array.emptyByteArray)).as("content"))
}
