package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, processed per-partition in batches.
  *
  * Image decode is REAL as of round 12: [[decodeImage]] reads PNG / BMP /
  * GIF / JPEG through the JDK's own `javax.imageio.ImageIO` (zero new
  * dependencies) and produces an integer BT.601 luma plane; [[decode]]
  * routes decodable images through it and falls back to the deterministic
  * byte-plane stub ([[stubDecode]]) for everything else (audio/video/
  * unknown blobs — codecs for those are still absent in this container).
  * Exactness contract: PNG and BMP are lossless and their decode is
  * pinned by spec on any JDK; JPEG decodes deterministically within one
  * JDK but is NOT pinned across vendors (the classic libjpeg IDCT
  * variance) — keep JPEG out of cross-engine oracles.
  *
  * Scale note: media blobs ride the scan as `BinaryType`; per-partition
  * `mapPartitions` keeps decode zero-shuffle and lets one task amortize
  * decoder init across its whole partition (the reason for mapPartitions
  * over a per-row UDF).
  */
object Multimodal {

  final case class MediaRow(doc_id: Long, media_type: String, content: Array[Byte])

  final case class DecodedMedia(
      doc_id: Long,
      media_type: String,
      byte_len: Int,
      width: Int,
      height: Int,
      channels: Int,
      features: Array[Float]
  )

  /** STUB decode — deterministic fake in place of a real image/audio
    * decoder (none available in this container). Dimensions derive from a
    * stable hash of the content; the feature vector is a REAL computation
    * (folded byte histogram, 8 bins, L1-normalized) so downstream
    * similarity plumbing has honest numbers to chew on.
    */
  def stubDecode(r: MediaRow): DecodedMedia = {
    val h = java.util.Arrays.hashCode(r.content)
    val hist = new Array[Float](8)
    var i = 0
    while (i < r.content.length) {
      hist((r.content(i) & 0xff) >> 5) += 1f
      i += 1
    }
    val total = math.max(1f, r.content.length.toFloat)
    DecodedMedia(
      doc_id = r.doc_id,
      media_type = r.media_type,
      byte_len = r.content.length,
      width = 64 + math.floorMod(h, 1856), // fake 64..1919
      height = 64 + math.floorMod(h / 1856, 1016), // fake 64..1079
      channels = 3,
      features = hist.map(_ / total)
    )
  }

  /** REAL image decode via JDK `ImageIO` — PNG / BMP / GIF / JPEG, the
    * readers every JRE ships. Returns (width, height, channels, luma)
    * where luma is the integer BT.601 plane `(77R + 150G + 29B) >> 8`
    * (all-integer: deterministic on any engine), or None when the bytes
    * are not a decodable image (magic-sniffed first so arbitrary text
    * blobs never reach the decoder).
    */
  def decodeImage(bytes: Array[Byte]): Option[(Int, Int, Int, Array[Byte])] = {
    if (bytes == null || bytes.length < 8) return None
    val isPng = (bytes(0) & 0xff) == 0x89 && bytes(1) == 'P' && bytes(2) == 'N' && bytes(3) == 'G'
    val isBmp = bytes(0) == 'B' && bytes(1) == 'M'
    val isJpg = (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8
    val isGif = bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == '8'
    // baseline TIFF decodes through the JDK's ImageIO TIFF plugin (JDK 9+)
    // — lossless, so the luma plane is deterministic like PNG/BMP; a
    // multi-page file decodes its FIRST page (the fingerprintable one).
    // Exotic/corrupt TIFFs fall back to [[probeTiff]]'s structure typing.
    val isTif = (bytes(0) == 'I' && bytes(1) == 'I' && bytes(2) == 0x2a && bytes(3) == 0) ||
      (bytes(0) == 'M' && bytes(1) == 'M' && bytes(2) == 0 && bytes(3) == 0x2a)
    if (!isPng && !isBmp && !isJpg && !isGif && !isTif) return None
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      // bulk getRGB in lumaOf: one sRGB-converted row-major int plane
      // (same values as per-pixel getRGB, deterministic for the lossless
      // formats) instead of w·h virtual calls; absurd planes shed there
      if (img == null) None else lumaOf(img)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Integer BT.601 luma plane of a decoded BufferedImage — the shared
    * tail of [[decodeImage]] and the per-frame GIF decode: one bulk
    * getRGB pass, `(77R + 150G + 29B) >> 8` per pixel, None past the
    * 64M-pixel shed bound.
    */
  private def lumaOf(
      img: java.awt.image.BufferedImage
  ): Option[(Int, Int, Int, Array[Byte])] = {
    val (w, h) = (img.getWidth, img.getHeight)
    if (w <= 0 || h <= 0 || w.toLong * h > 64L * 1024 * 1024) None
    else {
      val rgbs = img.getRGB(0, 0, w, h, null, 0, w)
      val luma = new Array[Byte](w * h)
      var i = 0
      while (i < rgbs.length) {
        val rgb = rgbs(i)
        luma(i) =
          ((77 * ((rgb >> 16) & 0xff) + 150 * ((rgb >> 8) & 0xff) + 29 * (rgb & 0xff)) >> 8).toByte
        i += 1
      }
      Some((w, h, img.getColorModel.getNumComponents, luma))
    }
  }

  /** REAL multi-frame video decode for the one animation format the JDK
    * decodes natively: animated GIF through `ImageReader.read(i)`. Every
    * frame decodes STANDALONE (no disposal-method compositing — exact
    * for full-frame animations, which is what the synthetic twin writes
    * and what frame-level dedup wants; partial-update GIFs would need a
    * compositor this container has no seam for). Returns one
    * (width, height, luma) per frame, or None when the bytes are not a
    * decodable GIF (magic-sniffed; PNG/BMP/JPEG are single-frame — use
    * [[decodeImage]]). Frames past `maxFrames` and planes past 64M
    * pixels shed; corrupt tails yield the frames that did decode.
    */
  def decodeGifFrames(
      bytes: Array[Byte],
      maxFrames: Int = 4096
  ): Option[IndexedSeq[(Int, Int, Array[Byte])]] = {
    if (bytes == null || bytes.length < 8) return None
    val isGif = bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == '8'
    if (!isGif) return None
    try {
      val iis = javax.imageio.ImageIO
        .createImageInputStream(new java.io.ByteArrayInputStream(bytes))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) return None
        val reader = readers.next()
        try {
          reader.setInput(iis, false, true)
          val declared = reader.getNumImages(true)
          val n = math.min(if (declared < 0) maxFrames else declared, maxFrames)
          val out = Vector.newBuilder[(Int, Int, Array[Byte])]
          var k = 0
          var truncated = false
          while (k < n && !truncated) {
            // a corrupt tail throws on the first unreadable frame — keep
            // the frames that DID decode (the WarcSplit resync discipline)
            try {
              lumaOf(reader.read(k)).foreach { case (w, h, _, luma) => out += ((w, h, luma)) }
            } catch { case scala.util.control.NonFatal(_) => truncated = true }
            k += 1
          }
          val frames = out.result()
          if (frames.isEmpty) None else Some(frames)
        } finally reader.dispose()
      } finally iis.close()
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** REAL multi-frame video decode for UNCOMPRESSED video: a native
    * YUV4MPEG2 (Y4M) parser — the raw-frame container ffmpeg/mjpegtools
    * exchange, and the closable slice of "video beyond GIF" inside the
    * pure-JDK ceiling (no public JDK-only H.264 path exists; raw planes
    * need no codec at all). Returns one (width, height, luma) per frame:
    * the luma plane IS the first w·h bytes of each frame payload, so the
    * decode is trivially lossless and formula-replayable.
    *
    * Format (public spec): ASCII header `YUV4MPEG2 W<w> H<h> ...\n` with
    * space-separated parameters, then per frame an ASCII `FRAME...\n`
    * marker followed by the fixed-size plane payload. Supported
    * colorspaces: C420* (any 420 flavor — chroma subsampled 2×2), C422,
    * C444, Cmono; odd dimensions size chroma planes as ceil(w/2)·ceil(h/2)
    * (the even-dims case every real stream uses is unaffected). Unknown
    * colorspaces, bad magic, or absurd planes (> 64M px, the
    * [[decodeImage]] shed bound) return None.
    *
    * Truncation discipline (the WarcSplit/x96 rule): a corrupt FRAME
    * marker or a partial tail frame ends the walk and KEEPS the frames
    * that did decode; a stream with no complete frame returns None.
    */
  def decodeY4mFrames(
      bytes: Array[Byte],
      maxFrames: Int = 4096
  ): Option[IndexedSeq[(Int, Int, Array[Byte])]] = {
    if (bytes == null || bytes.length < 11) return None
    val magic = "YUV4MPEG2 "
    var i = 0
    while (i < magic.length) {
      if (bytes(i) != magic.charAt(i).toByte) return None
      i += 1
    }
    var hdrEnd = magic.length
    while (hdrEnd < bytes.length && bytes(hdrEnd) != '\n') hdrEnd += 1
    if (hdrEnd >= bytes.length) return None
    val params = new String(bytes, magic.length, hdrEnd - magic.length, "US-ASCII")
      .split(' ')
      .filter(_.nonEmpty)
    var w = -1
    var h = -1
    var cs = "420" // the spec default when C is absent
    params.foreach { p =>
      p.charAt(0) match {
        case 'W' => w = p.drop(1).toIntOption.getOrElse(-1)
        case 'H' => h = p.drop(1).toIntOption.getOrElse(-1)
        case 'C' => cs = p.drop(1)
        case _   => () // F (rate), I (interlace), A (aspect), X (comment)
      }
    }
    if (w <= 0 || h <= 0 || w.toLong * h > 64L * 1024 * 1024) return None
    val lumaLen = w.toLong * h
    val chromaPlane = ((w + 1) / 2).toLong * ((h + 1) / 2)
    val frameLen: Long =
      if (cs.startsWith("420")) lumaLen + 2 * chromaPlane
      else if (cs.startsWith("422")) lumaLen + 2 * (((w + 1) / 2).toLong * h)
      else if (cs.startsWith("444")) 3 * lumaLen
      else if (cs.startsWith("mono")) lumaLen
      else return None
    val out = Vector.newBuilder[(Int, Int, Array[Byte])]
    var n = 0
    var pos = hdrEnd + 1
    var done = false
    val frameMagic = "FRAME"
    while (!done && n < maxFrames && pos < bytes.length) {
      // expect a FRAME marker line; anything else = corrupt tail → keep
      // what decoded
      var ok = pos + frameMagic.length <= bytes.length
      var j = 0
      while (ok && j < frameMagic.length) {
        if (bytes(pos + j) != frameMagic.charAt(j).toByte) ok = false
        j += 1
      }
      if (!ok) done = true
      else {
        var lineEnd = pos + frameMagic.length
        while (lineEnd < bytes.length && bytes(lineEnd) != '\n') lineEnd += 1
        val dataStart = lineEnd + 1L
        if (lineEnd >= bytes.length || dataStart + frameLen > bytes.length) done = true
        else {
          out += ((w, h, java.util.Arrays.copyOfRange(
            bytes, dataStart.toInt, (dataStart + lumaLen).toInt)))
          n += 1
          pos = (dataStart + frameLen).toInt
        }
      }
    }
    val frames = out.result()
    if (frames.isEmpty) None else Some(frames)
  }

  /** Deterministic synthetic Y4M encoder — the raw-container twin of
    * [[syntheticGif]], hand-rolled (shares no code with the parser under
    * test): luma plane pixel (x, y) of frame k is
    * `syntheticPixel(frameSeed(seed, k), x, y) & 0xff` — the SAME plane
    * formula as the GIF twin, so the same video encoded in both
    * containers must hash frame-identically — and chroma planes are a
    * constant 0x80 (gray). `editFrame`/`editSeedDelta` plant a shot edit
    * exactly as in [[syntheticGif]].
    */
  def syntheticY4m(
      seed: Long,
      w: Int,
      h: Int,
      nFrames: Int,
      editFrame: Int = -1,
      editSeedDelta: Long = 0L,
      colorspace: String = "C420"
  ): Array[Byte] = {
    require(w >= 1 && h >= 1 && nFrames >= 1)
    val chromaLen = colorspace match {
      case c if c.startsWith("C420")  => 2 * (((w + 1) / 2) * ((h + 1) / 2))
      case c if c.startsWith("C422")  => 2 * (((w + 1) / 2) * h)
      case c if c.startsWith("C444")  => 2 * w * h
      case c if c.startsWith("Cmono") => 0
      case c => throw new IllegalArgumentException(s"unsupported colorspace '$c'")
    }
    val baos = new java.io.ByteArrayOutputStream()
    baos.write(s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 ${colorspace}\n".getBytes("US-ASCII"))
    var k = 0
    while (k < nFrames) {
      baos.write("FRAME\n".getBytes("US-ASCII"))
      val fSeed = if (k == editFrame) frameSeed(seed, k) + editSeedDelta else frameSeed(seed, k)
      val luma = new Array[Byte](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          luma(y * w + x) = (syntheticPixel(fSeed, x, y) & 0xff).toByte
          x += 1
        }
        y += 1
      }
      baos.write(luma)
      if (chromaLen > 0) {
        val chroma = new Array[Byte](chromaLen)
        java.util.Arrays.fill(chroma, 0x80.toByte)
        baos.write(chroma)
      }
      k += 1
    }
    baos.toByteArray
  }

  /** REAL COMPRESSED video decode inside the pure-JDK ceiling: MJPEG in
    * an AVI (RIFF) container — every frame is an independent JPEG, the
    * one video codec the JDK ships a decoder for. The parser walks the
    * RIFF chunk tree to the `LIST movi` payload and decodes each video
    * data chunk (`##dc`/`##db`) through [[decodeImage]]'s JPEG path
    * (magic-sniffed, 64M-px shed); `LIST rec ` groupings descend flat.
    * Returns one (width, height, luma) per DECODED frame.
    *
    * Exactness contract (the [[decodeImage]] JPEG rule): frame DIMS and
    * COUNT come from the JPEG structure — pinned on any engine — but
    * decoded PIXEL values are deterministic only within one JDK, so
    * cross-engine oracles may pin the frame grid and EQUALITY between
    * identically-encoded frames (two files sharing a JPEG decode it
    * identically on any engine), never absolute hash values.
    *
    * Truncation discipline (WarcSplit/x96): a partial tail chunk or
    * corrupt header ends the walk keeping the frames that did decode;
    * no complete frame → None.
    */
  def decodeAviMjpegFrames(
      bytes: Array[Byte],
      maxFrames: Int = 4096
  ): Option[IndexedSeq[(Int, Int, Array[Byte])]] = {
    if (!RiffAvi.isAvi(bytes)) return None
    val (moviStart, moviEnd) = RiffAvi.movi(bytes) match {
      case Some(m) => m
      case None    => return None
    }
    val out = Vector.newBuilder[(Int, Int, Array[Byte])]
    var n = 0
    var p = moviStart
    var done = false
    while (!done && n < maxFrames && p + 8 <= moviEnd) {
      if (RiffAvi.fcc(bytes, p, "LIST")) p += 12 // descend into 'rec ' groups, walk flat
      else {
        val sz = RiffAvi.le32(bytes, p + 4)
        if (sz < 0 || p + 8 + sz > bytes.length) done = true // partial tail
        else {
          val isVid = bytes(p.toInt + 2) == 'd' &&
            (bytes(p.toInt + 3) == 'c' || bytes(p.toInt + 3) == 'b')
          if (isVid && sz > 0) {
            val sub = java.util.Arrays.copyOfRange(bytes, (p + 8).toInt, (p + 8 + sz).toInt)
            decodeImage(sub) match {
              case Some((w, h, _, luma)) => out += ((w, h, luma)); n += 1
              case None                  => () // undecodable chunk: skip, keep walking
            }
          }
          p += 8 + sz + (sz & 1)
        }
      }
    }
    val frames = out.result()
    if (frames.isEmpty) None else Some(frames)
  }

  /** Shared RIFF/AVI walking primitives of [[decodeAviMjpegFrames]] and
    * [[aviAudioInfo]] — ONE sniff / movi locator / chunk-step discipline,
    * so the two walks (and their partial-tail truncation rule) cannot
    * silently diverge.
    */
  private object RiffAvi {
    def fcc(bytes: Array[Byte], pos: Long, s: String): Boolean =
      pos >= 0 && pos + s.length <= bytes.length &&
        s.indices.forall(i => bytes(pos.toInt + i) == s.charAt(i).toByte)
    def le32(bytes: Array[Byte], pos: Long): Long =
      if (pos < 0 || pos + 4 > bytes.length) -1L
      else (bytes(pos.toInt) & 0xffL) | (bytes(pos.toInt + 1) & 0xffL) << 8 |
        (bytes(pos.toInt + 2) & 0xffL) << 16 | (bytes(pos.toInt + 3) & 0xffL) << 24
    def le16(bytes: Array[Byte], pos: Long): Int =
      if (pos < 0 || pos + 2 > bytes.length) -1
      else (bytes(pos.toInt) & 0xff) | (bytes(pos.toInt + 1) & 0xff) << 8
    def isAvi(bytes: Array[Byte]): Boolean =
      bytes != null && bytes.length >= 16 && fcc(bytes, 0, "RIFF") && fcc(bytes, 8, "AVI ")
    def riffEnd(bytes: Array[Byte]): Long =
      math.min(bytes.length.toLong, 8 + le32(bytes, 4))

    /** `[start, end)` of the top-level `LIST movi` payload, if present. */
    def movi(bytes: Array[Byte]): Option[(Long, Long)] = {
      val end = riffEnd(bytes)
      var pos = 12L
      while (pos + 12 <= end) {
        val sz = le32(bytes, pos + 4)
        if (sz < 0) return None
        if (fcc(bytes, pos, "LIST") && fcc(bytes, pos + 8, "movi"))
          return Some((pos + 12, math.min(end, pos + 8 + sz)))
        pos += 8 + sz + (sz & 1)
      }
      None
    }
  }

  /** AUDIO stream probe of an AVI container — the half of the catalog
    * row [[decodeAviMjpegFrames]]'s video-only walk ignores: walks the
    * `hdrl` stream headers IN STREAM ORDER (the n-th `strl` is stream n,
    * whose movi chunks are tagged `<nn>wb`), takes the FIRST
    * `strl('auds')` stream's strf (WAVEFORMATEX: rate, bits/sample), and
    * counts ONLY THAT stream's `##wb` payload bytes in `movi`, returning
    * (sampleRate, nSamples) with nSamples counting per-channel
    * interleaved samples (the [[decodeAudio]] contract: payloadBytes /
    * bytesPerSample). None when the container carries no PCM audio
    * stream: a NON-PCM stream (`wFormatTag != 1`, e.g. MP3-in-AVI) is
    * skipped — a compressed payload's byte count is not a sample count,
    * and fabricating typed metadata would poison the catalog row — but
    * the scan continues past it, so a later PCM audio stream still
    * types; the probe refuses only when none of the audio streams is
    * PCM. Same truncation discipline as the video walk (shared
    * [[RiffAvi]] primitives): a partial tail chunk ends the count at the
    * samples that are actually present.
    */
  def aviAudioInfo(bytes: Array[Byte]): Option[(Int, Long)] = {
    if (!RiffAvi.isAvi(bytes)) return None
    val end = RiffAvi.riffEnd(bytes)
    // pass 1: hdrl -> strl (stream-ordered) -> strh('auds') + strf
    var streamIdx = -1
    var audsIdx = -1
    var rate = -1
    var bitsPerSample = 16
    var p = 12L
    while (audsIdx < 0 && p + 12 <= end) {
      val sz = RiffAvi.le32(bytes, p + 4)
      if (sz < 0) return None
      if (RiffAvi.fcc(bytes, p, "LIST") && RiffAvi.fcc(bytes, p + 8, "hdrl")) {
        val hEnd = math.min(end, p + 8 + sz)
        var q = p + 12
        while (audsIdx < 0 && q + 8 <= hEnd) {
          val qsz = RiffAvi.le32(bytes, q + 4)
          if (qsz < 0) return None
          if (RiffAvi.fcc(bytes, q, "LIST") && RiffAvi.fcc(bytes, q + 8, "strl")) {
            streamIdx += 1
            val sEnd = math.min(hEnd, q + 8 + qsz)
            var r = q + 12
            var isAuds = false
            while (audsIdx < 0 && r + 8 <= sEnd) {
              val rsz = RiffAvi.le32(bytes, r + 4)
              if (rsz < 0) return None
              if (RiffAvi.fcc(bytes, r, "strh") && rsz >= 8 && RiffAvi.fcc(bytes, r + 8, "auds"))
                isAuds = true
              else if (RiffAvi.fcc(bytes, r, "strf") && isAuds && rsz >= 16) {
                // non-PCM (wFormatTag != 1, e.g. MP3-in-AVI): SKIP this
                // stream — a compressed payload's byte count is not a
                // sample count — but keep scanning later strls; a second,
                // PCM audio stream is still typable. Refusal (None) is
                // only for containers with NO PCM audio stream at all.
                if (RiffAvi.le16(bytes, r + 8) != 1) isAuds = false
                else {
                  val rt = RiffAvi.le32(bytes, r + 8 + 4) // nSamplesPerSec
                  val b = RiffAvi.le16(bytes, r + 8 + 14) // wBitsPerSample
                  if (rt > 0) {
                    rate = rt.toInt
                    bitsPerSample = if (b > 0) b else 16
                    audsIdx = streamIdx
                  }
                }
              }
              r += 8 + rsz + (rsz & 1)
            }
          }
          q += 8 + qsz + (qsz & 1)
        }
      }
      p += 8 + sz + (sz & 1)
    }
    if (audsIdx < 0 || rate <= 0) return None
    // pass 2: movi -> sum ONLY stream audsIdx's '##wb' payload bytes
    val (moviStart, moviEnd) = RiffAvi.movi(bytes) match {
      case Some(m) => m
      case None    => return None
    }
    val d0 = ('0' + audsIdx / 10).toByte
    val d1 = ('0' + audsIdx % 10).toByte
    var audioBytes = 0L
    var m = moviStart
    var done = false
    while (!done && m + 8 <= moviEnd) {
      if (RiffAvi.fcc(bytes, m, "LIST")) m += 12
      else {
        val sz = RiffAvi.le32(bytes, m + 4)
        if (sz < 0 || m + 8 + sz > bytes.length) done = true
        else {
          if (bytes(m.toInt) == d0 && bytes(m.toInt + 1) == d1 &&
            bytes(m.toInt + 2) == 'w' && bytes(m.toInt + 3) == 'b') audioBytes += sz
          m += 8 + sz + (sz & 1)
        }
      }
    }
    val bytesPerSample = math.max(1, bitsPerSample / 8)
    if (audioBytes <= 0) None else Some((rate, audioBytes / bytesPerSample))
  }

  /** STRUCTURE-ONLY typing probe for MPEG-1/2/2.5 Layer III audio (the
    * most common real-corpus audio container, outside the pure-JDK
    * DECODE ceiling — no PCM is ever claimed): skips an ID3v2 tag
    * (synchsafe size), then walks the frame-header chain — each 4-byte
    * header carries version, layer, bitrate and sample-rate indices
    * that determine the frame's exact byte length, so the walk counts
    * frames (VBR included: every frame declares its own bitrate) with
    * no codec at all. Returns (sampleRate, nSamples) with nSamples =
    * frames × samplesPerFrame (1152 MPEG-1, 576 MPEG-2/2.5 — the Layer
    * III constants).
    *
    * Anti-false-positive discipline: a bare 0xFFE sync is two bytes any
    * blob can contain, so the walk demands at least TWO chained valid
    * frames (header → computed length → next header) before typing —
    * with or without an ID3v2 preamble (text data is if anything MORE
    * likely to start with 'ID3'); arbitrary binary cannot satisfy the
    * chain.
    * Truncation keeps the frames that are complete (the AVI walk's
    * partial-tail rule); layers I/II and invalid indices end the walk.
    */
  def probeMp3(bytes: Array[Byte]): Option[(Int, Long)] = {
    if (bytes == null || bytes.length < 4) return None
    val hasId3 = bytes.length >= 10 &&
      bytes(0) == 'I' && bytes(1) == 'D' && bytes(2) == '3'
    var pos = 0L
    if (hasId3) {
      // synchsafe 28-bit size at bytes 6..9, tag header is 10 bytes
      val sz = ((bytes(6) & 0x7fL) << 21) | ((bytes(7) & 0x7fL) << 14) |
        ((bytes(8) & 0x7fL) << 7) | (bytes(9) & 0x7fL)
      pos = 10L + sz
    }
    // bitrate tables (kbps), Layer III; index 0 = free (rejected), 15 = bad
    val v1l3 = Array(-1, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, -1)
    val v2l3 = Array(-1, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160, -1)
    val rates1 = Array(44100, 48000, 32000, -1)
    val rates2 = Array(22050, 24000, 16000, -1)
    val rates25 = Array(11025, 12000, 8000, -1)
    var frames = 0L
    var rate = -1
    var samplesPerFrame = 0L
    var done = false
    while (!done && pos + 4 <= bytes.length) {
      val b1 = bytes(pos.toInt) & 0xff
      val b2 = bytes(pos.toInt + 1) & 0xff
      val b3 = bytes(pos.toInt + 2) & 0xff
      if (b1 != 0xff || (b2 & 0xe0) != 0xe0) done = true
      else {
        val version = (b2 >> 3) & 0x3 // 0=2.5, 2=2, 3=1 (1=reserved)
        val layer = (b2 >> 1) & 0x3 // 1=III
        val brIdx = (b3 >> 4) & 0xf
        val srIdx = (b3 >> 2) & 0x3
        val pad = (b3 >> 1) & 0x1
        if (version == 1 || layer != 1) done = true // reserved version / not Layer III
        else {
          val br = (if (version == 3) v1l3 else v2l3)(brIdx)
          val sr = (version match {
            case 3 => rates1
            case 2 => rates2
            case _ => rates25
          })(srIdx)
          if (br <= 0 || sr <= 0) done = true
          else {
            val spf = if (version == 3) 1152L else 576L
            val frameLen = spf / 8 * (br * 1000L) / sr + pad
            if (pos + frameLen > bytes.length) done = true // partial tail
            else {
              if (rate < 0) { rate = sr; samplesPerFrame = spf }
              else if (sr != rate) done = true // rate must not change mid-stream
              if (!done) { frames += 1; pos += frameLen }
            }
          }
        }
      }
    }
    // TWO chained frames required regardless of an ID3 preamble: any blob
    // can start with the 3 ASCII bytes 'ID3' plus one coincidentally valid
    // header — the chain discipline must hold exactly where attacker-shaped
    // or text data is likeliest to begin with 'ID3'. Synthetic writers emit
    // >= 2 frames, so no real container loses typing to this.
    if (rate > 0 && frames >= 2L) Some((rate, frames * samplesPerFrame)) else None
  }

  /** Deterministic synthetic MP3 frame-chain writer — valid headers
    * (VBR: per-frame bitrate index from the seed formula) around JUNK
    * payload bytes (never decoded; the probe under test reads structure
    * only). `withId3` prepends a minimal ID3v2 tag. MPEG version is
    * derived from the rate (44.1/48/32 kHz → V1, 22.05/24/16 → V2,
    * 11.025/12/8 → V2.5), so the writer covers all three header layouts.
    */
  def syntheticMp3(
      seed: Long,
      nFrames: Int,
      sampleRate: Int = 44100,
      withId3: Boolean = false
  ): Array[Byte] = {
    require(nFrames >= 1)
    val (version, srIdx) = sampleRate match {
      case 44100 => (3, 0); case 48000 => (3, 1); case 32000 => (3, 2)
      case 22050 => (2, 0); case 24000 => (2, 1); case 16000 => (2, 2)
      case 11025 => (0, 0); case 12000 => (0, 1); case 8000 => (0, 2)
      case other => throw new IllegalArgumentException(s"unsupported MP3 rate $other")
    }
    val v1l3 = Array(-1, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, -1)
    val v2l3 = Array(-1, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160, -1)
    val spf = if (version == 3) 1152L else 576L
    val out = new java.io.ByteArrayOutputStream()
    if (withId3) {
      val tagBody = 32
      out.write(Array[Byte]('I', 'D', '3', 4, 0, 0))
      out.write(Array[Byte](0, 0, (tagBody >> 7).toByte, (tagBody & 0x7f).toByte))
      (0 until tagBody).foreach(i => out.write((syntheticSample(seed ^ 0x1d3L, i) & 0x7f)))
    }
    (0 until nFrames).foreach { k =>
      val brIdx = 1 + (math.abs(frameSeed(seed, k)) % 13).toInt // 1..13, VBR
      val br = (if (version == 3) v1l3 else v2l3)(brIdx)
      val pad = (frameSeed(seed, k) >>> 7) & 1L
      val frameLen = (spf / 8 * (br * 1000L) / sampleRate + pad).toInt
      val b2 = 0xe0 | (version << 3) | (1 << 1) // sync low bits + version + Layer III
      val b3 = (brIdx << 4) | (srIdx << 2) | (pad.toInt << 1)
      out.write(0xff); out.write(b2); out.write(b3); out.write(0xc0)
      (4 until frameLen).foreach { i =>
        var v = syntheticSample(frameSeed(seed, k), i) & 0xff
        if (i == 4 && v == 0xff) v = 0xfe // junk must not fake a sync mid-check
        out.write(v)
      }
    }
    out.toByteArray
  }

  /** STRUCTURE-ONLY typing probe for ISO-BMFF containers (MP4/M4A/MOV —
    * the dominant real-corpus video container, outside the pure-JDK
    * DECODE ceiling; no pixel or PCM is ever claimed): sniffs `ftyp`,
    * walks the box tree to `moov`, and reads per-`trak` typed metadata —
    * `tkhd` width/height (16.16 fixed), `hdlr` handler ('vide'/'soun'),
    * `mdhd` timescale/duration (audio timescale IS the sample rate, so
    * duration is the per-channel sample count), `stbl/stsz` sample
    * count (the video frame count). A FRAGMENTED layout (fMP4/DASH:
    * stsz declares 0 samples) falls through to the movie fragments —
    * the video frame count is the sum of the video track's
    * `moof/traf/trun` sample counts, matched on the `tfhd` track id.
    * Returns (width, height, videoFrames, audioRate, audioSamples)
    * with −1 sentinels for absent tracks; None when no `moov`/`trak`
    * parses. Version-0 and version-1 (64-bit) box layouts both handled;
    * truncated trees keep the tracks (and truns) that parsed (the
    * shared partial-tail discipline).
    */
  def probeMp4(bytes: Array[Byte]): Option[(Int, Int, Int, Int, Long)] = {
    if (bytes == null || bytes.length < 12) return None
    def be32(pos: Long): Long =
      if (pos < 0 || pos + 4 > bytes.length) -1L
      else (bytes(pos.toInt) & 0xffL) << 24 | (bytes(pos.toInt + 1) & 0xffL) << 16 |
        (bytes(pos.toInt + 2) & 0xffL) << 8 | (bytes(pos.toInt + 3) & 0xffL)
    def be64(pos: Long): Long =
      if (pos < 0 || pos + 8 > bytes.length) -1L else (be32(pos) << 32) | be32(pos + 4)
    def typ(pos: Long): String =
      if (pos + 4 > bytes.length) ""
      else new String(bytes, pos.toInt, 4, "US-ASCII")
    if (typ(4) != "ftyp") return None
    /** children of the box span [start, end): (type, payloadStart, boxEnd). */
    def children(start: Long, end: Long): Iterator[(String, Long, Long)] =
      new Iterator[(String, Long, Long)] {
        private var p = start
        private var nxt: (String, Long, Long) = advance()
        private def advance(): (String, Long, Long) = {
          if (p + 8 > end) return null
          val sz0 = be32(p)
          val t = typ(p + 4)
          val (sz, hdr) =
            if (sz0 == 1) (be64(p + 8), 16L)
            else if (sz0 == 0) (end - p, 8L)
            else (sz0, 8L)
          if (sz < hdr || p + sz > end || t.isEmpty) return null // truncated/corrupt tail
          val out = (t, p + hdr, p + sz)
          p += sz
          out
        }
        def hasNext: Boolean = nxt != null
        def next(): (String, Long, Long) = { val o = nxt; nxt = advance(); o }
      }
    def find(start: Long, end: Long, t: String): Option[(Long, Long)] =
      children(start, end).collectFirst { case (`t`, ps, pe) => (ps, pe) }
    val moov = find(0L, bytes.length.toLong, "moov").getOrElse(return None)
    var w = -1; var h = -1; var vFrames = -1
    var aRate = -1; var aSamples = -1L
    var vTrackId = -1L
    children(moov._1, moov._2).foreach {
      case ("trak", ts, te) =>
        val handler = (for {
          (ms, me) <- find(ts, te, "mdia")
          (hs, _) <- find(ms, me, "hdlr")
        } yield typ(hs + 8)).getOrElse("")
        val mdhd = for {
          (ms, me) <- find(ts, te, "mdia")
          (ds, _) <- find(ms, me, "mdhd")
        } yield {
          val v = bytes(ds.toInt) & 0xff
          if (v == 1) (be32(ds + 20), be64(ds + 24)) // timescale, duration (64-bit)
          else (be32(ds + 12), be32(ds + 16))
        }
        val stszCount = (for {
          (ms, me) <- find(ts, te, "mdia")
          (mi, mie) <- find(ms, me, "minf")
          (sb, sbe) <- find(mi, mie, "stbl")
          (ss, _) <- find(sb, sbe, "stsz")
        } yield be32(ss + 8)).getOrElse(-1L)
        if (handler == "vide") {
          find(ts, te, "tkhd").foreach { case (ks, _) =>
            val v = bytes(ks.toInt) & 0xff
            // ver/flags(4) + creation + modification precede the id
            vTrackId = be32(ks + (if (v == 1) 20L else 12L))
            val off = if (v == 1) 88L else 76L // width's payload offset per version
            val fw = be32(ks + off); val fh = be32(ks + off + 4)
            if (fw > 0) w = (fw >> 16).toInt
            if (fh > 0) h = (fh >> 16).toInt
          }
          if (stszCount >= 0) vFrames = stszCount.toInt
        } else if (handler == "soun") {
          mdhd.foreach { case (ts2, dur) =>
            if (ts2 > 0) { aRate = ts2.toInt; aSamples = dur }
          }
        }
      case _ => ()
    }
    // FRAGMENTED layout (fMP4/DASH): an stsz declaring 0 samples means
    // the samples live in movie fragments — sum the video track's
    // `moof/traf/trun` sample counts (tfhd carries the track id, trun's
    // fixed header its sample_count; both fixed-offset full boxes).
    // Truncated fragment tails keep the truns that parsed, the shared
    // partial-tail discipline.
    if (vFrames == 0 && vTrackId > 0) {
      var fragFrames = 0L
      children(0L, bytes.length.toLong).foreach {
        case ("moof", fs, fe) =>
          children(fs, fe).foreach {
            case ("traf", rs, re) =>
              val tid = find(rs, re, "tfhd").map(t => be32(t._1 + 4)).getOrElse(-1L)
              if (tid == vTrackId)
                children(rs, re).foreach {
                  case ("trun", us, _) =>
                    val sc = be32(us + 4)
                    if (sc > 0) fragFrames += sc
                  case _ => ()
                }
            case _ => ()
          }
        case _ => ()
      }
      if (fragFrames > 0) vFrames = math.min(fragFrames, Int.MaxValue.toLong).toInt
    }
    if (vFrames < 0 && aRate < 0) None
    else Some((w, h, vFrames, aRate, aSamples))
  }

  /** Deterministic minimal ISO-BMFF writer — `ftyp` + `moov` (video
    * trak: tkhd dims + hdlr 'vide' + stsz frame count; optional audio
    * trak: mdhd timescale = rate, duration = samples + hdlr 'soun') +
    * a junk `mdat` (never decoded; the probe under test reads structure
    * only). Omitting the video trak (`w <= 0`) writes an audio-only
    * container (the .m4a shape). `fragments > 0` writes the FRAGMENTED
    * shape instead: stsz declares 0 and nFrames split evenly across
    * that many `moof/traf/tfhd+trun` boxes (video track id 1).
    */
  def syntheticMp4(
      seed: Long,
      w: Int,
      h: Int,
      nFrames: Int,
      audioRate: Int = -1,
      audioSamples: Long = -1L,
      fragments: Int = 0
  ): Array[Byte] = {
    require(fragments == 0 || (w > 0 && nFrames >= 1),
      "fragmented mode needs a video track with frames to fragment")
    val be = java.nio.ByteOrder.BIG_ENDIAN
    def box(fourcc: String, payload: Array[Byte]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(8 + payload.length).order(be)
      b.putInt(8 + payload.length).put(fourcc.getBytes("US-ASCII")).put(payload)
      b.array()
    }
    def full(fourcc: String, body: Array[Byte]): Array[Byte] =
      box(fourcc, Array[Byte](0, 0, 0, 0) ++ body) // version 0 + flags
    def be32a(vs: Long*): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(4 * vs.length).order(be)
      vs.foreach(v => b.putInt(v.toInt))
      b.array()
    }
    def hdlr(kind: String): Array[Byte] =
      full("hdlr", be32a(0) ++ kind.getBytes("US-ASCII") ++ be32a(0, 0, 0) ++ Array[Byte](0))
    def mdhd(timescale: Long, duration: Long): Array[Byte] =
      full("mdhd", be32a(0, 0, timescale, duration) ++ Array[Byte](0x55, 0xc4.toByte, 0, 0))
    def stsz(n: Long): Array[Byte] = full("stsz", be32a(0, n))
    def trak(kind: String, tw: Int, th: Int, timescale: Long, duration: Long, samples: Long,
        trackId: Long = 1L): Array[Byte] = {
      val tkhd = full("tkhd",
        be32a(0, 0, trackId, 0, duration) ++ be32a(0, 0) ++
          Array[Byte](0, 0, 0, 0, 0, 0, 0, 0) ++ // layer, alt, volume, reserved
          be32a(0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000) ++ // identity matrix
          be32a(tw.toLong << 16, th.toLong << 16))
      val stbl = box("stbl", stsz(samples))
      val minf = box("minf", stbl)
      val mdia = box("mdia", mdhd(timescale, duration) ++ hdlr(kind) ++ minf)
      box("trak", tkhd ++ mdia)
    }
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII") ++ be32a(0x200) ++ "isomiso2".getBytes("US-ASCII"))
    val mvhd = full("mvhd", be32a(0, 0, 1000, 1000) ++ be32a(0x10000, 0) ++ new Array[Byte](76))
    // fragmented mode (the fMP4/DASH shape): the video stsz declares 0
    // samples and the frames live in `fragments` moof boxes, each a
    // traf(tfhd: track id 1, trun: an even share of nFrames)
    val fragged = fragments > 0
    val vTrak =
      if (w > 0)
        trak("vide", w, h, 1000L, 1000L, if (fragged) 0L else nFrames.toLong, trackId = 1L)
      else Array.emptyByteArray
    val aTrak =
      if (audioRate > 0)
        trak("soun", 0, 0, audioRate.toLong, audioSamples, audioSamples, trackId = 2L)
      else Array.emptyByteArray
    val moov = box("moov", mvhd ++ vTrak ++ aTrak)
    val moofs =
      if (!fragged) Array.emptyByteArray
      else (1 to fragments).toArray.flatMap { k =>
        val lo = (k - 1).toLong * nFrames / fragments
        val hi = k.toLong * nFrames / fragments
        val mfhd = full("mfhd", be32a(k.toLong))
        val tfhd = full("tfhd", be32a(1L)) // track id 1, no optional fields
        val trun = full("trun", be32a(hi - lo)) // sample_count only
        box("moof", mfhd ++ box("traf", tfhd ++ trun))
      }
    val junk = Array.tabulate(64)(i => (syntheticSample(seed, i) & 0xff).toByte)
    ftyp ++ moov ++ moofs ++ box("mdat", junk)
  }

  /** STRUCTURE-ONLY typing probe for FLAC — the x189 discipline for the
    * most common lossless-audio container: the mandatory first metadata
    * block (STREAMINFO, type 0, exactly 34 bytes) carries the sample
    * rate in 20 bits, channels−1 in 3, bits-per-sample−1 in 5, and the
    * total inter-channel sample count in 36, all at fixed bit offsets —
    * exact typed metadata with no codec at all. Returns
    * (sampleRate, channels, totalSamples); totalSamples is the
    * PER-CHANNEL count (the field's definition — same convention as the
    * MP3/MP4 structure probes, NOT ×channels like [[decodeAudio]]).
    *
    * Anti-false-positive discipline: beyond the 4-byte `fLaC` magic the
    * probe demands the first block be type 0 with length exactly 34,
    * the block-size bounds ordered and within the format's legal range
    * (16..65535), a non-zero in-range sample rate (1..655350), and —
    * because the format marks "unknown" with a zero field — a POSITIVE
    * total-sample count; a stream whose length the header does not
    * declare is refused rather than guessed (the aviAudioInfo rule).
    * Later metadata blocks are walked only for well-formedness (type
    * 127 is invalid by spec); a truncated tail past a valid STREAMINFO
    * keeps the typing (the shared partial-tail discipline).
    */
  def probeFlac(bytes: Array[Byte]): Option[(Int, Int, Long)] = {
    if (bytes == null || bytes.length < 4 + 4 + 34) return None
    if (bytes(0) != 'f' || bytes(1) != 'L' || bytes(2) != 'a' || bytes(3) != 'C') return None
    def u8(p: Int): Int = bytes(p) & 0xff
    val hdr = u8(4)
    val blockType = hdr & 0x7f
    val len = (u8(5) << 16) | (u8(6) << 8) | u8(7)
    if (blockType != 0 || len != 34) return None // STREAMINFO must be first, fixed-size
    val si = 8 // STREAMINFO payload start
    val minBlock = (u8(si) << 8) | u8(si + 1)
    val maxBlock = (u8(si + 2) << 8) | u8(si + 3)
    if (minBlock < 16 || maxBlock < minBlock) return None // spec: block size >= 16
    // bytes si+10..si+17: rate(20) | ch-1(3) | bps-1(5) | totalSamples(36)
    val rate = (u8(si + 10) << 12) | (u8(si + 11) << 4) | (u8(si + 12) >> 4)
    val channels = ((u8(si + 12) >> 1) & 0x7) + 1
    val totalSamples = ((u8(si + 13).toLong & 0x0f) << 32) |
      (u8(si + 14).toLong << 24) | (u8(si + 15).toLong << 16) |
      (u8(si + 16).toLong << 8) | u8(si + 17).toLong
    if (rate <= 0 || rate > 655350) return None
    if (totalSamples <= 0) return None // 0 = unknown by spec: refuse to guess
    // walk the remaining metadata blocks for well-formedness; truncation
    // past the valid STREAMINFO keeps the typing
    var p = 8 + 34
    var last = (hdr & 0x80) != 0
    while (!last && p + 4 <= bytes.length) {
      val h = u8(p)
      if ((h & 0x7f) == 127) return None // invalid block type by spec
      val l = (u8(p + 1) << 16) | (u8(p + 2) << 8) | u8(p + 3)
      last = (h & 0x80) != 0
      p += 4 + l
    }
    Some((rate, channels, totalSamples))
  }

  /** Deterministic synthetic FLAC writer — `fLaC` magic + a valid
    * STREAMINFO (exact rate/channels/totalSamples at the spec's bit
    * offsets, seed-derived fake md5) + a PADDING metadata block carrying
    * the last-block flag + junk "frame" bytes (never decoded; the probe
    * under test reads structure only). Shares no code with [[probeFlac]].
    */
  def syntheticFlac(
      seed: Long,
      nSamples: Long,
      sampleRate: Int = 44100,
      channels: Int = 1
  ): Array[Byte] = {
    require(sampleRate >= 1 && sampleRate <= 655350 && channels >= 1 && channels <= 8)
    require(nSamples >= 1 && nSamples < (1L << 36))
    val b = java.nio.ByteBuffer.allocate(4 + 4 + 34 + 4 + 16 + 32)
    b.put("fLaC".getBytes("US-ASCII"))
    b.put(0x00.toByte) // STREAMINFO, not last
    b.put(0.toByte).put(0.toByte).put(34.toByte)
    b.putShort(4096.toShort).putShort(4096.toShort) // min/max block size
    b.put(0.toByte).put(0.toByte).put(0.toByte) // min frame size (0 = unknown, legal)
    b.put(0.toByte).put(0.toByte).put(0.toByte) // max frame size
    // rate(20) | ch-1(3) | bps-1(5) | totalSamples(36), big-endian bit packing
    val packed = (sampleRate.toLong << 44) | ((channels - 1).toLong << 41) |
      (15L << 36) | (nSamples & ((1L << 36) - 1)) // bps 16
    b.putLong(packed)
    for (i <- 0 until 16) b.put((syntheticSample(seed, i) & 0xff).toByte) // fake md5
    b.put(0x81.toByte) // PADDING, LAST metadata block
    b.put(0.toByte).put(0.toByte).put(16.toByte)
    b.put(new Array[Byte](16))
    for (i <- 16 until 48) b.put((syntheticSample(seed, i) & 0xff).toByte) // junk frames
    b.array()
  }

  /** STRUCTURE-ONLY typing probe for OGG (Vorbis or Opus) — the page
    * walk: every page is `OggS` + version 0 + flags + a 64-bit LE
    * granule position + serial/sequence/CRC + a segment-count byte +
    * the segment lacing table + payload. The FIRST page must carry the
    * beginning-of-stream flag and an id header the probe recognizes —
    * `vorbis` (rate at payload offset 12, LE) or `OpusHead`
    * (version 1, pre-skip at 10, 48 kHz granule timebase by spec) —
    * and the LAST page's granule position is the stream's total sample
    * count (Vorbis: at the id-header rate; Opus: at 48 kHz minus the
    * pre-skip). Returns (sampleRate, channels, nSamples).
    *
    * Anti-false-positive discipline: the 8-byte codec magic + version
    * byte + BOS flag must all hold, and at least one LATER page must
    * carry a POSITIVE granule (an id page alone declares no length —
    * refused rather than guessed, the probeFlac rule). Page CRCs are
    * NOT validated (structure-only, like every probe here — corrupt
    * payloads yield wrong-but-bounded metadata, never a crash).
    * Truncation keeps the last complete page's granule.
    */
  def probeOgg(bytes: Array[Byte]): Option[(Int, Int, Long)] = {
    if (bytes == null || bytes.length < 27) return None
    def u8(p: Long): Int = bytes(p.toInt) & 0xff
    def le32(p: Long): Long =
      u8(p).toLong | (u8(p + 1).toLong << 8) | (u8(p + 2).toLong << 16) | (u8(p + 3).toLong << 24)
    def le64(p: Long): Long = le32(p) | (le32(p + 4) << 32)
    // returns (headerType, granule, payloadStart, payloadLen, nextPage) or null
    def page(p: Long): (Int, Long, Long, Long, Long) = {
      if (p + 27 > bytes.length) return null
      if (bytes(p.toInt) != 'O' || bytes(p.toInt + 1) != 'g' ||
        bytes(p.toInt + 2) != 'g' || bytes(p.toInt + 3) != 'S') return null
      if (u8(p + 4) != 0) return null // stream structure version
      val hType = u8(p + 5)
      val granule = le64(p + 6)
      val nSegs = u8(p + 26)
      if (p + 27 + nSegs > bytes.length) return null
      var payloadLen = 0L
      var i = 0
      while (i < nSegs) { payloadLen += u8(p + 27 + i); i += 1 }
      val payloadStart = p + 27 + nSegs
      if (payloadStart + payloadLen > bytes.length) return null
      (hType, granule, payloadStart, payloadLen, payloadStart + payloadLen)
    }
    val first = page(0L)
    if (first == null) return None
    val (hType0, _, ps0, pl0, next0) = first
    if ((hType0 & 0x02) == 0) return None // first page must be BOS
    def asc(p: Long, s: String): Boolean =
      p + s.length <= ps0 + pl0 && s.indices.forall(k => bytes((p + k).toInt) == s.charAt(k).toByte)
    val (rate, channels, preSkip) =
      if (pl0 >= 16 && u8(ps0) == 0x01 && asc(ps0 + 1, "vorbis")) {
        if (le32(ps0 + 7) != 0L) return None // vorbis id version must be 0
        (le32(ps0 + 12).toInt, u8(ps0 + 11), 0L)
      } else if (pl0 >= 19 && asc(ps0, "OpusHead")) {
        if (u8(ps0 + 8) != 1) return None // OpusHead version must be 1
        // granule timebase is 48 kHz by spec regardless of input rate
        (48000, u8(ps0 + 9), u8(ps0 + 10).toLong | (u8(ps0 + 11).toLong << 8))
      } else return None
    if (rate <= 0) return None
    var lastGranule = -1L
    var p = next0
    var pg = page(p)
    while (pg != null) {
      if (pg._2 >= 0) lastGranule = pg._2
      p = pg._5
      pg = page(p)
    }
    if (lastGranule <= 0) return None // no audio page declared a length
    val n = lastGranule - preSkip
    if (n <= 0) None else Some((rate, channels, n))
  }

  /** Deterministic synthetic OGG writer (Vorbis or Opus id header) —
    * BOS id page, `pages` junk audio pages with running granule
    * positions (at least one page's payload exceeds 255 bytes so the
    * 255-lacing segment chain is exercised), EOS page carrying the
    * final granule (= nSamples, + pre-skip 312 for Opus). Page CRCs are
    * zeroed (the probe under test is structure-only). Shares no code
    * with [[probeOgg]].
    */
  def syntheticOgg(
      seed: Long,
      nSamples: Long,
      sampleRate: Int = 44100,
      channels: Int = 1,
      codec: String = "vorbis",
      pages: Int = 3
  ): Array[Byte] = {
    require(nSamples >= 1 && pages >= 1 && channels >= 1)
    val opusPreSkip = 312
    def page(hType: Int, granule: Long, seq: Int, payload: Array[Byte]): Array[Byte] = {
      val nSegs = payload.length / 255 + 1 // lacing: k full 255s + one terminator < 255
      val b = java.nio.ByteBuffer
        .allocate(27 + nSegs + payload.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("OggS".getBytes("US-ASCII")).put(0.toByte).put(hType.toByte)
      b.putLong(granule).putInt(0x6772614f).putInt(seq).putInt(0) // serial, seq, crc 0
      b.put(nSegs.toByte)
      var rem = payload.length
      while (rem >= 255) { b.put(255.toByte); rem -= 255 }
      b.put(rem.toByte)
      b.put(payload)
      b.array()
    }
    val idPayload =
      if (codec == "vorbis") {
        val b = java.nio.ByteBuffer.allocate(30).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        b.put(0x01.toByte).put("vorbis".getBytes("US-ASCII"))
        b.putInt(0) // vorbis version
        b.put(channels.toByte).putInt(sampleRate)
        b.putInt(0).putInt(0).putInt(0) // bitrate max/nominal/min
        b.put(0xb8.toByte).put(0x01.toByte) // blocksizes + framing
        b.array()
      } else {
        val b = java.nio.ByteBuffer.allocate(19).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        b.put("OpusHead".getBytes("US-ASCII")).put(1.toByte).put(channels.toByte)
        b.putShort(opusPreSkip.toShort).putInt(sampleRate).putShort(0.toShort).put(0.toByte)
        b.array()
      }
    val finalGranule = if (codec == "vorbis") nSamples else nSamples + opusPreSkip
    val out = new java.io.ByteArrayOutputStream()
    out.write(page(0x02, 0L, 0, idPayload)) // BOS, granule 0
    for (k <- 1 to pages) {
      // middle pages carry running granules; page 1 is >255 B for lacing
      val sz = if (k == 1) 600 else 40 + (seed % 17).toInt
      val junk = Array.tabulate(sz)(i => (syntheticSample(seed + k, i) & 0xff).toByte)
      val granule = finalGranule * k / pages
      val hType = if (k == pages) 0x04 else 0x00 // EOS on the last page
      out.write(page(hType, granule, k, junk))
    }
    out.toByteArray
  }

  /** STRUCTURE-ONLY typing probe for WebP — the modern web image
    * container the JDK cannot decode: a RIFF wrapper whose first
    * bitstream chunk carries exact dimensions at fixed offsets. All
    * three layouts handled: `VP8 ` (lossy: 3-byte frame tag, the
    * 0x9d012a start code, then 14-bit LE width/height), `VP8L`
    * (lossless: 0x2f signature, then width−1/height−1 in 14-bit fields
    * of one LE u32), `VP8X` (extended: canvas width−1/height−1 as LE
    * u24s; its ANIM flag + `ANMF` frame chunks make the container a
    * VIDEO with an exact frame count — the Y4M/AVI container rule).
    * Returns (width, height, animFrames) with animFrames 0 for a still
    * image.
    *
    * Anti-false-positive discipline: the double magic (`RIFF`+`WEBP`)
    * plus each layout's own signature (start code / 0x2f / reserved
    * semantics) must hold — a recognized bitstream chunk whose
    * signature fails REFUSES the whole container rather than skipping
    * (a corrupt WebP should not type as an honest one). Truncated tails
    * keep what parsed; never throws.
    */
  def probeWebp(bytes: Array[Byte]): Option[(Int, Int, Int)] = {
    if (bytes == null || bytes.length < 20) return None
    def u8(p: Int): Int = bytes(p) & 0xff
    def fcc(p: Int, s: String): Boolean =
      s.indices.forall(k => bytes(p + k) == s.charAt(k).toByte)
    if (!fcc(0, "RIFF") || !fcc(8, "WEBP")) return None
    def le16(p: Int): Int = u8(p) | (u8(p + 1) << 8)
    def le24(p: Int): Int = u8(p) | (u8(p + 1) << 8) | (u8(p + 2) << 16)
    def le32(p: Int): Long =
      u8(p).toLong | (u8(p + 1).toLong << 8) | (u8(p + 2).toLong << 16) | (u8(p + 3).toLong << 24)
    var p = 12
    var w = -1; var h = -1
    var anim = false
    var frames = 0
    var done = false
    while (!done && p + 8 <= bytes.length) {
      val sz = le32(p + 4)
      if (sz < 0 || p + 8 + sz > bytes.length) done = true // truncated tail
      else {
        val ps = p + 8
        val t = new String(bytes, p, 4, "US-ASCII")
        t match {
          case "VP8 " =>
            if (sz < 10 || u8(ps + 3) != 0x9d || u8(ps + 4) != 0x01 || u8(ps + 5) != 0x2a)
              return None // bad start code: corrupt, refuse
            if (w < 0) { w = le16(ps + 6) & 0x3fff; h = le16(ps + 8) & 0x3fff }
          case "VP8L" =>
            if (sz < 5 || u8(ps) != 0x2f) return None // bad signature
            if (w < 0) {
              val b = le32(ps + 1)
              w = (b & 0x3fff).toInt + 1
              h = ((b >> 14) & 0x3fff).toInt + 1
            }
          case "VP8X" =>
            if (sz < 10) return None
            anim = (u8(ps) & 0x02) != 0
            if (w < 0) { w = le24(ps + 4) + 1; h = le24(ps + 7) + 1 }
          case "ANMF" => frames += 1
          case _ => () // ALPH/ICCP/EXIF/XMP/ANIM metadata: skip
        }
        p += 8 + sz.toInt + (sz.toInt & 1)
      }
    }
    if (w <= 0 || h <= 0) None
    else if (anim) Some((w, h, math.max(frames, 1)))
    else Some((w, h, 0))
  }

  /** Deterministic synthetic WebP writer covering all three layouts —
    * `variant` ∈ vp8 | vp8l | anim (VP8X + ANIM + `animFrames` ANMF
    * chunks, each wrapping a junk VP8 payload). Junk bytes are
    * seed-derived (never decoded; the probe under test reads structure
    * only). Shares no code with [[probeWebp]].
    */
  def syntheticWebp(
      seed: Long,
      w: Int,
      h: Int,
      variant: String = "vp8",
      animFrames: Int = 0
  ): Array[Byte] = {
    require(w >= 1 && w <= 0x4000 && h >= 1 && h <= 0x4000)
    val le = java.nio.ByteOrder.LITTLE_ENDIAN
    def chunk(fourcc: String, payload: Array[Byte]): Array[Byte] = {
      val pad = payload.length & 1
      val b = java.nio.ByteBuffer.allocate(8 + payload.length + pad).order(le)
      b.put(fourcc.getBytes("US-ASCII")).putInt(payload.length).put(payload)
      b.array()
    }
    def junk(n: Int, salt: Long): Array[Byte] =
      Array.tabulate(n)(i => (syntheticSample(seed + salt, i) & 0xff).toByte)
    def vp8Payload(fw: Int, fh: Int, salt: Long): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(10 + 16).order(le)
      b.put(junk(3, salt)) // frame tag (never parsed structurally)
      b.put(0x9d.toByte).put(0x01.toByte).put(0x2a.toByte)
      b.putShort((fw & 0x3fff).toShort).putShort((fh & 0x3fff).toShort)
      b.put(junk(16, salt + 1))
      b.array()
    }
    val payload: Array[Byte] = variant match {
      case "vp8" => chunk("VP8 ", vp8Payload(w, h, 0L))
      case "vp8l" =>
        val b = java.nio.ByteBuffer.allocate(5 + 12).order(le)
        b.put(0x2f.toByte)
        b.putInt(((h - 1) << 14) | (w - 1)) // 14-bit fields, version bits 0
        b.put(junk(12, 2L))
        chunk("VP8L", b.array())
      case "anim" =>
        require(animFrames >= 1)
        val vp8x = java.nio.ByteBuffer.allocate(10).order(le)
        vp8x.put(0x02.toByte).put(new Array[Byte](3)) // ANIM flag + reserved
        vp8x.put((((w - 1) >> 0) & 0xff).toByte).put((((w - 1) >> 8) & 0xff).toByte)
          .put((((w - 1) >> 16) & 0xff).toByte)
        vp8x.put((((h - 1) >> 0) & 0xff).toByte).put((((h - 1) >> 8) & 0xff).toByte)
          .put((((h - 1) >> 16) & 0xff).toByte)
        val animChunk = chunk("ANIM", junk(6, 3L))
        val anmf = (0 until animFrames).toArray.flatMap { k =>
          // ANMF payload: 16 bytes of frame geometry (junk here) + a
          // nested VP8 bitstream chunk
          chunk("ANMF", junk(16, 10L + k) ++ chunk("VP8 ", vp8Payload(w, h, 20L + k)))
        }
        chunk("VP8X", vp8x.array()) ++ animChunk ++ anmf
      case other => throw new IllegalArgumentException(s"unknown webp variant '$other'")
    }
    val b = java.nio.ByteBuffer.allocate(12 + payload.length).order(le)
    b.put("RIFF".getBytes("US-ASCII")).putInt(4 + payload.length)
      .put("WEBP".getBytes("US-ASCII")).put(payload)
    b.array()
  }

  /** STRUCTURE-ONLY typing probe for TIFF — the scanned-document staple
    * (multi-page faxes, archival scans) the JDK cannot decode: both
    * byte orders (`II` little, `MM` big), IFD walk reading the FIRST
    * page's ImageWidth (tag 256) / ImageLength (tag 257) — SHORT and
    * LONG entry types both handled, with the format's
    * value-left-justified-in-4-bytes rule for inline SHORTs — and the
    * next-IFD chain counted for the page count. Returns
    * (width, height, pages).
    *
    * Anti-false-positive discipline: magic + version 42 + an in-bounds
    * first IFD with ≥ 1 well-formed entry carrying BOTH dimension tags
    * with positive values; the page walk is cycle-proof (a next-IFD
    * offset must strictly increase — linkers emit them in file order;
    * a backward link is treated as a truncated tail, keeping the pages
    * already counted). Never throws.
    */
  def probeTiff(bytes: Array[Byte]): Option[(Int, Int, Int)] = {
    if (bytes == null || bytes.length < 8) return None
    val le =
      if (bytes(0) == 'I' && bytes(1) == 'I') true
      else if (bytes(0) == 'M' && bytes(1) == 'M') false
      else return None
    def u8(p: Long): Int = bytes(p.toInt) & 0xff
    def u16(p: Long): Int =
      if (p < 0 || p + 2 > bytes.length) -1
      else if (le) u8(p) | (u8(p + 1) << 8)
      else (u8(p) << 8) | u8(p + 1)
    def u32(p: Long): Long =
      if (p < 0 || p + 4 > bytes.length) -1L
      else if (le) u8(p).toLong | (u8(p + 1).toLong << 8) | (u8(p + 2).toLong << 16) | (u8(p + 3).toLong << 24)
      else (u8(p).toLong << 24) | (u8(p + 1).toLong << 16) | (u8(p + 2).toLong << 8) | u8(p + 3).toLong
    if (u16(2) != 42) return None
    var ifd = u32(4)
    if (ifd < 8 || ifd + 2 > bytes.length) return None
    var w = -1L; var h = -1L
    var pages = 0
    var prev = 0L
    var done = false
    while (!done && ifd > prev && ifd + 2 <= bytes.length) {
      prev = ifd
      val n = u16(ifd)
      if (n <= 0) done = true
      else {
        if (ifd + 2 + 12L * n + 4 > bytes.length) done = true // truncated IFD
        else {
          pages += 1
          if (pages == 1) {
            var i = 0
            while (i < n) {
              val e = ifd + 2 + 12L * i
              val tag = u16(e)
              val typ = u16(e + 2)
              // SHORT (3) is left-justified in the 4-byte value field;
              // LONG (4) fills it — both with the header's byte order
              val v =
                if (typ == 3) u16(e + 8).toLong
                else if (typ == 4) u32(e + 8)
                else -1L
              if (tag == 256) w = v else if (tag == 257) h = v
              i += 1
            }
          }
          ifd = u32(ifd + 2 + 12L * n)
          if (ifd == 0) done = true
        }
      }
    }
    if (pages >= 1 && w > 0 && h > 0) Some((w.toInt, h.toInt, pages)) else None
  }

  /** Deterministic synthetic TIFF writer — both byte orders, `pages`
    * chained IFDs each carrying ImageWidth/ImageLength (page 1 as LONG
    * entries, later pages as SHORTs — both entry types exercised) plus
    * junk strip bytes (never decoded). Shares no code with
    * [[probeTiff]].
    */
  def syntheticTiff(
      seed: Long,
      w: Int,
      h: Int,
      pages: Int = 1,
      littleEndian: Boolean = true
  ): Array[Byte] = {
    require(w >= 1 && h >= 1 && pages >= 1)
    val order = if (littleEndian) java.nio.ByteOrder.LITTLE_ENDIAN else java.nio.ByteOrder.BIG_ENDIAN
    // per page: IFD with 2 entries (2 + 24 + 4 bytes) + 8 junk strip bytes
    val perPage = 2 + 2 * 12 + 4 + 8
    val b = java.nio.ByteBuffer.allocate(8 + pages * perPage).order(order)
    b.put((if (littleEndian) "II" else "MM").getBytes("US-ASCII"))
    b.putShort(42.toShort)
    b.putInt(8) // first IFD right after the header
    for (k <- 0 until pages) {
      val base = 8 + k * perPage
      b.position(base)
      b.putShort(2.toShort)
      if (k == 0) {
        // LONG entries: tag, type 4, count 1, full 4-byte value
        b.putShort(256.toShort).putShort(4.toShort).putInt(1).putInt(w)
        b.putShort(257.toShort).putShort(4.toShort).putInt(1).putInt(h)
      } else {
        // SHORT entries: value left-justified in the 4-byte field
        b.putShort(256.toShort).putShort(3.toShort).putInt(1).putShort(w.toShort).putShort(0.toShort)
        b.putShort(257.toShort).putShort(3.toShort).putInt(1).putShort(h.toShort).putShort(0.toShort)
      }
      b.putInt(if (k == pages - 1) 0 else base + perPage) // next-IFD link
      for (i <- 0 until 8) b.put((syntheticSample(seed + k, i) & 0xff).toByte)
    }
    b.array()
  }

  /** Deterministic synthetic MJPEG-in-AVI encoder — the COMPRESSED twin
    * of [[syntheticGif]]/[[syntheticY4m]]: each frame is the formula
    * plane (grayscale, `syntheticPixel(frameSeed(seed, k), x, y) & 0xff`)
    * encoded through the JDK JPEG writer, wrapped in a hand-rolled
    * minimal RIFF/AVI (avih + strl('vids'/'MJPG') + movi of `00dc`
    * chunks; no idx1 — legal with AVIF_HASINDEX unset, and the parser
    * under test shares none of this construction code). Because
    * unedited frames of a clean file and its edited copy encode the
    * SAME plane, their JPEG bytes are byte-identical — the engine-
    * independent equality that AVI near-dup oracles pin.
    */
  def syntheticAviMjpeg(
      seed: Long,
      w: Int,
      h: Int,
      nFrames: Int,
      editFrame: Int = -1,
      editSeedDelta: Long = 0L,
      audioSamples: Array[Short] = null,
      audioRate: Int = 16000,
      nonPcmLeadAudio: Boolean = false
  ): Array[Byte] = {
    require(w >= 1 && h >= 1 && nFrames >= 1)
    val hasAudio = audioSamples != null && audioSamples.length > 0
    require(!nonPcmLeadAudio || hasAudio, "nonPcmLeadAudio needs a PCM stream to shadow")
    def jpegOf(k: Int): Array[Byte] = {
      val fSeed = if (k == editFrame) frameSeed(seed, k) + editSeedDelta else frameSeed(seed, k)
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val raster = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { raster.setSample(x, y, 0, syntheticPixel(fSeed, x, y) & 0xff); x += 1 }
        y += 1
      }
      val baos = new java.io.ByteArrayOutputStream()
      require(javax.imageio.ImageIO.write(img, "jpg", baos), "no JDK JPEG writer")
      baos.toByteArray
    }
    val le = java.nio.ByteOrder.LITTLE_ENDIAN
    def chunk(fourcc: String, payload: Array[Byte]): Array[Byte] = {
      val pad = payload.length & 1
      val b = java.nio.ByteBuffer.allocate(8 + payload.length + pad).order(le)
      b.put(fourcc.getBytes("US-ASCII")).putInt(payload.length).put(payload)
      b.array()
    }
    def list(listType: String, payload: Array[Byte]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(12 + payload.length).order(le)
      b.put("LIST".getBytes("US-ASCII")).putInt(4 + payload.length)
        .put(listType.getBytes("US-ASCII")).put(payload)
      b.array()
    }
    val avih = java.nio.ByteBuffer.allocate(56).order(le)
    avih.putInt(40000).putInt(0).putInt(0).putInt(0) // usPerFrame, maxBps, pad, flags
      .putInt(nFrames).putInt(0)
      .putInt(1 + (if (hasAudio) 1 else 0) + (if (nonPcmLeadAudio) 1 else 0))
      .putInt(0) // totalFrames, initFrames, streams, bufSize
      .putInt(w).putInt(h) // + 16 reserved bytes left zero
    val strh = java.nio.ByteBuffer.allocate(56).order(le)
    strh.put("vids".getBytes("US-ASCII")).put("MJPG".getBytes("US-ASCII"))
      .putInt(0).putShort(0).putShort(0).putInt(0) // flags, prio, lang, initFrames
      .putInt(1).putInt(25).putInt(0).putInt(nFrames) // scale, rate, start, length
      .putInt(0).putInt(-1).putInt(0) // bufSize, quality, sampleSize
      .putShort(0).putShort(0).putShort(w.toShort).putShort(h.toShort) // rcFrame
    val strf = java.nio.ByteBuffer.allocate(40).order(le)
    strf.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .put("MJPG".getBytes("US-ASCII")).putInt(w * h * 3)
      .putInt(0).putInt(0).putInt(0).putInt(0)
    val strl = list("strl", chunk("strh", strh.array()) ++ chunk("strf", strf.array()))
    // optional interleaved PCM16LE audio stream (stream 1): strl('auds')
    // with a WAVEFORMATEX strf, samples split evenly into one '01wb'
    // chunk after each video frame's '00dc' — the classic AVI interleave.
    // `nonPcmLeadAudio` inserts a compressed (MP3-tagged) auds strl as
    // stream 1 FIRST, shifting the PCM stream to 2 ('02wb' chunks) — the
    // two-audio-stream layout that pins aviAudioInfo's skip-and-continue.
    val nonPcmStrl =
      if (!nonPcmLeadAudio) Array.emptyByteArray
      else {
        val strhX = java.nio.ByteBuffer.allocate(56).order(le)
        strhX.put("auds".getBytes("US-ASCII")).putInt(0)
          .putInt(0).putShort(0).putShort(0).putInt(0)
          .putInt(1).putInt(audioRate).putInt(0).putInt(0) // scale, rate, start, length
          .putInt(0).putInt(-1).putInt(1)
          .putShort(0).putShort(0).putShort(0).putShort(0)
        val strfX = java.nio.ByteBuffer.allocate(16).order(le)
        strfX.putShort(0x55) // WAVE_FORMAT_MPEGLAYER3: not a sample-countable payload
          .putShort(1).putInt(audioRate).putInt(audioRate / 8).putShort(1).putShort(0)
        list("strl", chunk("strh", strhX.array()) ++ chunk("strf", strfX.array()))
      }
    val pcmStreamId = if (nonPcmLeadAudio) "02" else "01"
    val audioStrl =
      if (!hasAudio) Array.emptyByteArray
      else {
        val strhA = java.nio.ByteBuffer.allocate(56).order(le)
        strhA.put("auds".getBytes("US-ASCII")).putInt(0) // fccType, fccHandler (0 = PCM)
          .putInt(0).putShort(0).putShort(0).putInt(0) // flags, prio, lang, initFrames
          .putInt(1).putInt(audioRate).putInt(0).putInt(audioSamples.length) // scale, rate, start, length
          .putInt(0).putInt(-1).putInt(2) // bufSize, quality, sampleSize
          .putShort(0).putShort(0).putShort(0).putShort(0)
        val strfA = java.nio.ByteBuffer.allocate(16).order(le)
        strfA.putShort(1) // WAVE_FORMAT_PCM
          .putShort(1) // mono
          .putInt(audioRate)
          .putInt(audioRate * 2) // avg bytes/sec
          .putShort(2) // block align
          .putShort(16) // bits per sample
        list("strl", chunk("strh", strhA.array()) ++ chunk("strf", strfA.array()))
      }
    val hdrl = list("hdrl", chunk("avih", avih.array()) ++ strl ++ nonPcmStrl ++ audioStrl)
    val moviPayload = (0 until nFrames).toArray.flatMap { k =>
      val vid = chunk("00dc", jpegOf(k))
      if (!hasAudio) vid
      else {
        val lo = (k.toLong * audioSamples.length / nFrames).toInt
        val hi = ((k + 1).toLong * audioSamples.length / nFrames).toInt
        vid ++ chunk(
          pcmStreamId + "wb",
          shortsToLe(java.util.Arrays.copyOfRange(audioSamples, lo, hi)))
      }
    }
    val movi = list("movi", moviPayload)
    val payload = hdrl ++ movi
    val b = java.nio.ByteBuffer.allocate(12 + payload.length).order(le)
    b.put("RIFF".getBytes("US-ASCII")).putInt(4 + payload.length)
      .put("AVI ".getBytes("US-ASCII")).put(payload)
    b.array()
  }

  /** Multi-frame video decode across the supported containers: animated
    * GIF ([[decodeGifFrames]]), raw YUV4MPEG2 ([[decodeY4mFrames]]), or
    * MJPEG-in-AVI ([[decodeAviMjpegFrames]] — real compressed video).
    * The shared front door of [[videoFrameHashes]]/[[mediaProbe]].
    */
  def decodeVideoFrames(
      bytes: Array[Byte],
      maxFrames: Int = 4096
  ): Option[IndexedSeq[(Int, Int, Array[Byte])]] =
    decodeGifFrames(bytes, maxFrames)
      .orElse(decodeY4mFrames(bytes, maxFrames))
      .orElse(decodeAviMjpegFrames(bytes, maxFrames))

  /** 8-bin L1-normalized histogram of an unsigned byte plane (the honest
    * feature vector both decode paths share).
    */
  private def histogram8(plane: Array[Byte]): Array[Float] = {
    val hist = new Array[Float](8)
    var i = 0
    while (i < plane.length) { hist((plane(i) & 0xff) >> 5) += 1f; i += 1 }
    val total = math.max(1f, plane.length.toFloat)
    hist.map(_ / total)
  }

  /** Decode one row: REAL ImageIO decode for image bytes (true dims +
    * channel count + luma histogram), [[stubDecode]] for everything else.
    */
  def realDecode(r: MediaRow): DecodedMedia = decodeImage(r.content) match {
    case Some((w, h, ch, luma)) =>
      DecodedMedia(
        doc_id = r.doc_id,
        media_type = r.media_type,
        byte_len = r.content.length,
        width = w,
        height = h,
        channels = ch,
        features = histogram8(luma)
      )
    case None => stubDecode(r)
  }

  /** Decode a media Dataset per partition (batched, zero-shuffle). */
  def decode(ds: Dataset[MediaRow]): Dataset[DecodedMedia] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.map(realDecode))
  }

  /** "Video" frame sampling: treat content as fixed-size frame blocks and
    * keep every `stride`-th FULL block — pure column ops (no UDF): slice
    * the binary into `frameSize` chunks via substring arithmetic. Content
    * shorter than one frame yields no frames (the row drops out), and a
    * partial tail block is dropped — block semantics are uniform, never a
    * phantom undersized frame.
    */
  def sampleFrames(df: DataFrame, content: String, frameSize: Int, stride: Int): DataFrame = {
    val nFrames = floor(length(col(content)) / frameSize).cast("int")
    df.withColumn(
      "frame_idx",
      explode(
        when(
          nFrames > 0,
          filter(sequence(lit(0), nFrames - 1), i => i % stride === 0)
        ).otherwise(array().cast("array<int>"))
      )
    ).withColumn(
      "frame",
      substring(col(content), (col("frame_idx") * frameSize + 1).cast("int"), lit(frameSize))
    )
  }

  /** "Resize" stub: nearest-neighbor downsample of the raw byte plane by
    * `factor` (every factor-th byte), run per-partition over the typed
    * Dataset — the same zero-shuffle batch shape a real resampling kernel
    * (JNI libjpeg/swscale) would use; swapping the loop body changes no
    * plan.
    */
  def resizeDataset(ds: Dataset[MediaRow], factor: Int): Dataset[MediaRow] = {
    require(factor >= 1)
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.map { r =>
      val out = new Array[Byte]((r.content.length + factor - 1) / factor)
      var i = 0
      while (i < out.length) { out(i) = r.content(i * factor); i += 1 }
      r.copy(content = out)
    })
  }

  /** Deterministic synthetic-image encoder: renders a w×h RGB plane whose
    * pixel (x, y) derives from (seed, x, y) by a splitmix64-style integer
    * mix (no RNG state — the repo's determinism discipline), encoded with
    * the JDK writer for `format` ("png" | "bmp" | "gif" | "jpg"). Exists
    * for spec/oracle construction: lossless formats round-trip the exact
    * plane, so expected decode results are computable in closed form.
    */
  def syntheticImage(seed: Long, w: Int, h: Int, format: String): Array[Byte] = {
    val img =
      new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, syntheticPixel(seed, x, y))
        x += 1
      }
      y += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, format, baos), s"no JDK writer for '$format'")
    baos.toByteArray
  }

  /** Deterministic synthetic ANIMATED GIF encoder: `nFrames` full-size
    * frames through the JDK GIF writer's sequence API. Each frame is a
    * 256-level GRAYSCALE indexed plane (TYPE_BYTE_INDEXED over an
    * identity gray palette) whose pixel (x, y) index is
    * `syntheticPixel(frameSeed(seed, k), x, y) & 0xff` — indexed data is
    * what GIF stores natively, so the round trip is LOSSLESS and, since
    * BT.601 of gray g is exactly g (`(77g + 150g + 29g) >> 8 = g`), the
    * decoded luma plane equals the index plane: expected frames are
    * computable from the formula alone. The [[syntheticImage]] /
    * [[syntheticWav]] twin for video.
    */
  def syntheticGif(
      seed: Long,
      w: Int,
      h: Int,
      nFrames: Int,
      editFrame: Int = -1,
      editSeedDelta: Long = 0L
  ): Array[Byte] = {
    require(w >= 1 && h >= 1 && nFrames >= 1)
    val grays = Array.tabulate(256)(_.toByte)
    val icm = new java.awt.image.IndexColorModel(8, 256, grays, grays, grays)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val baos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      var k = 0
      while (k < nFrames) {
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          // editFrame (the planted shot edit for near-dup oracles) draws
          // from a shifted seed; every other frame from frameSeed(seed, k)
          val fSeed =
            if (k == editFrame) frameSeed(seed, k) + editSeedDelta else frameSeed(seed, k)
          var x = 0
          while (x < w) {
            raster.setSample(x, y, 0, syntheticPixel(fSeed, x, y) & 0xff)
            x += 1
          }
          y += 1
        }
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
        k += 1
      }
      writer.endWriteSequence()
    } finally {
      writer.dispose()
      ios.close()
    }
    baos.toByteArray
  }

  /** Per-frame seed of [[syntheticGif]], exposed for formula replay. */
  def frameSeed(seed: Long, k: Int): Long = seed + 131L * k

  /** REAL video frame sampling + hashing: for GIF or raw Y4M content,
    * decode every `stride`-th frame through [[decodeVideoFrames]] and
    * hash its luma plane with the classic 8×8 aHash — (doc_id,
    * frame_idx, width, height, simhash), the [[aHash]] column contract
    * extended by a frame axis, so the Manku pigeonhole blocking
    * ([[graft.operators.Dedup.pairsFromFps]]) applies to frames
    * unchanged (near-dup SHOTS across a video corpus) — and because both
    * containers decode to the same luma planes, the SAME video in a GIF
    * and a Y4M hashes frame-identically (cross-container dedup,
    * spec-pinned). Non-video content falls back to the block semantics
    * of [[sampleFrames]]: `fallbackFrameSize`-byte chunks of the raw
    * plane, 1-D [[planeAHash]] per full block (width = block bytes,
    * height = 1). Zero-shuffle mapPartitions — one task amortizes reader
    * init across its partition, the [[decode]] batch shape.
    */
  def videoFrameHashes(
      ds: Dataset[MediaRow],
      stride: Int = 1,
      fallbackFrameSize: Int = 1024
  ): DataFrame = {
    require(stride >= 1 && fallbackFrameSize >= 1)
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.flatMap { r =>
      decodeVideoFrames(r.content) match {
        case Some(frames) =>
          frames.iterator.zipWithIndex.collect {
            case ((w, h, luma), k) if k % stride == 0 =>
              (r.doc_id, k, w, h, lumaAHash64(luma, w, h))
          }
        case None =>
          val n = if (r.content == null) 0 else r.content.length / fallbackFrameSize
          (0 until n).iterator.collect {
            case k if k % stride == 0 =>
              val block = java.util.Arrays.copyOfRange(
                r.content, k * fallbackFrameSize, (k + 1) * fallbackFrameSize)
              (r.doc_id, k, fallbackFrameSize, 1, planeAHash(block, 64))
          }
      }
    }).toDF("doc_id", "frame_idx", "width", "height", "simhash")
  }

  /** 64-bit ENERGY-PROFILE fingerprint of a PCM clip — the audio
    * perceptual hash (echoprint-lite): the clip splits into `bits`+1
    * equal windows (exact integer bounds, the [[planeAHash]] block
    * convention), window energy is the exact integer Σx² of its signed
    * samples, and bit j is set when window j+1's MEAN energy exceeds
    * window j's — cross-multiplied in 128 bits ([[prodGt]]), so no
    * division rounds a borderline bit and no clip length overflows.
    * The energy-DELTA profile is EXACTLY invariant to integer amplitude
    * scaling (samples ×k scale every window's Σx² by k², preserving all
    * comparisons) — a re-gained copy of a clip fingerprints identically,
    * which is what audio dedup wants. Clips shorter than `bits`+1
    * samples degenerate to 0L (documented; they pair only with each
    * other and the exact verify is the caller's n_frame cut).
    */
  private[graft] def energyFingerprint(samples: Array[Short], bits: Int = 64): Long = {
    require(bits >= 1 && bits <= 64, s"bits must be in [1, 64], got $bits")
    val w = bits + 1
    val n = samples.length
    if (n < w) return 0L
    val sq = new Array[Long](w)
    val len = new Array[Long](w)
    var j = 0
    while (j < w) {
      val lo = (j.toLong * n / w).toInt
      val hi = ((j + 1).toLong * n / w).toInt
      var s = 0L
      var k = lo
      while (k < hi) { val x = samples(k).toLong; s += x * x; k += 1 }
      sq(j) = s
      len(j) = hi - lo
      j += 1
    }
    var h = 0L
    j = 0
    while (j < bits) {
      // mean[j+1] > mean[j]  <=>  sq[j+1]·len[j] > sq[j]·len[j+1]
      if (prodGt(sq(j + 1), len(j), sq(j), len(j + 1))) h |= (1L << j)
      j += 1
    }
    h
  }

  /** INTEGER-EXACT nearest-neighbor resample of an interleaved PCM
    * sample array to a new rate: output frame i copies source frame
    * `(i · srcRate) / dstRate` (long math — no float phase accumulator,
    * so the mapping is bit-deterministic on any engine and replayable
    * from the formula alone). Frames move WHOLE (all `channels` samples
    * together), so channel alignment survives. For integer downsample
    * ratios this is exact decimation: a 16 kHz clip resampled to 8 kHz
    * is precisely its even frames — the property the cross-rate
    * fingerprint invariance (x181) is built on. Nearest-neighbor adds no
    * anti-alias filter; for FINGERPRINTING that is the right trade
    * (determinism over fidelity) — this is not an audio-quality
    * resampler.
    *
    * NON-INTEGER ratios (44.1 kHz → 16 kHz): the phase walk lands within
    * ±1 source frame of the ideal position. For BAND-LIMITED content —
    * real audio, adjacent samples correlated — that jitter perturbs
    * window energies negligibly and [[energyFingerprint]] proximity is
    * preserved (pinned ≤ a few bits in OperatorSpec's 44.1k-path fuzz);
    * for noise-like content no such guarantee exists (window-energy
    * comparisons are coin flips under any resample jitter — the spec
    * demonstrates the counterexample). Cross-rate DEDUP contracts
    * (hamming 0) should therefore normalize between divisible rates;
    * non-divisible pairs get near-dup proximity, not equality.
    */
  def resampleToRate(
      samples: Array[Short],
      channels: Int,
      srcRate: Int,
      dstRate: Int
  ): Array[Short] = {
    require(channels >= 1 && srcRate >= 1 && dstRate >= 1)
    if (srcRate == dstRate) return samples
    val nFrames = samples.length / channels
    val outFrames = (nFrames.toLong * dstRate / srcRate).toInt
    val out = new Array[Short](outFrames * channels)
    var i = 0
    while (i < outFrames) {
      val src = (i.toLong * srcRate / dstRate).toInt
      var c = 0
      while (c < channels) { out(i * channels + c) = samples(src * channels + c); c += 1 }
      i += 1
    }
    out
  }

  /** Per-clip audio fingerprints: REAL audio decode ([[decodeAudio]] —
    * WAV, AIFF, and Sun AU containers) →
    * [[energyFingerprint]] over the signed samples; non-audio blobs
    * fingerprint their centered raw bytes (x − 128) so the operator is
    * total. Returns (id, simhash) — the [[graft.operators.Dedup.simhash]]
    * column contract, same as [[aHash]], so the Manku blocking is
    * shared. Zero-shuffle mapPartitions.
    *
    * `normalizeRate = Some(r)`: decoded clips first resample to `r` Hz
    * ([[resampleToRate]] — integer-exact decimation), making the
    * fingerprint RATE-invariant on top of its built-in amplitude
    * invariance: the same recording shipped at 16 kHz and 8 kHz
    * fingerprints identically (exactly, when one rate divides the
    * other). Non-audio fallbacks have no rate and skip normalization.
    */
  def audioFingerprints(
      ds: Dataset[MediaRow],
      bits: Int = 64,
      normalizeRate: Option[Int] = None
  ): DataFrame = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.map { r =>
      val samples = decodeAudio(r.content) match {
        case Some((rate, ch, s)) =>
          normalizeRate match {
            case Some(ref) => resampleToRate(s, ch, rate, ref)
            case None      => s
          }
        case None =>
          val c = if (r.content == null) Array.emptyByteArray else r.content
          val out = new Array[Short](c.length)
          var i = 0
          while (i < c.length) { out(i) = ((c(i) & 0xff) - 128).toShort; i += 1 }
          out
      }
      (r.doc_id, energyFingerprint(samples, bits))
    }).toDF("id", "simhash")
  }

  /** Audio near-dup pairs: [[audioFingerprints]] + the shared Manku
    * pigeonhole Hamming join — the dedup pass a multimodal corpus runs
    * on its audio column (re-gained / re-encoded copies land within a
    * few energy-profile bits). Exact within `maxHamming`; ids + 8-byte
    * fingerprints only on the join. Returns (id_a, id_b, hamming),
    * id_a < id_b.
    */
  def audioNearDupPairs(
      ds: Dataset[MediaRow],
      maxHamming: Int = 4,
      blocks: Int = 8,
      normalizeRate: Option[Int] = None
  ): DataFrame =
    Dedup
      .pairsFromFps(audioFingerprints(ds, normalizeRate = normalizeRate), maxHamming, blocks)
      .select(col("id_a"), col("id_b"), col("hamming").cast("int").as("hamming"))

  /** VIDEO-level near-dup pairs from frame hashes — the shot-signature
    * dedup pass a video corpus runs: [[videoFrameHashes]] per video,
    * frame pairs within `maxHamming` found EXACTLY by the shared Manku
    * pigeonhole blocking ([[graft.operators.Dedup.pairsFromFps]], frame
    * identity = a (doc, frame) struct id), then cross-video pairs
    * aggregate to (id_a, id_b, n_frame_pairs, min_hamming) and keep
    * pairs sharing at least `minFrames` near-identical frames — a
    * re-encoded or lightly-edited copy shares most of its shots; two
    * unrelated videos share none. Same-video frame pairs are excluded
    * (self-similar scenes are not duplication evidence).
    *
    * `n_frame_pairs` is deliberately the RAW matched-pair count (it is
    * part of this operator's output contract): a frame repeated n×m
    * times across the two videos contributes n×m pairs, so two clips
    * that each repeat one near-identical frame (blank/intro padding)
    * can clear `minFrames` on a single shared frame. Callers that need
    * the stricter distinct-matched-positions gate get it from
    * [[mediaDedupCatalog]], which collapses hash-identical repeats and
    * counts distinct positions per side; here, raising `minFrames` or
    * post-filtering on `n_frame_pairs` keeps the evidence visible
    * rather than pre-judged.
    *
    * Scale shape: identical to the image/text simhash paths — the join
    * carries (struct id, 8-byte fp, block key) rows only, never frames;
    * candidate mass is governed by the block-key width; the final
    * aggregate is one exchange on the (doc_a, doc_b) pair key.
    */
  def videoNearDupPairs(
      ds: Dataset[MediaRow],
      maxHamming: Int = 2,
      blocks: Int = 4,
      minFrames: Int = 2,
      stride: Int = 1
  ): DataFrame = {
    val fps = videoFrameHashes(ds, stride)
      .select(struct(col("doc_id"), col("frame_idx")).as("id"), col("simhash"))
    Dedup
      .pairsFromFps(fps, maxHamming, blocks)
      .filter(col("id_a.doc_id") =!= col("id_b.doc_id"))
      .select(
        // normalize pair order at the DOC level (the frame-struct order
        // used inside the blocked join can disagree with doc order)
        least(col("id_a.doc_id"), col("id_b.doc_id")).as("id_a"),
        greatest(col("id_a.doc_id"), col("id_b.doc_id")).as("id_b"),
        col("hamming")
      )
      .groupBy(col("id_a"), col("id_b"))
      .agg(
        count(lit(1)).cast("long").as("n_frame_pairs"),
        min(col("hamming")).cast("int").as("min_hamming")
      )
      .filter(col("n_frame_pairs") >= minFrames)
  }

  /** The synthetic plane's pixel formula (splitmix64-style mix), exposed
    * so oracles can recompute expected pixels WITHOUT going through the
    * encode/decode path under test.
    */
  def syntheticPixel(seed: Long, x: Int, y: Int): Int = {
    var z = seed + x * 0x9e3779b97f4a7c15L + y * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z = z ^ (z >>> 31)
    (z & 0xffffff).toInt
  }

  /** BT.601 integer luma of a packed RGB int — the [[decodeImage]] plane
    * formula, exposed for the same oracle-recompute reason.
    */
  def bt601Luma(rgb: Int): Int =
    (77 * ((rgb >> 16) & 0xff) + 150 * ((rgb >> 8) & 0xff) + 29 * (rgb & 0xff)) >> 8

  /** REAL image resize: decode (via [[decodeImage]]) and nearest-neighbor
    * resample the luma plane to (dstW, dstH) with exact integer index
    * math — `src = (dst · srcDim) / dstDim` — so the result is
    * deterministic on any JVM and replayable from the pixel formula alone
    * (no float scaling, no interpolation rounding). Non-image rows fall
    * back to the 1-D byte-plane stride stub ([[resizeDataset]] semantics)
    * over dstW·dstH bytes. Output rows: (doc_id, media_type, width,
    * height, plane) with the plane as a binary column — the embedding-
    * prep shape (fixed-size input planes) a multimodal pipeline feeds to
    * its encoder. Zero-shuffle mapPartitions, same batch shape as
    * [[decode]].
    */
  def resizeImage(ds: Dataset[MediaRow], dstW: Int, dstH: Int): DataFrame = {
    require(dstW >= 1 && dstH >= 1, s"target dims must be >= 1, got ${dstW}x$dstH")
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.map { r =>
      val plane = decodeImage(r.content) match {
        case Some((w, h, _, luma)) =>
          val out = new Array[Byte](dstW * dstH)
          var y = 0
          while (y < dstH) {
            val sy = (y.toLong * h / dstH).toInt
            var x = 0
            while (x < dstW) {
              val sx = (x.toLong * w / dstW).toInt
              out(y * dstW + x) = luma(sy * w + sx)
              x += 1
            }
            y += 1
          }
          out
        case None =>
          // non-image: strided byte sampling over the raw plane
          val n = r.content.length
          val out = new Array[Byte](dstW * dstH)
          if (n > 0) {
            var i = 0
            while (i < out.length) {
              out(i) = r.content((i.toLong * n / out.length).toInt)
              i += 1
            }
          }
          out
      }
      (r.doc_id, r.media_type, dstW, dstH, plane)
    }).toDF("doc_id", "media_type", "width", "height", "plane")
  }

  /** REAL typed-metadata probe over an opaque media column — the catalog
    * pass a multimodal corpus runs before routing blobs to decoders:
    * per row, sniff + decode just enough to type it, and emit one
    * uniform metadata row:
    *
    *   (doc_id, kind, byte_len, width, height, n_frames, sample_rate,
    *    n_samples)
    *
    * kind ∈ image | video (multi-frame GIF, or Y4M/AVI at any frame
    * count — those containers are video by definition) | audio |
    * unknown. Images decode through [[decodeImage]] (n_frames = 1),
    * GIFs with > 1 frame through [[decodeGifFrames]] (dims of frame 0),
    * Y4M through [[decodeY4mFrames]], MJPEG-AVI through
    * [[decodeAviMjpegFrames]], WAV through
    * audio (WAV/AIFF/AU) through [[decodeAudio]] (n_samples counts
    * per-channel interleaved samples); an INTERLEAVED AVI additionally
    * surfaces its audio stream's (sample_rate, n_samples) on the video
    * row via [[aviAudioInfo]] — kind stays video, but the catalog row
    * is fully typed;
    * undecodable blobs are `unknown` with only byte_len populated
    * (−1 elsewhere — never nulls, so downstream filters are total).
    * Zero-shuffle mapPartitions, the [[decode]] batch shape.
    */
  def mediaProbe(ds: Dataset[MediaRow]): DataFrame = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.map { r =>
      // typing only — the probe never pays for fingerprints it discards
      val t = typeAndFingerprint(r, None, computeFps = false)
      (t.doc_id, t.kind, t.byte_len, t.width, t.height, t.n_frames, t.sample_rate, t.n_samples)
    }).toDF(
      "doc_id", "kind", "byte_len", "width", "height",
      "n_frames", "sample_rate", "n_samples"
    )
  }

  /** One fully-typed AND fingerprinted media row — the shared per-row
    * decode behind [[mediaProbe]] (which projects the typing columns)
    * and [[mediaDedupCatalog]] (which also consumes the per-kind
    * fingerprint payload): `fp` is the image aHash / audio energy
    * fingerprint, `frame_hashes` the per-frame video aHashes. One
    * definition, so the catalog's typing rules and the probe's cannot
    * drift. `digest` is the 16-byte md5 of the raw content — computed
    * ONLY for fingerprint-less rows (structure-only MP3/MP4 typing,
    * unknown), where it is the one dedup signal the bytes still carry
    * (the [[Dedup.exact]] key discipline); fingerprinted rows leave it
    * None (byte-identical copies already pair at Hamming 0).
    */
  private[graft] final case class TypedMedia(
      doc_id: Long,
      kind: String,
      byte_len: Int,
      width: Int,
      height: Int,
      n_frames: Int,
      sample_rate: Int,
      n_samples: Long,
      fp: Option[Long],
      frame_hashes: Option[Seq[Long]],
      digest: Option[Array[Byte]]
  )

  /** md5 of the raw content bytes — 16-byte exact-duplicate key for
    * rows whose kind has no perceptual fingerprint. MessageDigest is
    * allocated per call (it is NOT thread-safe, and a mapPartitions
    * lambda shares the object across the task's rows otherwise).
    */
  private def contentMd5(bytes: Array[Byte]): Array[Byte] =
    java.security.MessageDigest.getInstance("MD5")
      .digest(if (bytes == null) Array.emptyByteArray else bytes)

  /** [[mediaProbe]]'s per-row typing rules (verbatim) plus — when
    * `computeFps` — the kind-appropriate fingerprint, computed in the
    * SAME decode: blobs decode once, not once per downstream pass.
    * `computeFps = false` (the probe's mode) keeps the decode-for-typing
    * cost only, skipping the O(pixels)/O(samples) hash work whose output
    * would be discarded. `normalizeRate` applies [[resampleToRate]]
    * before the audio fingerprint (the x181 rate-invariance knob);
    * typing metadata always reports the NATIVE rate/sample count.
    */
  private[graft] def typeAndFingerprint(
      r: MediaRow,
      normalizeRate: Option[Int],
      computeFps: Boolean = true
  ): TypedMedia = {
    val len = if (r.content == null) 0 else r.content.length
    val isGif = len >= 4 && r.content(0) == 'G' && r.content(1) == 'I' &&
      r.content(2) == 'F' && r.content(3) == '8'
    val isY4m = len >= 10 && r.content(0) == 'Y' && r.content(1) == 'U' &&
      r.content(2) == 'V' && r.content(3) == '4'
    val isAvi = len >= 12 && r.content(0) == 'R' && r.content(1) == 'I' &&
      r.content(2) == 'F' && r.content(3) == 'F' && r.content(8) == 'A' &&
      r.content(9) == 'V' && r.content(10) == 'I'
    // Y4M/AVI are video CONTAINERS — typed video at any frame count; a
    // 1-frame GIF stays an image (the still-photo common case)
    val videoFrames =
      if (isGif) decodeGifFrames(r.content).filter(_.length > 1)
      else if (isY4m) decodeY4mFrames(r.content)
      else if (isAvi) decodeAviMjpegFrames(r.content)
      else None
    videoFrames match {
      case Some(frames) =>
        val (w, h, _) = frames.head
        // an interleaved AVI carries an audio stream too — surface its
        // (rate, samples) on the video row instead of half-typing the
        // most common real container (GIF/Y4M have no audio track)
        val (aRate, aSamples) =
          if (isAvi) aviAudioInfo(r.content).getOrElse((-1, -1L)) else (-1, -1L)
        TypedMedia(r.doc_id, "video", len, w, h, frames.length, aRate, aSamples,
          None,
          if (computeFps) Some(frames.map { case (fw, fh, luma) => lumaAHash64(luma, fw, fh) })
          else None,
          None)
      case _ =>
        decodeImage(r.content) match {
          case Some((w, h, _, luma)) =>
            TypedMedia(r.doc_id, "image", len, w, h, 1, -1, -1L,
              if (computeFps) Some(lumaAHash64(luma, w, h)) else None, None, None)
          case None =>
            decodeAudio(r.content) match {
              case Some((rate, ch, samples)) =>
                val fp =
                  if (!computeFps) None
                  else {
                    val s = normalizeRate match {
                      case Some(ref) => resampleToRate(samples, ch, rate, ref)
                      case None      => samples
                    }
                    Some(energyFingerprint(s))
                  }
                TypedMedia(r.doc_id, "audio", len, -1, -1, -1, rate, samples.length.toLong,
                  fp, None, None)
              case None =>
                // STRUCTURE-ONLY typing beyond the decode ceiling:
                // MP4/M4A (box tree), MP3 (frame-header chain), FLAC
                // (STREAMINFO) and OGG Vorbis/Opus (page walk) carry
                // exact typed metadata with no codec — they type as
                // video/audio with NO perceptual fingerprint. Their one
                // remaining dedup signal is the content md5 `digest`
                // (computed here, in the same pass), which
                // [[mediaDedupCatalog]] turns into exact-duplicate
                // edges; near-identical-but-not-byte-identical copies
                // are correctly kept. Same for `unknown`.
                val dg = if (computeFps) Some(contentMd5(r.content)) else None
                def audioTyped(rate: Int, n: Long): TypedMedia =
                  TypedMedia(r.doc_id, "audio", len, -1, -1, -1, rate, n, None, None, dg)
                probeMp4(r.content)
                  .map { case (w, h, vf, ar, as) =>
                    if (vf >= 0)
                      TypedMedia(r.doc_id, "video", len, w, h, vf, ar, as, None, None, dg)
                    else audioTyped(ar, as)
                  }
                  .orElse(probeMp3(r.content).map { case (rate, n) => audioTyped(rate, n) })
                  .orElse(probeFlac(r.content).map { case (rate, _, n) => audioTyped(rate, n) })
                  .orElse(probeOgg(r.content).map { case (rate, _, n) => audioTyped(rate, n) })
                  .orElse(probeWebp(r.content).map { case (w, h, nf) =>
                    // animated WebP (VP8X ANIM + ANMF chain) is a video
                    // CONTAINER — typed video with its exact frame count
                    // (the Y4M/AVI rule); a still WebP is an image
                    if (nf > 0)
                      TypedMedia(r.doc_id, "video", len, w, h, nf, -1, -1L, None, None, dg)
                    else
                      TypedMedia(r.doc_id, "image", len, w, h, 1, -1, -1L, None, None, dg)
                  })
                  .orElse(probeTiff(r.content).map { case (w, h, pages) =>
                    // a multi-page TIFF stays an IMAGE container (scanned
                    // document, not motion video) — n_frames carries the
                    // exact page count
                    TypedMedia(r.doc_id, "image", len, w, h, pages, -1, -1L, None, None, dg)
                  })
                  .getOrElse(
                    TypedMedia(r.doc_id, "unknown", len, -1, -1, -1, -1, -1L, None, None, dg))
            }
        }
    }
  }

  /** CAPSTONE media pipeline (the x112 discipline for the multimodal
    * layer): probe → per-kind near-dup → ONE deduped typed catalog with
    * per-kind drop accounting, assembled from the already-proven parts:
    *
    *   1. ONE decode pass ([[typeAndFingerprint]]) types every blob and
    *      computes its kind's fingerprint — image aHash, audio energy
    *      fingerprint (rate-normalized when `normalizeRate` is set),
    *      per-frame video aHashes. Pinned ([[graft.runtime.GraftCheckpoint]])
    *      so the three pair passes and the catalog reuse ONE decode of
    *      the corpus, not four.
    *   2. Per-kind near-dup pairs through the shared Manku pigeonhole
    *      blocking — kinds never cross-pair (an audio fingerprint can
    *      never collide into the image pass), and each pass carries ids
    *      + 8-byte fingerprints only.
    *   3. Pair edges union into ONE checkpointed connected-components
    *      run; each cluster keeps its smallest doc_id (the batch
    *      operators' deterministic keep rule).
    *
    * Two videos pair when at least `videoMinFrames` DISTINCT frame
    * positions match on EACH side (not raw frame-hash pairs: two
    * unrelated clips that each repeat one near-identical frame —
    * blank/intro padding — would otherwise mint n×m pairs from a
    * single shared frame and merge); a video's hash-identical repeated
    * frames collapse to one voting unit before pairing.
    *
    * Fingerprint-LESS rows (structure-only MP3/MP4 typing, `unknown`)
    * still dedupe EXACTLY: rows sharing a content md5 `digest` edge into
    * the same cluster (star edges to the group's smallest id — linear,
    * never a within-group cross product), so byte-identical undecodable
    * blobs drop while near-identical ones are kept. A fingerprint-less
    * row with a unique digest never pairs and is always kept.
    *
    * Returns the FULL catalog — every input blob's typed metadata row
    * ([[mediaProbe]] columns) plus `kept` (false = dropped as a
    * near-dup) and `n_members` (its cluster size) — so per-kind drop
    * accounting is `groupBy(kind, kept)` away and nothing is silently
    * discarded (the load-shed discipline).
    *
    * Scale shape: decode is zero-shuffle mapPartitions; the only
    * exchanges are the per-kind blocked self-joins (bounded keys), the
    * digest groupBy (16-byte keys), the CC rounds (checkpointed, ids
    * only), and one id-keyed join back to the typed rows. No
    * corpus-sized collect, window, or cartesian.
    */
  def mediaDedupCatalog(
      ds: Dataset[MediaRow],
      imageMaxHamming: Int = 0,
      audioMaxHamming: Int = 0,
      videoMaxHamming: Int = 2,
      videoMinFrames: Int = 2,
      normalizeRate: Option[Int] = None,
      blocks: Int = 4
  ): DataFrame = {
    import ds.sparkSession.implicits._
    // NOT fanned: a decode-fan experiment (repartition(cores) before the
    // mapPartitions when the input arrives narrow) was A/B'd this round
    // and REVERTED — the pinned typed frame then carries `cores` blocks,
    // so every one of its ~8 consumer stages schedules `cores` tasks
    // (measured on x187: 6 stages × 32 tasks × ~100 ms contended CPU,
    // total 4.41 s → 8.89 s). Same conclusion as r16's loadFanned
    // retreat: on sub-second per-task CPU, pass-count reduction beats
    // parallelism redistribution.
    val typed = graft.runtime.GraftCheckpoint
      .pin(ds.mapPartitions(_.map(typeAndFingerprint(_, normalizeRate))).toDF())
    // pinBlocked = false on all three near-dup legs: their fingerprint
    // upstream is the ONE pinned `typed` frame (or the pinned video
    // frame-unit aggregate below), so the blocked key relation is a
    // trivial projection of materialized blocks — re-pinning it per leg
    // cost the capstone three extra eager jobs per pass for zero saved
    // work (the join sides re-read pinned blocks either way).
    def kindPairs(kind: String, maxHamming: Int): DataFrame =
      Dedup.pairsFromFps(
        typed.filter(col("kind") === kind && col("fp").isNotNull)
          .select(col("doc_id").as("id"), col("fp").as("simhash")),
        maxHamming, blocks, pinBlocked = false
      ).select(col("id_a"), col("id_b"))
    // The videoMinFrames gate counts DISTINCT matched frame positions on
    // EACH side (r15 advice), not raw frame-hash pairs: a single shared
    // frame repeated n×m times across two unrelated clips is ONE match,
    // not n×m. Two layers enforce it: (1) a video's byte-identical
    // repeated frames (hash-equal — blank/intro padding) collapse to one
    // voting unit at their first position before pairing; (2) the gate
    // takes the SMALLER side's distinct matched position count, so an
    // asymmetric repeat (1 frame in A matching m in B) still counts 1.
    // Struct ids order (doc_id, frame_idx) lexicographically and
    // pairsFromFps emits id_a < id_b, so after the same-doc filter
    // id_a.doc_id < id_b.doc_id always — the pair is already canonical.
    // the frame-unit aggregate (one row per distinct (doc, frame hash))
    // is pinned INSTEAD of its derived blocked relation: it is the
    // smaller frame (no C(blocks, agree) key fan-out) and pinning here
    // keeps the posexplode+groupBy at one execution while the self-join
    // sides derive their keys from materialized blocks.
    val videoFrameUnits = graft.runtime.GraftCheckpoint.pin(
      typed.filter(col("kind") === "video")
        .select(col("doc_id"), posexplode(col("frame_hashes")))
        .groupBy(col("doc_id"), col("col").as("simhash"))
        .agg(min(col("pos")).as("frame_idx"))
        .select(struct(col("doc_id"), col("frame_idx")).as("id"), col("simhash"))
    )
    val videoPairs = Dedup
      .pairsFromFps(videoFrameUnits, videoMaxHamming, blocks, pinBlocked = false)
      .filter(col("id_a.doc_id") =!= col("id_b.doc_id"))
      .select(
        col("id_a.doc_id").as("doc_a"),
        col("id_b.doc_id").as("doc_b"),
        col("id_a.frame_idx").as("fidx_a"),
        col("id_b.frame_idx").as("fidx_b")
      )
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(
        countDistinct(col("fidx_a")).as("__na"),
        countDistinct(col("fidx_b")).as("__nb")
      )
      .filter(least(col("__na"), col("__nb")) >= videoMinFrames)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"))
    // exact-duplicate edges for fingerprint-less rows: star to the
    // digest group's smallest id — |group|−1 edges, never C(n,2); one
    // digest-keyed exchange (a window min, no self-join)
    val digestPairs = typed
      .filter(col("fp").isNull && col("frame_hashes").isNull && col("digest").isNotNull)
      .select(
        col("doc_id"),
        min(col("doc_id"))
          .over(org.apache.spark.sql.expressions.Window.partitionBy(col("digest")))
          .as("__hub")
      )
      .filter(col("doc_id") =!= col("__hub"))
      .select(col("__hub").as("id_a"), col("doc_id").as("id_b"))
    val edges = kindPairs("image", imageMaxHamming)
      .unionByName(kindPairs("audio", audioMaxHamming))
      .unionByName(videoPairs)
      .unionByName(digestPairs)
    ConnectedComponents
      .assignClusters(typed, col("doc_id"), edges)
      .select(col("doc_id"), col("n_members"), col("is_rep").as("kept"))
      .join(typed.drop("fp", "frame_hashes", "digest"), Seq("doc_id"))
      .select(
        col("doc_id"), col("kind"), col("byte_len"), col("width"), col("height"),
        col("n_frames"), col("sample_rate"), col("n_samples"),
        col("kept"), col("n_members")
      )
  }

  /** Build a MediaRow dataset from the documents table (text bytes stand in
    * for media content — the driver testdata has no true binary column).
    */
  def fromDocuments(spark: SparkSession, docs: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    docs
      .select(
        col("doc_id"),
        concat(lit("media/"), col("source")).as("media_type"),
        encode(col("text"), "UTF-8").as("content")
      )
      .as[MediaRow]
  }

  /** Perceptual average-hash (aHash) of the media byte plane: split the
    * content into `bits` equal block ranges, bit j = (block-j mean >
    * global mean). On a real image pipeline the input is the decoded
    * 8×8-downsampled grayscale plane (the classic aHash); here it runs
    * on the raw bytes the [[stubDecode]] environment provides — swapping
    * in a real decoder changes the bytes, not the operator. Returns
    * (id, simhash) — deliberately the [[graft.operators.Dedup.simhash]]
    * column contract so the Manku pigeonhole blocking is shared.
    *
    * Zero-shuffle `mapPartitions` (same batch shape as [[decode]]).
    */
  def aHash(ds: Dataset[MediaRow], bits: Int = 64): DataFrame = {
    require(bits >= 1 && bits <= 64, s"bits must be in [1, 64], got $bits")
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.map { r =>
      val h = decodeImage(r.content) match {
        case Some((w, hgt, _, luma)) if bits == 64 => lumaAHash64(luma, w, hgt)
        case Some((_, _, _, luma)) => planeAHash(luma, bits)
        case None => planeAHash(r.content, bits)
      }
      (r.doc_id, h)
    }).toDF("id", "simhash")
  }

  /** Exact 128-bit compare of two non-negative Long products: a·b > c·d.
    * The cross-multiplied mean compare overflows a 64-bit product once
    * the plane passes ~190 MB (s ≤ 255·n makes s·n ≈ 255·n² exceed
    * Long.MaxValue past n ≈ 1.9e8) — and the non-image fallback path
    * feeds raw blobs unbounded, so the compare must be overflow-proof.
    * `Math.multiplyHigh` gives the high 64 bits; the low halves compare
    * unsigned.
    */
  private[graft] def prodGt(a: Long, b: Long, c: Long, d: Long): Boolean = {
    val h1 = Math.multiplyHigh(a, b)
    val h2 = Math.multiplyHigh(c, d)
    if (h1 != h2) h1 > h2
    else java.lang.Long.compareUnsigned(a * b, c * d) > 0
  }

  /** 1-D block-mean aHash over a raw byte plane — the non-image fallback
    * (and the sub-64-bit form). All-integer: block mean > global mean is
    * compared cross-multiplied (s_j · n > S · n_j) in 128 bits
    * ([[prodGt]]), so no division ever rounds a borderline bit and no
    * giant blob (> ~190 MB, where the 64-bit product overflows) silently
    * flips one.
    */
  private[graft] def planeAHash(plane: Array[Byte], bits: Int): Long = {
    val n = plane.length
    var h = 0L
    if (n > 0) {
      var total = 0L
      var i = 0
      while (i < n) { total += (plane(i) & 0xff); i += 1 }
      var j = 0
      while (j < bits) {
        val lo = (j.toLong * n / bits).toInt
        val hi = ((j + 1).toLong * n / bits).toInt
        var s = 0L
        var k = lo
        while (k < hi) { s += (plane(k) & 0xff); k += 1 }
        // s/(hi-lo) > total/n  <=>  s*n > total*(hi-lo), exact in 128 bits
        if (hi > lo && prodGt(s, n, total, hi - lo)) h |= (1L << j)
        j += 1
      }
    }
    h
  }

  /** CLASSIC 8×8 average hash over a decoded luma plane: the image
    * partitions into an 8×8 grid of pixel boxes (exact integer bounds
    * bx·w/8 … (bx+1)·w/8), bit (by·8 + bx) set when the box's mean
    * exceeds the global mean — compared cross-multiplied in longs, so
    * the hash is bit-exact on any engine. Images smaller than 8 px on a
    * side leave their empty boxes at 0 (same convention as the 1-D path).
    * Format-invariance: a PNG and a BMP of the SAME pixel plane decode to
    * the same luma and therefore the same hash (spec-pinned).
    */
  private[graft] def lumaAHash64(luma: Array[Byte], w: Int, h: Int): Long = {
    if (w <= 0 || h <= 0) return 0L
    var total = 0L
    var i = 0
    while (i < luma.length) { total += (luma(i) & 0xff); i += 1 }
    val nAll = luma.length.toLong
    var hash = 0L
    var by = 0
    while (by < 8) {
      val y0 = (by.toLong * h / 8).toInt
      val y1 = ((by + 1).toLong * h / 8).toInt
      var bx = 0
      while (bx < 8) {
        val x0 = (bx.toLong * w / 8).toInt
        val x1 = ((bx + 1).toLong * w / 8).toInt
        val nBox = (y1 - y0).toLong * (x1 - x0)
        if (nBox > 0) {
          var sBox = 0L
          var y = y0
          while (y < y1) {
            var x = x0
            while (x < x1) { sBox += (luma(y * w + x) & 0xff); x += 1 }
            y += 1
          }
          if (sBox * nAll > total * nBox) hash |= (1L << (by * 8 + bx))
        }
        bx += 1
      }
      by += 1
    }
    hash
  }

  /** Image near-dup pairs: [[aHash]] + the Manku permute-and-block
    * Hamming join ([[graft.operators.Dedup.simhashBlocked]]) — the dedup
    * pass a multimodal corpus runs on its image column (re-encoded /
    * lightly-edited copies land within a few aHash bits; pigeonhole
    * blocking finds ALL pairs within `maxHamming` exactly, no
    * all-pairs scan). Returns (id_a, id_b, hamming), id_a < id_b.
    *
    * Scale shape: identical to the text simhash path — the join carries
    * (id, 8-byte fp, block key) rows only, never content; candidate mass
    * is governed by the block-key width exactly as measured in
    * `StressXOps simhash`.
    */
  def imageNearDupPairs(ds: Dataset[MediaRow], maxHamming: Int = 2, blocks: Int = 4): DataFrame =
    Dedup
      .pairsFromFps(aHash(ds), maxHamming, blocks)
      .select(col("id_a"), col("id_b"), col("hamming").cast("int").as("hamming"))

  /** REAL audio decode via the JDK's own `javax.sound.sampled.AudioSystem`
    * (zero new dependencies — the ImageIO analog for RIFF/WAV): returns
    * (sampleRate, channels, samples) with samples as signed 16-bit values,
    * channels interleaved, or None when the bytes are not decodable WAV
    * (magic-sniffed "RIFF....WAVE" first, so arbitrary text blobs never
    * reach the decoder — the [[decodeImage]] discipline). Supported
    * encodings: PCM_SIGNED 16-bit (either endianness — normalized here)
    * and PCM_UNSIGNED 8-bit (recentered to signed, x − 128, unscaled).
    * Planes past 64M samples shed to None (the [[decodeImage]] bound);
    * truncated or corrupt RIFF structures return None, never throw.
    */
  def decodeWav(bytes: Array[Byte]): Option[(Int, Int, Array[Short])] =
    if (bytes != null && bytes.length >= 44 &&
      bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F' &&
      bytes(8) == 'W' && bytes(9) == 'A' && bytes(10) == 'V' && bytes(11) == 'E')
      decodeAudio(bytes)
    else None

  /** REAL audio decode across ALL the containers the JDK's
    * `javax.sound.sampled` reads natively: RIFF/WAVE, FORM/AIFF, and
    * Sun AU (".snd") — the general front door [[decodeWav]] routes
    * through (it keeps its RIFF-only sniff for back-compat). A real
    * multimodal corpus carries mixed containers; before this, non-WAV
    * audio silently took the centered-byte fallback fingerprint.
    *
    * Same contract as [[decodeWav]]: (sampleRate, channels, samples)
    * with samples signed 16-bit, channels interleaved, or None.
    * Supported encodings: PCM_SIGNED 16/24/32-bit (either endianness —
    * WAV is LE, AIFF/AU are BE, normalized here; widths beyond 16 keep
    * their top 16 bits, exact for material mastered from 16-bit
    * sources), IEEE-float 32/64-bit (WAV format tag 3 — scaled by
    * 32768, round-half-up, saturated), PCM_UNSIGNED 8-bit (recentered,
    * x − 128, unscaled), and 8-bit G.711 ULAW/ALAW (the classic AU
    * payloads — expanded to PCM16 through the engine's fixed G.711
    * table conversion, deterministic by spec). Every supported
    * (encoding, width) pair has exactly ONE pinned sample mapping; any
    * other yields None — never a silently wrong plane. 64M-sample shed;
    * truncated or corrupt containers return None, never throw.
    */
  def decodeAudio(bytes: Array[Byte]): Option[(Int, Int, Array[Short])] = {
    if (bytes == null || bytes.length < 24) return None
    val isWav = bytes.length >= 44 &&
      bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F' &&
      bytes(8) == 'W' && bytes(9) == 'A' && bytes(10) == 'V' && bytes(11) == 'E'
    val isAiff = bytes.length >= 54 &&
      bytes(0) == 'F' && bytes(1) == 'O' && bytes(2) == 'R' && bytes(3) == 'M' &&
      bytes(8) == 'A' && bytes(9) == 'I' && bytes(10) == 'F' && bytes(11) == 'F'
    val isAu = bytes(0) == '.' && bytes(1) == 's' && bytes(2) == 'n' && bytes(3) == 'd'
    if (!isWav && !isAiff && !isAu) return None
    try {
      val in0 = javax.sound.sampled.AudioSystem
        .getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
      // G.711 companded payloads expand to PCM16 via the fixed table the
      // format defines — the engine's converter is deterministic by spec
      val rawEnc = in0.getFormat.getEncoding
      val in =
        if (rawEnc == javax.sound.sampled.AudioFormat.Encoding.ULAW ||
          rawEnc == javax.sound.sampled.AudioFormat.Encoding.ALAW) {
          val f = in0.getFormat
          javax.sound.sampled.AudioSystem.getAudioInputStream(
            new javax.sound.sampled.AudioFormat(
              javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
              f.getSampleRate, 16, f.getChannels, f.getChannels * 2, f.getSampleRate, false),
            in0
          )
        } else in0
      try {
        val fmt = in.getFormat
        val enc = fmt.getEncoding
        val bits = fmt.getSampleSizeInBits
        val isSigned = enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
        val isFloat = enc == javax.sound.sampled.AudioFormat.Encoding.PCM_FLOAT
        val ok =
          (isSigned && (bits == 16 || bits == 24 || bits == 32)) ||
            (enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED && bits == 8) ||
            (isFloat && (bits == 32 || bits == 64))
        val ch = fmt.getChannels
        val nFrames = in.getFrameLength
        if (!ok || ch <= 0 || nFrames * ch > 64L * 1024 * 1024) None
        else {
          // manual read loop, NOT readAllBytes: AudioInputStream.read
          // returns 0 (not −1) when a TRUNCATED container leaves a
          // partial frame, and InputStream.readAllBytes spins forever on
          // a 0 return — treat 0 as end-of-usable-data instead
          // 128 MB byte cap backs the 64M-sample shed for streams that
          // report unknown frame length (-1 — e.g. the G.711-converted
          // AU path), where the frame-count check above cannot bound
          val byteCap = 128L * 1024 * 1024
          val acc = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](64 * 1024)
          var r = in.read(buf)
          while (r > 0 && acc.size() <= byteCap) {
            acc.write(buf, 0, r)
            r = in.read(buf)
          }
          if (acc.size() > byteCap) return None
          val data = acc.toByteArray
          val bytesPerSample = bits / 8
          val n = data.length / bytesPerSample
          val out = new Array[Short](n)
          val be = fmt.isBigEndian
          // wider-than-16-bit planes reduce DETERMINISTICALLY to the
          // contract's PCM16: integer PCM keeps its top 16 bits (exact
          // for material mastered from 16-bit sources, truncation — not
          // rounding — otherwise, so the map is bit-stable); IEEE float
          // scales by 32768 with round-half-up and saturation. Never a
          // silent wrong plane: every supported (encoding, width) pair
          // has exactly one pinned mapping, all else returns None above.
          def byteAt(base: Int, k: Int): Int = // k-th LSB-first byte of sample
            data(base + (if (be) bytesPerSample - 1 - k else k)).toInt
          var i = 0
          (bits, isFloat) match {
            case (16, false) =>
              while (i < n) {
                val b0 = byteAt(2 * i, 0); val b1 = byteAt(2 * i, 1)
                out(i) = ((b0 & 0xff) | (b1 << 8)).toShort
                i += 1
              }
            case (24, false) =>
              while (i < n) {
                out(i) = ((byteAt(3 * i, 2) << 8) | (byteAt(3 * i, 1) & 0xff)).toShort
                i += 1
              }
            case (32, false) =>
              while (i < n) {
                out(i) = ((byteAt(4 * i, 3) << 8) | (byteAt(4 * i, 2) & 0xff)).toShort
                i += 1
              }
            case (32, true) =>
              while (i < n) {
                val v = (byteAt(4 * i, 3) << 24) | ((byteAt(4 * i, 2) & 0xff) << 16) |
                  ((byteAt(4 * i, 1) & 0xff) << 8) | (byteAt(4 * i, 0) & 0xff)
                val f = java.lang.Float.intBitsToFloat(v)
                val s = math.round(f * 32768f)
                out(i) = math.max(-32768, math.min(32767, s)).toShort
                i += 1
              }
            case (64, true) =>
              while (i < n) {
                var v = 0L
                var k = 7
                while (k >= 0) { v = (v << 8) | (byteAt(8 * i, k) & 0xffL); k -= 1 }
                val d = java.lang.Double.longBitsToDouble(v)
                val s = math.round(d * 32768.0)
                out(i) = math.max(-32768L, math.min(32767L, s)).toShort
                i += 1
              }
            case _ => // (8, false) PCM_UNSIGNED: recenter, unscaled
              while (i < n) { out(i) = ((data(i) & 0xff) - 128).toShort; i += 1 }
          }
          Some((fmt.getSampleRate.toInt, ch, out))
        }
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Deterministic synthetic-audio sample formula (the [[syntheticPixel]]
    * analog): sample i of seed s by a splitmix64-style integer mix, low
    * 16 bits as a signed sample. Exposed so oracles can recompute
    * expected PCM WITHOUT going through the encode/decode path under
    * test.
    */
  def syntheticSample(seed: Long, i: Int): Short = {
    var z = seed + i * 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z = z ^ (z >>> 31)
    (z & 0xffff).toShort
  }

  /** Deterministic synthetic-WAV encoder: a hand-rolled RIFF/WAVE
    * container (so the writer shares NO code with the `javax.sound`
    * decode path under test) holding PCM16LE samples from
    * [[syntheticSample]], channels interleaved. The spec/oracle
    * construction twin of [[syntheticImage]].
    */
  def syntheticWav(seed: Long, nSamples: Int, sampleRate: Int = 16000, channels: Int = 1): Array[Byte] =
    wavFromSamples(Array.tabulate(nSamples)(syntheticSample(seed, _)), sampleRate, channels)

  /** Hand-rolled RIFF/WAVE container (PCM16LE) around an arbitrary sample
    * array — the writer [[syntheticWav]] and ad-hoc oracle clips share;
    * deliberately NOT `javax.sound`'s writer, so the decode path under
    * test is exercised by an independent container construction.
    */
  def wavFromSamples(
      samples: Array[Short],
      sampleRate: Int = 16000,
      channels: Int = 1
  ): Array[Byte] = {
    require(channels >= 1)
    val dataLen = samples.length * 2
    val b = java.nio.ByteBuffer
      .allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen).put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
    b.putShort(1.toShort) // PCM
    b.putShort(channels.toShort)
    b.putInt(sampleRate)
    b.putInt(sampleRate * channels * 2) // byte rate
    b.putShort((channels * 2).toShort) // block align
    b.putShort(16.toShort) // bits per sample
    b.put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(b.putShort)
    b.array()
  }

  /** Hand-rolled FORM/AIFF container (PCM16 BIG-endian, the AIFF spec's
    * only byte order) around an arbitrary sample array — the
    * [[wavFromSamples]] discipline for the second `javax.sound`-native
    * container: shares NO code with the decode path under test,
    * including its own 80-bit IEEE-754-extended sample-rate encoder
    * (the COMM chunk's historic format).
    */
  def aiffFromSamples(
      samples: Array[Short],
      sampleRate: Int = 16000,
      channels: Int = 1
  ): Array[Byte] = {
    require(channels >= 1 && samples.length % channels == 0 && sampleRate >= 1)
    // 80-bit extended: 1 sign + 15 exponent (bias 16383) + 64 mantissa
    // with EXPLICIT integer bit; an integer rate v normalizes to
    // mantissa = v << (63 − floor(log2 v)), exponent = 16383 + floor(log2 v)
    val ext = new Array[Byte](10)
    val top = 63 - java.lang.Long.numberOfLeadingZeros(sampleRate.toLong)
    val e = 16383 + top
    val m = sampleRate.toLong << (63 - top)
    ext(0) = ((e >> 8) & 0xff).toByte
    ext(1) = (e & 0xff).toByte
    var i = 0
    while (i < 8) { ext(2 + i) = ((m >>> (56 - 8 * i)) & 0xff).toByte; i += 1 }
    val dataLen = samples.length * 2
    val be = java.nio.ByteOrder.BIG_ENDIAN
    val b = java.nio.ByteBuffer.allocate(54 + dataLen).order(be)
    b.put("FORM".getBytes("US-ASCII")).putInt(46 + dataLen).put("AIFF".getBytes("US-ASCII"))
    b.put("COMM".getBytes("US-ASCII")).putInt(18)
    b.putShort(channels.toShort)
    b.putInt(samples.length / channels) // numSampleFrames
    b.putShort(16.toShort) // sampleSize
    b.put(ext)
    b.put("SSND".getBytes("US-ASCII")).putInt(8 + dataLen)
    b.putInt(0).putInt(0) // offset, blockSize
    samples.foreach(b.putShort) // big-endian via buffer order
    b.array()
  }

  /** Hand-rolled Sun AU (".snd") container (encoding 3 = PCM16
    * big-endian) around an arbitrary sample array — the third
    * `javax.sound`-native container's independent writer.
    */
  def auFromSamples(
      samples: Array[Short],
      sampleRate: Int = 16000,
      channels: Int = 1
  ): Array[Byte] = {
    require(channels >= 1 && sampleRate >= 1)
    val dataLen = samples.length * 2
    val b = java.nio.ByteBuffer.allocate(24 + dataLen).order(java.nio.ByteOrder.BIG_ENDIAN)
    b.put(".snd".getBytes("US-ASCII"))
    b.putInt(24) // data offset
    b.putInt(dataLen)
    b.putInt(3) // 16-bit linear PCM
    b.putInt(sampleRate)
    b.putInt(channels)
    samples.foreach(b.putShort)
    b.array()
  }

  /** PCM16LE byte plane of a signed sample array — the layout
    * [[graft.functions.codecs.Pcm16Frames]] consumes (and WAV's own
    * data-chunk layout).
    */
  private[graft] def shortsToLe(samples: Array[Short]): Array[Byte] = {
    val out = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      out(2 * i) = (samples(i) & 0xff).toByte
      out(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  /** Decode pre-pass both audio operators share: audio content
    * (WAV/AIFF/AU via [[decodeAudio]]) decodes to its real PCM16LE
    * sample plane (sample_width = 2); anything else keeps its raw bytes
    * as unsigned 8-bit samples (sample_width = 1 — the pre-round-13
    * fallback, byte-identical for non-audio blobs). Zero-shuffle
    * mapPartitions, the [[decode]] batch shape.
    */
  private def decodedPcm(media: DataFrame): DataFrame = {
    import media.sparkSession.implicits._
    media
      .select(col("doc_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, c) =>
        decodeAudio(c) match {
          case Some((_, _, samples)) => (id, shortsToLe(samples), 2)
          case None => (id, c, 1)
        }
      })
      .toDF("doc_id", "pcm", "sample_width")
  }

  /** The per-frame feature column for a [[decodedPcm]] row: the signed-
    * 16-bit kernel for decoded WAV planes, the unsigned-byte kernel for
    * raw fallback blobs. `frameSize` counts samples in both.
    */
  private def framesCol(frameSize: Int): org.apache.spark.sql.Column =
    when(
      col("sample_width") === 2,
      graft.functions.codecs.pcm16_frames(col("pcm"), frameSize)
    ).otherwise(graft.functions.codecs.pcm_frames(col("pcm"), frameSize))

  /** Audio-style frame features over the media column: REAL `javax.sound`
    * audio decode ([[decodeAudio]]) for WAV/AIFF/AU content — per-frame (rms, mean)
    * of the decoded SIGNED 16-bit samples — and the raw unsigned-byte
    * plane for everything else (the non-audio fallback, unchanged
    * semantics). `frameSize` counts samples; incomplete tails drop. The
    * kernels are native codegen expressions (integer accumulation —
    * exact, order-free, engine-replayable); decode is a zero-shuffle
    * mapPartitions pre-pass; the rest is projection + explode.
    */
  /** Energy-gated segmentation over [[audioFrames]] — the VAD / silence-
    * trimming pass: frames with rms below `silenceRms` are gaps, maximal
    * runs of active frames become segments (classic gaps-and-islands:
    * run key = frame_idx − row_number within the doc). Returns one row
    * per segment: (doc_id, seg_idx, start_frame, end_frame, n_frames,
    * mean_rms). Because the frame features are bit-exact in any engine
    * (integer sums), the gate boolean — and therefore the segmentation —
    * is exactly replayable, however close a frame sits to the threshold.
    *
    * Scale shape: the only exchange is the per-DOC window (frames per
    * doc are bounded by media length — thousands, not corpus-sized), so
    * partitions stay uniform at any corpus width.
    */
  def audioSegments(
      media: DataFrame,
      frameSize: Int = 8,
      silenceRms: Double = 80.0
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // carry the EXACT integer Σx² per frame: the segment RMS is computed
    // over all samples from summed longs (order-free), where an
    // avg-of-rounded-frame-rms would sit on 6dp midpoints and flip
    // between engines (measured on the oracle corpus)
    val active = decodedPcm(media)
      .select(
        col("doc_id"),
        posexplode(framesCol(frameSize)).as(Seq("frame_idx", "f"))
      )
      .select(
        col("doc_id"),
        col("frame_idx"),
        round(col("f.rms"), 6).as("rms"),
        col("f.sum_sq").as("sum_sq")
      )
      .filter(col("rms") >= silenceRms)
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    active
      .withColumn("__grp", col("frame_idx") - row_number().over(wDoc))
      .groupBy(col("doc_id"), col("__grp"))
      .agg(
        min(col("frame_idx")).as("start_frame"),
        max(col("frame_idx")).as("end_frame"),
        count(lit(1)).as("n_frames"),
        sum(col("sum_sq")).as("__sq")
      )
      .withColumn(
        "seg_idx",
        row_number().over(Window.partitionBy(col("doc_id")).orderBy(col("start_frame"))) - 1
      )
      .select(
        col("doc_id"),
        col("seg_idx"),
        col("start_frame"),
        col("end_frame"),
        col("n_frames"),
        round(
          sqrt(col("__sq").cast("double") / (col("n_frames") * frameSize).cast("double")),
          6
        ).as("seg_rms")
      )
  }

  def audioFrames(media: DataFrame, frameSize: Int = 8): DataFrame =
    decodedPcm(media)
      .select(
        col("doc_id"),
        posexplode(framesCol(frameSize)).as(Seq("frame_idx", "f"))
      )
      .select(
        col("doc_id"),
        col("frame_idx"),
        round(col("f.rms"), 6).as("rms"),
        round(col("f.mean"), 6).as("mean")
      )
}
