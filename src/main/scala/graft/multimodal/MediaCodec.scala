package graft.multimodal

/** Real (pure-Scala) media codecs: container sniffing + header
  * parsing (PNG, JPEG, GIF, BMP image dimensions; WAV PCM duration)
  * AND, from line ~221 on, full pixel/sample decoders for those
  * formats (Inflater/LZW/Huffman+IDCT — no external imaging libs;
  * everything parses the published format layouts only). The one
  * remaining declared fallback is INTER-FRAME video (H.264/HEVC/VP9
  * — see Multimodal.FakeCodec); intra-frame MJPEG decodes through
  * the real JPEG path.
  */
object MediaCodec {

  final case class ImageInfo(format: String, width: Int, height: Int)
  final case class AudioInfo(format: String, durationMs: Int, sampleRate: Int, channels: Int)
  final case class VideoInfo(format: String, durationMs: Int, width: Int, height: Int)

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF
  private def be16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)
  private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def be32(b: Array[Byte], i: Int): Int =
    (u8(b, i) << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)
  private def le32(b: Array[Byte], i: Int): Int =
    u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)

  /** PNG: 8-byte signature, then the IHDR chunk (must be first):
    * length(4) "IHDR"(4) width(4 BE) height(4 BE). */
  private def png(b: Array[Byte]): Option[ImageInfo] =
    if (b.length >= 24 &&
      u8(b, 0) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G' &&
      u8(b, 4) == 0x0D && u8(b, 5) == 0x0A && u8(b, 6) == 0x1A && u8(b, 7) == 0x0A &&
      b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')
      Some(ImageInfo("png", be32(b, 16), be32(b, 20)))
    else None

  /** JPEG: FFD8, then marker segments FF xx len(2 BE incl itself);
    * dimensions live in the first SOF0/1/2/3/5/6/7/9/A/B/D/E/F frame
    * header: [len][precision][height BE16][width BE16]. */
  private def jpeg(b: Array[Byte]): Option[ImageInfo] = {
    if (b.length < 4 || u8(b, 0) != 0xFF || u8(b, 1) != 0xD8) return None
    var i = 2
    while (i + 3 < b.length) {
      if (u8(b, i) != 0xFF) return None
      val marker = u8(b, i + 1)
      if (marker == 0xD8 || (marker >= 0xD0 && marker <= 0xD7)) i += 2 // standalone
      else if (marker == 0xD9 || marker == 0xDA) return None // EOI / scan start: no SOF seen
      else {
        val len = be16(b, i + 2)
        val isSof = marker >= 0xC0 && marker <= 0xCF &&
          marker != 0xC4 && marker != 0xC8 && marker != 0xCC
        if (isSof) {
          if (i + 9 >= b.length) return None
          return Some(ImageInfo("jpeg", be16(b, i + 7), be16(b, i + 5)))
        }
        i += 2 + len
      }
    }
    None
  }

  /** GIF87a/GIF89a: logical screen width/height LE16 at offsets 6/8. */
  private def gif(b: Array[Byte]): Option[ImageInfo] =
    if (b.length >= 10 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8' &&
      (b(4) == '7' || b(4) == '9') && b(5) == 'a')
      Some(ImageInfo("gif", le16(b, 6), le16(b, 8)))
    else None

  /** BMP: "BM", BITMAPINFOHEADER width LE32 at 18, height LE32 at 22
    * (negative height = top-down rows). The 2-byte magic alone matches
    * ordinary text ("BM..."), so also require the INFO-header size and
    * planes fields to be plausible. */
  private def bmp(b: Array[Byte]): Option[ImageInfo] =
    if (b.length >= 30 && b(0) == 'B' && b(1) == 'M' &&
      Seq(12, 40, 52, 56, 108, 124).contains(le32(b, 14)) && // known DIB header sizes
      (le32(b, 14) == 12 || le16(b, 26) == 1)) // planes must be 1 (BITMAPINFO)
      Some(ImageInfo("bmp", le32(b, 18), math.abs(le32(b, 22))))
    else None

  /** Sniff an image container and read its dimensions. */
  def sniffImage(bytes: Array[Byte]): Option[ImageInfo] =
    png(bytes).orElse(jpeg(bytes)).orElse(gif(bytes)).orElse(bmp(bytes))

  /** WAV (RIFF/WAVE): walk chunks; "fmt " gives channels(LE16@+2),
    * sampleRate(LE32@+4), byteRate(LE32@+8); "data" size / byteRate =
    * duration. */
  def sniffWav(b: Array[Byte]): Option[AudioInfo] = {
    if (b.length < 44 || b(0) != 'R' || b(1) != 'I' || b(2) != 'F' || b(3) != 'F' ||
      b(8) != 'W' || b(9) != 'A' || b(10) != 'V' || b(11) != 'E') return None
    var i = 12
    var byteRate = 0
    var sampleRate = 0
    var channels = 0
    var dataSize = -1
    while (i + 8 <= b.length && (byteRate == 0 || dataSize < 0)) {
      val id = new String(b, i, 4, "US-ASCII")
      val size = le32(b, i + 4)
      if (size < 0) return None // corrupt header: would loop forever
      if (id == "fmt " && i + 20 <= b.length) {
        channels = le16(b, i + 10)
        sampleRate = le32(b, i + 12)
        byteRate = le32(b, i + 16)
      } else if (id == "data") dataSize = size
      i += 8 + size + (size & 1) // chunks are word-aligned
    }
    if (byteRate > 0 && dataSize >= 0)
      Some(AudioInfo("wav", ((dataSize.toLong * 1000) / byteRate).toInt,
        sampleRate, channels))
    else None
  }

  /** Decoded PCM: centered integer samples (8-bit unsigned → s−128,
    * 16-bit LE signed as-is), interleaved across channels. */
  final case class PcmAudio(sampleRate: Int, channels: Int, bitsPerSample: Int,
                            samples: Array[Int])

  /** Full PCM sample decode of a WAV (RIFF/WAVE) body: format code 1
    * (integer PCM) at 8 or 16 bits. Returns None for other codecs
    * (float/ADPCM/extensible) — the caller degrades to header-only
    * metadata, same policy as the image decoders. */
  def decodeWavSamples(b: Array[Byte]): Option[PcmAudio] = {
    if (b.length < 44 || b(0) != 'R' || b(1) != 'I' || b(2) != 'F' || b(3) != 'F' ||
      b(8) != 'W' || b(9) != 'A' || b(10) != 'V' || b(11) != 'E') return None
    var i = 12
    var fmtCode = -1
    var channels = 0
    var sampleRate = 0
    var bits = 0
    var dataOff = -1
    var dataLen = -1
    while (i + 8 <= b.length && (fmtCode < 0 || dataOff < 0)) {
      val id = new String(b, i, 4, "US-ASCII")
      val size = le32(b, i + 4)
      if (size < 0) return None
      if (id == "fmt " && i + 24 <= b.length) {
        fmtCode = le16(b, i + 8)
        channels = le16(b, i + 10)
        sampleRate = le32(b, i + 12)
        bits = le16(b, i + 22)
      } else if (id == "data") { dataOff = i + 8; dataLen = size }
      i += 8 + size + (size & 1)
    }
    if (fmtCode != 1 || channels < 1 || sampleRate <= 0 || dataOff < 0) return None
    val len = math.min(dataLen, b.length - dataOff)
    bits match {
      case 8 =>
        val out = new Array[Int](len)
        var j = 0
        while (j < len) { out(j) = (b(dataOff + j) & 0xFF) - 128; j += 1 }
        Some(PcmAudio(sampleRate, channels, 8, out))
      case 16 =>
        val n = len / 2
        val out = new Array[Int](n)
        var j = 0
        while (j < n) {
          out(j) = ((b(dataOff + 2 * j) & 0xFF) | (b(dataOff + 2 * j + 1) << 8)).toShort.toInt
          j += 1
        }
        Some(PcmAudio(sampleRate, channels, 16, out))
      case _ => None
    }
  }

  /** MP4/ISO-BMFF (ISO 14496-12, published box layouts): walk
    * top-level boxes [size(4 BE) type(4)]; a leading `ftyp` gates the
    * sniff (arbitrary bytes can collide with a 4-char type); `moov`
    * children give `mvhd` (movie timescale + duration, version 0 =
    * 32-bit fields, version 1 = 64-bit) and per-`trak` `tkhd` boxes
    * whose trailing width/height are 16.16 fixed-point — the first
    * track with nonzero dims is the video track. 64-bit (size==1)
    * and to-end (size==0) boxes abort the sniff rather than misparse. */
  def sniffMp4(b: Array[Byte]): Option[VideoInfo] = {
    if (b.length < 16) return None
    def boxes(from: Int, end: Int): Iterator[(String, Int, Int)] = new Iterator[(String, Int, Int)] {
      private var i = from
      private var broken = false
      def hasNext: Boolean = !broken && i + 8 <= end
      def next(): (String, Int, Int) = {
        val size = be32(b, i)
        val typ = new String(b, i + 4, 4, "US-ASCII")
        if (size < 8 || i.toLong + size > end) { broken = true; ("", i + 8, end) }
        else { val r = (typ, i + 8, i + size); i += size; r }
      }
    }
    val top = boxes(0, b.length).toSeq
    if (top.isEmpty || top.head._1 != "ftyp") return None
    val moov = top.find(_._1 == "moov").getOrElse(return None)
    var durationMs = 0
    var w = 0
    var h = 0
    boxes(moov._2, moov._3).foreach {
      case ("mvhd", s, e) if e - s >= 20 =>
        val v = u8(b, s)
        // v0: timescale@12 dur@16 (4B); v1: timescale@20 dur@24 (8B)
        val (ts, dur) =
          if (v == 1 && e - s >= 32)
            (be32(b, s + 20).toLong,
              (be32(b, s + 24).toLong << 32) | (be32(b, s + 28).toLong & 0xFFFFFFFFL))
          else (be32(b, s + 12).toLong, be32(b, s + 16).toLong & 0xFFFFFFFFL)
        if (ts > 0) durationMs = ((dur * 1000) / ts).toInt
      case ("trak", s, e) if w == 0 =>
        boxes(s, e).foreach {
          case ("tkhd", ts, te) =>
            val v = u8(b, ts)
            // width/height are the LAST 8 bytes of the fixed-size body
            // (v0 body 84 B, v1 96 B) as 16.16 fixed-point
            val need = if (v == 1) 96 else 84
            if (te - ts >= need && w == 0) {
              val tw = be32(b, ts + need - 8) >>> 16
              val th = be32(b, ts + need - 4) >>> 16
              if (tw > 0 && th > 0) { w = tw; h = th }
            }
          case _ => ()
        }
      case _ => ()
    }
    if (durationMs > 0 || (w > 0 && h > 0)) Some(VideoInfo("mp4", durationMs, w, h))
    else None
  }

  // ---- pixel-level decode (pure JDK: Inflater + published layouts) ----

  /** Row-major, channel-interleaved RGB; read samples as
    * `rgb(i) & 0xFF` (bytes, not ints: an Int array would cost 4× the
    * memory, and an OutOfMemoryError inside a task is fatal, not
    * caught). */
  final case class PixelImage(width: Int, height: Int, rgb: Array[Byte])

  /** Pixel-count cap for full decodes. 16 M pixels bounds the ONLY
    * whole-image allocation (the RGB output) at 48 MB per record —
    * the unfilter itself streams scanline-by-scanline with a two-row
    * window, so there is no multiple-of-the-image transient. A 64 M
    * cap with whole-image raw+recon buffers measured ~770 MB
    * transient per RGBA task — exactly the fatal-OOM scenario the cap
    * exists to prevent. */
  val MaxPixels = 16_000_000L

  /** Full PNG pixel decode — public spec (RFC 2083 / ISO 15948), pure
    * JDK: concatenated IDAT chunks inflate with `java.util.zip.
    * Inflater`, then per-scanline unfilter (None/Sub/Up/Average/Paeth)
    * and color-type expansion to RGB. Supported: bit depth 8, color
    * types 0 (gray), 2 (RGB), 3 (palette), 4 (gray+alpha), 6 (RGBA),
    * non-interlaced. Anything else → None (falls back to the declared
    * pseudo path — honest, not wrong). */
  def decodePngPixels(b: Array[Byte]): Option[PixelImage] = {
    // png() guarantees 24 bytes; depth/color/interlace live at 24-28
    if (png(b).isEmpty || b.length < 29) return None
    val width = be32(b, 16)
    val height = be32(b, 20)
    if (width <= 0 || height <= 0 || width.toLong * height > MaxPixels) return None
    val bitDepth = u8(b, 24)
    val colorType = u8(b, 25)
    val interlace = u8(b, 28)
    if (bitDepth != 8 || interlace != 0) return None
    val channels = colorType match {
      case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
      case _ => return None
    }
    // walk chunks for IDAT (concatenate) and PLTE
    val idat = new java.io.ByteArrayOutputStream()
    var plte: Array[Byte] = null
    var i = 8
    var done = false
    while (!done && i + 8 <= b.length) {
      val len = be32(b, i)
      // long arithmetic: a corrupt 2 GB-ish declared length must fail
      // this check, not overflow past it into an uncaught AIOOBE
      if (len < 0 || i.toLong + 12 + len > b.length) return None
      val typ = new String(b, i + 4, 4, "US-ASCII")
      typ match {
        case "IDAT" => idat.write(b, i + 8, len)
        case "PLTE" => plte = java.util.Arrays.copyOfRange(b, i + 8, i + 8 + len)
        case "IEND" => done = true
        case _ => ()
      }
      i += 12 + len
    }
    if (colorType == 3 && (plte == null || plte.length % 3 != 0)) return None
    // inflate + unfilter SCANLINE-BY-SCANLINE with a two-row window
    // (cur/prev), expanding each row straight into the RGB output —
    // no whole-image raw or recon buffer ever exists, so the only
    // image-sized allocation is the output itself (see MaxPixels)
    val stride = width * channels
    val bpp = channels
    val rgb = new Array[Byte](width * height * 3)
    val rowBuf = new Array[Byte](1 + stride) // filter byte + samples
    var cur = new Array[Byte](stride) // unfiltered current row
    var prev = new Array[Byte](stride) // unfiltered previous row
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(idat.toByteArray)
      var y = 0
      while (y < height) {
        var off = 0
        while (off < rowBuf.length) {
          val n = inf.inflate(rowBuf, off, rowBuf.length - off)
          if (n == 0 && (inf.finished() || inf.needsInput() || inf.needsDictionary()))
            return None
          off += n
        }
        val filter = rowBuf(0) & 0xFF
        var x = 0
        while (x < stride) {
          val v = rowBuf(1 + x) & 0xFF
          val a = if (x >= bpp) cur(x - bpp) & 0xFF else 0
          val up = if (y > 0) prev(x) & 0xFF else 0
          val c = if (x >= bpp && y > 0) prev(x - bpp) & 0xFF else 0
          val pred = filter match {
            case 0 => 0
            case 1 => a
            case 2 => up
            case 3 => (a + up) / 2
            case 4 => // Paeth
              val p = a + up - c
              val pa = math.abs(p - a); val pb = math.abs(p - up); val pc = math.abs(p - c)
              if (pa <= pb && pa <= pc) a else if (pb <= pc) up else c
            case _ => return None
          }
          cur(x) = ((v + pred) & 0xFF).toByte
          x += 1
        }
        // expand this row to RGB
        var p = y * width * 3
        var s = 0
        var k = 0
        while (k < width) {
          colorType match {
            case 0 => val g = cur(s); rgb(p) = g; rgb(p + 1) = g; rgb(p + 2) = g; s += 1
            case 2 => rgb(p) = cur(s); rgb(p + 1) = cur(s + 1); rgb(p + 2) = cur(s + 2); s += 3
            case 3 =>
              val idx = (cur(s) & 0xFF) * 3
              if (idx + 2 >= plte.length) return None
              rgb(p) = plte(idx); rgb(p + 1) = plte(idx + 1)
              rgb(p + 2) = plte(idx + 2); s += 1
            case 4 => val g = cur(s); rgb(p) = g; rgb(p + 1) = g; rgb(p + 2) = g; s += 2
            case 6 => rgb(p) = cur(s); rgb(p + 1) = cur(s + 1); rgb(p + 2) = cur(s + 2); s += 4
          }
          p += 3
          k += 1
        }
        val t = prev; prev = cur; cur = t // swap the two-row window
        y += 1
      }
    } catch { case _: java.util.zip.DataFormatException => return None }
    finally inf.end()
    Some(PixelImage(width, height, rgb))
  }

  /** BMP 24-bpp uncompressed pixel decode: BGR samples, rows padded to
    * 4 bytes, bottom-up unless height is negative (top-down). */
  def decodeBmpPixels(b: Array[Byte]): Option[PixelImage] = {
    if (bmp(b).isEmpty || b.length < 34 || le32(b, 14) < 40) return None
    val dataOff = le32(b, 10)
    val width = le32(b, 18)
    val rawH = le32(b, 22)
    // long abs: math.abs(Int.MinValue) stays negative and would slide
    // through every product guard below (negative products pass `>`)
    val heightL = math.abs(rawH.toLong)
    val bits = le16(b, 28)
    val compression = le32(b, 30)
    if (bits != 24 || compression != 0 || width <= 0 || heightL == 0) return None
    // overflow guards mirroring the PNG cap: corrupt huge/negative
    // header fields must return None, not wrap Int math past the
    // bounds check and crash the task mid-extraction
    if (dataOff < 54 || width.toLong * heightL > MaxPixels) return None
    val height = heightL.toInt
    val rowBytes = ((width.toLong * 3 + 3) & ~3L).toInt
    if (dataOff.toLong + rowBytes.toLong * height > b.length) return None
    val rgb = new Array[Byte](width * height * 3)
    var y = 0
    while (y < height) {
      // row 0 of the file is the BOTTOM image row when height > 0
      val imgY = if (rawH > 0) height - 1 - y else y
      val src = dataOff + y * rowBytes
      var x = 0
      while (x < width) {
        val p = (imgY * width + x) * 3
        rgb(p) = b(src + x * 3 + 2)     // R
        rgb(p + 1) = b(src + x * 3 + 1) // G
        rgb(p + 2) = b(src + x * 3)     // B
        x += 1
      }
      y += 1
    }
    Some(PixelImage(width, height, rgb))
  }

  /** GIF pixel decode (GIF87a/89a, public spec): first image frame,
    * LZW-decompressed, palette-expanded to RGB. Handles global/local
    * color tables, extension blocks, interlaced row order, and the
    * full LZW code-table lifecycle (clear codes, width growth to 12
    * bits). Corrupt streams → None. */
  def decodeGifPixels(b: Array[Byte]): Option[PixelImage] = {
    if (gif(b).isEmpty || b.length < 13) return None
    val flags = u8(b, 10)
    var i = 13
    var gct: Array[Byte] = null
    if ((flags & 0x80) != 0) {
      val n = 3 * (1 << ((flags & 7) + 1))
      if (i + n > b.length) return None
      gct = java.util.Arrays.copyOfRange(b, i, i + n)
      i += n
    }
    // walk blocks to the first image descriptor
    while (i < b.length) {
      u8(b, i) match {
        case 0x21 => // extension: label + sub-blocks
          i += 2
          while (i < b.length && u8(b, i) != 0) i += 1 + u8(b, i)
          i += 1
        case 0x2C =>
          if (i + 10 > b.length) return None
          val w = le16(b, i + 5)
          val h = le16(b, i + 7)
          val iflags = u8(b, i + 9)
          if (w <= 0 || h <= 0 || w.toLong * h > MaxPixels) return None
          i += 10
          var ct = gct
          if ((iflags & 0x80) != 0) {
            val n = 3 * (1 << ((iflags & 7) + 1))
            if (i + n > b.length) return None
            ct = java.util.Arrays.copyOfRange(b, i, i + n)
            i += n
          }
          if (ct == null) return None
          val interlaced = (iflags & 0x40) != 0
          return decodeGifLzw(b, i, w, h, ct, interlaced)
        case 0x3B => return None // trailer before any image
        case _ => return None
      }
    }
    None
  }

  /** LZW decompression of one GIF image's data sub-blocks into
    * palette indices, then RGB expansion. */
  private def decodeGifLzw(b: Array[Byte], start: Int, w: Int, h: Int,
                           ct: Array[Byte], interlaced: Boolean): Option[PixelImage] = {
    if (start >= b.length) return None
    val minCode = u8(b, start)
    if (minCode < 2 || minCode > 11) return None
    // concatenate the data sub-blocks
    val data = new java.io.ByteArrayOutputStream()
    var i = start + 1
    while (i < b.length && u8(b, i) != 0) {
      val n = u8(b, i)
      if (i + 1 + n > b.length) return None
      data.write(b, i + 1, n)
      i += 1 + n
    }
    val bytes = data.toByteArray
    val clear = 1 << minCode
    val eoi = clear + 1
    // code table: prefix link + suffix byte per code, max 4096
    val prefix = new Array[Int](4096)
    val suffix = new Array[Int](4096)
    var next = eoi + 1
    var width = minCode + 1
    val nPix = w * h
    val idx = new Array[Int](nPix)
    var out = 0
    var bitPos = 0
    var prev = -1
    val stack = new Array[Int](4097)
    def readCode(): Int = {
      if (bitPos + width > bytes.length * 8) return -1
      var v = 0
      var k = 0
      while (k < width) {
        val bit = bitPos + k
        if ((bytes(bit >> 3) >> (bit & 7) & 1) != 0) v |= 1 << k
        k += 1
      }
      bitPos += width
      v
    }
    var done = false
    while (!done && out < nPix) {
      val code = readCode()
      if (code < 0 || code == eoi) done = true
      else if (code == clear) {
        next = eoi + 1
        width = minCode + 1
        prev = -1
      } else {
        // expand `code` (or the prev+firstChar special case) via the
        // prefix chain, emit reversed
        if (code >= next && !(code == next && prev >= 0)) return None
        var sp = 0
        var c = code
        if (c == next) { // KwKwK case: emit prev + first(prev)
          c = prev
          stack(sp) = -1 // placeholder, patched after first char known
          sp += 1
        }
        while (c >= clear + 2) { // composite code
          stack(sp) = suffix(c); sp += 1; c = prefix(c)
        }
        val first = c // a literal (< clear)
        if (stack.nonEmpty && sp > 0 && stack(0) == -1) stack(0) = first
        // emit first + reversed stack
        if (out < nPix) { idx(out) = first; out += 1 }
        var k = sp - 1
        while (k >= 0 && out < nPix) { idx(out) = stack(k); out += 1; k -= 1 }
        // grow the table
        if (prev >= 0 && next < 4096) {
          prefix(next) = prev
          suffix(next) = first
          next += 1
          if (next < 4096 && (next & (next - 1)) == 0 && width < 12) width += 1
        }
        prev = code
      }
    }
    if (out < nPix) return None
    // palette-expand, undoing interlace row order if set
    val rgb = new Array[Byte](nPix * 3)
    val rowOrder: Array[Int] =
      if (!interlaced) Array.tabulate(h)(identity)
      else {
        val order = new Array[Int](h)
        var r = 0
        for ((start0, step) <- Seq((0, 8), (4, 8), (2, 4), (1, 2)); y <- start0 until h by step) {
          order(r) = y; r += 1
        }
        order
      }
    var row = 0
    while (row < h) {
      val imgY = rowOrder(row)
      var x = 0
      while (x < w) {
        val pi = idx(row * w + x) * 3
        if (pi + 2 >= ct.length) return None
        val p = (imgY * w + x) * 3
        rgb(p) = ct(pi); rgb(p + 1) = ct(pi + 1); rgb(p + 2) = ct(pi + 2)
        x += 1
      }
      row += 1
    }
    Some(PixelImage(w, h, rgb))
  }

  // ---- deterministic VALID container builders (test-data side) ----

  private def pngChunk(out: java.io.ByteArrayOutputStream, typ: String,
                       body: Array[Byte]): Unit = {
    val len = java.nio.ByteBuffer.allocate(4).putInt(body.length).array()
    out.write(len)
    val tb = typ.getBytes("US-ASCII")
    out.write(tb)
    out.write(body)
    val crc = new java.util.zip.CRC32()
    crc.update(tb)
    crc.update(body)
    out.write(java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array())
  }

  /** Minimal valid 8-bit RGB non-interlaced PNG; pixel bytes from
    * `payload` cyclically. Each row's filter type cycles 0..4, and the
    * encoder APPLIES the filter (raw = sample − predictor mod 256), so
    * a round-trip through [[decodePngPixels]] exercises every
    * unfilter branch, not just None. The IDAT zlib stream uses stored
    * (uncompressed) deflate blocks so the container bytes are
    * implementation-independent and oracle-reconstructable. */
  def buildPng(width: Int, height: Int, payload: Array[Byte]): Array[Byte] = {
    val stride = width * 3
    val bpp = 3
    val pix = new Array[Int](height * stride)
    var i = 0
    while (i < pix.length) {
      pix(i) = if (payload.nonEmpty) payload(i % payload.length) & 0xFF else 0
      i += 1
    }
    val raw = new Array[Byte](height * (1 + stride))
    var y = 0
    while (y < height) {
      val filter = y % 5
      raw(y * (1 + stride)) = filter.toByte
      var x = 0
      while (x < stride) {
        val v = pix(y * stride + x)
        val a = if (x >= bpp) pix(y * stride + x - bpp) else 0
        val up = if (y > 0) pix((y - 1) * stride + x) else 0
        val c = if (x >= bpp && y > 0) pix((y - 1) * stride + x - bpp) else 0
        val pred = filter match {
          case 0 => 0
          case 1 => a
          case 2 => up
          case 3 => (a + up) / 2
          case 4 =>
            val p = a + up - c
            val pa = math.abs(p - a); val pb = math.abs(p - up); val pc = math.abs(p - c)
            if (pa <= pb && pa <= pc) a else if (pb <= pc) up else c
        }
        raw(y * (1 + stride) + 1 + x) = ((v - pred) & 0xFF).toByte
        x += 1
      }
      y += 1
    }
    // zlib stream with deflate STORED blocks, hand-framed: compressed
    // bytes are then a pure function of the raw bytes (no codec
    // heuristics), so the m01 oracle can reconstruct the container
    // byte-for-byte in Python; decodePngPixels still inflates it
    // through the real java.util.zip.Inflater
    val comp = new java.io.ByteArrayOutputStream()
    comp.write(0x78); comp.write(0x01) // zlib header, 32K window, level 0
    var off = 0
    do {
      val n = math.min(65535, raw.length - off)
      comp.write(if (off + n >= raw.length) 1 else 0) // BFINAL + BTYPE=00
      comp.write(n & 0xFF); comp.write((n >> 8) & 0xFF)
      comp.write(~n & 0xFF); comp.write((~n >> 8) & 0xFF)
      comp.write(raw, off, n)
      off += n
    } while (off < raw.length)
    val adler = new java.util.zip.Adler32()
    adler.update(raw)
    val ad = adler.getValue
    comp.write(((ad >> 24) & 0xFF).toInt); comp.write(((ad >> 16) & 0xFF).toInt)
    comp.write(((ad >> 8) & 0xFF).toInt); comp.write((ad & 0xFF).toInt)
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte))
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(width).putInt(height)
      .put(8.toByte)  // bit depth
      .put(2.toByte)  // color type RGB
      .put(0.toByte).put(0.toByte).put(0.toByte) // deflate, adaptive, no interlace
      .array()
    pngChunk(out, "IHDR", ihdr)
    pngChunk(out, "IDAT", comp.toByteArray)
    pngChunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }


  /** Minimal valid 24-bpp BMP of the given size; pixel bytes are taken
    * from `payload` cyclically (rows padded to 4-byte boundaries). */
  def buildBmp(width: Int, height: Int, payload: Array[Byte]): Array[Byte] = {
    val rowBytes = (width * 3 + 3) & ~3
    val dataSize = rowBytes * height
    val fileSize = 54 + dataSize
    val out = java.nio.ByteBuffer.allocate(fileSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put('B'.toByte).put('M'.toByte).putInt(fileSize).putInt(0).putInt(54)
    out.putInt(40).putInt(width).putInt(height).putShort(1).putShort(24)
      .putInt(0).putInt(dataSize).putInt(2835).putInt(2835).putInt(0).putInt(0)
    var i = 0
    while (i < dataSize) {
      out.put(if (payload.nonEmpty) payload(i % payload.length) else 0.toByte)
      i += 1
    }
    out.array()
  }

  /** Minimal valid GIF89a: 256-entry grayscale palette, pixel indices
    * from `payload` cyclically. LZW body uses literal codes with a
    * clear code every 254 symbols, so code width stays 9 bits — a
    * valid stream any GIF decoder accepts (the classic
    * "uncompressed GIF" technique). */
  def buildGif(width: Int, height: Int, payload: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    def le16w(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
    le16w(width); le16w(height)
    out.write(0xF7) // GCT present, 256 entries
    out.write(0); out.write(0)
    var ci = 0
    while (ci < 256) { out.write(ci); out.write(ci); out.write(ci); ci += 1 }
    out.write(0x2C); le16w(0); le16w(0); le16w(width); le16w(height); out.write(0)
    out.write(8) // LZW minimum code size
    val body = new java.io.ByteArrayOutputStream()
    var acc = 0L
    var nacc = 0
    def putCode(c: Int): Unit = {
      acc |= c.toLong << nacc; nacc += 9
      while (nacc >= 8) { body.write((acc & 0xFF).toInt); acc >>= 8; nacc -= 8 }
    }
    val nPix = width * height
    putCode(256) // clear
    var k = 0
    while (k < nPix) {
      if (k > 0 && k % 254 == 0) putCode(256)
      putCode(if (payload.nonEmpty) payload(k % payload.length) & 0xFF else 0)
      k += 1
    }
    putCode(257) // end of information
    if (nacc > 0) body.write((acc & 0xFF).toInt)
    val bb = body.toByteArray
    var off = 0
    while (off < bb.length) {
      val n = math.min(255, bb.length - off)
      out.write(n); out.write(bb, off, n); off += n
    }
    out.write(0)    // block terminator
    out.write(0x3B) // trailer
    out.toByteArray
  }

  /** Minimal valid 8-bit mono PCM WAV; sample bytes from `payload`. */
  /** Minimal valid MP4: ftyp(20) + moov(216) = mvhd v0(108) +
    * trak(100) = tkhd v0(92), + mdat(8 + nData) — total size has the
    * closed form 244 + nData, which the m02 oracle restates in SQL.
    * Timescale 1000 so mvhd duration IS milliseconds; width/height as
    * 16.16 fixed-point. */
  /** Top-level mdat box payload range (offset, length) — the frame
    * sampler reads actual media bytes at sampled offsets without
    * holding the payload in a row object. */
  def mdatRange(b: Array[Byte]): Option[(Int, Int)] = {
    var i = 0
    while (i + 8 <= b.length) {
      val size = be32(b, i)
      if (size < 8 || i + size > b.length) return None
      val typ = new String(b, i + 4, 4, "US-ASCII")
      if (typ == "mdat") return Some((i + 8, size - 8))
      i += size
    }
    None
  }

  def buildMp4(durationMs: Int, width: Int, height: Int, nData: Int,
               payload: Array[Byte]): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(244 + nData) // big-endian default
    out.putInt(20).put("ftyp".getBytes).put("isom".getBytes).putInt(0).put("isom".getBytes)
    out.putInt(216).put("moov".getBytes)
    out.putInt(108).put("mvhd".getBytes)
      .putInt(0) // version 0 + flags
      .putInt(0).putInt(0) // ctime mtime
      .putInt(1000).putInt(durationMs) // timescale 1000 → duration in ms
      .putInt(0x00010000).putShort(0x0100.toShort).putShort(0) // rate 1.0, volume 1.0
      .putInt(0).putInt(0) // reserved(8)
      .putInt(0x00010000).putInt(0).putInt(0) // unity matrix (36 B)
      .putInt(0).putInt(0x00010000).putInt(0)
      .putInt(0).putInt(0).putInt(0x40000000)
      .putInt(0).putInt(0).putInt(0).putInt(0).putInt(0).putInt(0) // pre_defined(24)
      .putInt(2) // next_track_ID
    out.putInt(100).put("trak".getBytes)
    out.putInt(92).put("tkhd".getBytes)
      .putInt(7) // version 0 + flags (enabled|in-movie|in-preview)
      .putInt(0).putInt(0) // ctime mtime
      .putInt(1).putInt(0) // track_ID, reserved
      .putInt(durationMs)
      .putInt(0).putInt(0) // reserved(8)
      .putShort(0).putShort(0).putShort(0).putShort(0) // layer alt_group volume reserved
      .putInt(0x00010000).putInt(0).putInt(0) // unity matrix (36 B)
      .putInt(0).putInt(0x00010000).putInt(0)
      .putInt(0).putInt(0).putInt(0x40000000)
      .putInt(width << 16).putInt(height << 16) // 16.16 fixed
    out.putInt(8 + nData).put("mdat".getBytes)
    var i = 0
    while (i < nData) {
      out.put(if (payload.nonEmpty) payload(i % payload.length) else 0.toByte)
      i += 1
    }
    out.array()
  }

  // ---- MJPEG-in-MP4: real sample tables (ISO 14496-12 stbl) ----

  /** One video sample (frame) located via the container's sample
    * tables: presentation time, absolute byte offset, byte size. */
  final case class Mp4Sample(tsMs: Long, offset: Int, size: Int)

  /** First child box of `typ` in [start, end); returns (contentStart,
    * boxEnd). */
  private def findBox(b: Array[Byte], start: Int, end: Int, typ: String): Option[(Int, Int)] = {
    var i = start
    while (i + 8 <= end) {
      val size = be32(b, i)
      if (size < 8 || i + size > end) return None
      if (new String(b, i + 4, 4, "US-ASCII") == typ) return Some((i + 8, i + size))
      i += size
    }
    None
  }

  /** MJPEG sample locations from the REAL sample tables: walks
    * moov→trak→mdia, requires an stsd whose entry format is 'jpeg'
    * (photo-JPEG/MJPEG), then reads stts (timing, mdhd timescale),
    * stsz (sizes) and stco (chunk offsets, one chunk per sample — the
    * layout stsc declares here). This is the standard demux path; the
    * per-frame payload is a complete baseline JPEG that
    * [[decodeJpegPixels]] decodes with zero new codec math. */
  def mjpegSamples(b: Array[Byte]): Option[Seq[Mp4Sample]] = {
    if (b.length < 16 || new String(b, 4, 4, "US-ASCII") != "ftyp") return None
    for {
      (moovS, moovE) <- findBox(b, 0, b.length, "moov")
      (trakS, trakE) <- findBox(b, moovS, moovE, "trak")
      (mdiaS, mdiaE) <- findBox(b, trakS, trakE, "mdia")
      (mdhdS, _) <- findBox(b, mdiaS, mdiaE, "mdhd")
      (minfS, minfE) <- findBox(b, mdiaS, mdiaE, "minf")
      (stblS, stblE) <- findBox(b, minfS, minfE, "stbl")
      (stsdS, _) <- findBox(b, stblS, stblE, "stsd")
      // stsd content: verflags(4) entry_count(4) entry{size(4) format(4) …}
      if new String(b, stsdS + 12, 4, "US-ASCII") == "jpeg"
      (sttsS, _) <- findBox(b, stblS, stblE, "stts")
      (stszS, _) <- findBox(b, stblS, stblE, "stsz")
      (stcoS, _) <- findBox(b, stblS, stblE, "stco")
    } yield {
      val timescale = be32(b, mdhdS + 12).toLong.max(1L)
      val n = be32(b, stszS + 8)
      val sizes = Array.tabulate(n) { i =>
        val fixed = be32(b, stszS + 4)
        if (fixed != 0) fixed else be32(b, stszS + 12 + 4 * i)
      }
      val offsets = Array.tabulate(n)(i => be32(b, stcoS + 8 + 4 * i))
      // cumulative stts deltas → per-sample decode time
      val nStts = be32(b, sttsS + 4)
      val ts = new Array[Long](n)
      var (si, entry, inEntry, acc) = (0, 0, 0, 0L)
      while (si < n && entry < nStts) {
        val cnt = be32(b, sttsS + 8 + 8 * entry)
        val delta = be32(b, sttsS + 12 + 8 * entry)
        ts(si) = acc * 1000L / timescale
        acc += delta
        inEntry += 1
        if (inEntry >= cnt) { entry += 1; inEntry = 0 }
        si += 1
      }
      (0 until n).flatMap { i =>
        val (o, s) = (offsets(i), sizes(i))
        // bounds + SOI guard: a corrupt table must yield no sample,
        // not a throw
        if (o >= 0 && s > 2 && o + s <= b.length &&
            (b(o) & 0xFF) == 0xFF && (b(o + 1) & 0xFF) == 0xD8)
          Some(Mp4Sample(ts(i), o, s))
        else None
      }
    }
  }

  /** MJPEG-in-MP4 builder: an MP4 whose mdat is N complete baseline
    * JPEG samples, located by REAL stsd('jpeg')/stts/stsc/stsz/stco
    * tables — the fixture for the frame-pixel decode path. Constant
    * per-frame duration at timescale 1000. */
  def buildMjpegMp4(width: Int, height: Int, frameDurMs: Int,
                    frames: Seq[Array[Byte]]): Array[Byte] = {
    val n = frames.length
    val durationMs = n * frameDurMs
    val mdatData = frames.map(_.length).sum
    // fixed-size boxes: ftyp 20; mvhd 108; tkhd 92; mdhd 32; hdlr 33;
    // vmhd 20; stsd 102 (86-byte visual sample entry); stts 24; stsc 28
    val stszSize = 20 + 4 * n
    val stcoSize = 16 + 4 * n
    val stblSize = 8 + 102 + 24 + 28 + stszSize + stcoSize
    val minfSize = 8 + 20 + stblSize
    val mdiaSize = 8 + 32 + 33 + minfSize
    val trakSize = 8 + 92 + mdiaSize
    val moovSize = 8 + 108 + trakSize
    val mdatStart = 20 + moovSize + 8
    val out = java.nio.ByteBuffer.allocate(mdatStart + mdatData)
    out.putInt(20).put("ftyp".getBytes).put("isom".getBytes).putInt(0).put("isom".getBytes)
    out.putInt(moovSize).put("moov".getBytes)
    out.putInt(108).put("mvhd".getBytes)
      .putInt(0).putInt(0).putInt(0)
      .putInt(1000).putInt(durationMs)
      .putInt(0x00010000).putShort(0x0100.toShort).putShort(0)
      .putInt(0).putInt(0)
      .putInt(0x00010000).putInt(0).putInt(0)
      .putInt(0).putInt(0x00010000).putInt(0)
      .putInt(0).putInt(0).putInt(0x40000000)
      .putInt(0).putInt(0).putInt(0).putInt(0).putInt(0).putInt(0)
      .putInt(2)
    out.putInt(trakSize).put("trak".getBytes)
    out.putInt(92).put("tkhd".getBytes)
      .putInt(7).putInt(0).putInt(0)
      .putInt(1).putInt(0)
      .putInt(durationMs)
      .putInt(0).putInt(0)
      .putShort(0).putShort(0).putShort(0).putShort(0)
      .putInt(0x00010000).putInt(0).putInt(0)
      .putInt(0).putInt(0x00010000).putInt(0)
      .putInt(0).putInt(0).putInt(0x40000000)
      .putInt(width << 16).putInt(height << 16)
    out.putInt(mdiaSize).put("mdia".getBytes)
    out.putInt(32).put("mdhd".getBytes)
      .putInt(0).putInt(0).putInt(0)
      .putInt(1000).putInt(durationMs) // timescale 1000 → ms
      .putShort(0x55C4.toShort).putShort(0) // language 'und'
    out.putInt(33).put("hdlr".getBytes)
      .putInt(0).putInt(0).put("vide".getBytes)
      .putInt(0).putInt(0).putInt(0).put(0.toByte)
    out.putInt(minfSize).put("minf".getBytes)
    out.putInt(20).put("vmhd".getBytes)
      .putInt(1).putShort(0).putShort(0).putShort(0).putShort(0)
    out.putInt(stblSize).put("stbl".getBytes)
    out.putInt(102).put("stsd".getBytes).putInt(0).putInt(1)
    out.putInt(86).put("jpeg".getBytes) // VisualSampleEntry
      .putInt(0).putShort(0) // reserved(6)
      .putShort(1) // data_reference_index
      .putShort(0).putShort(0) // pre_defined, reserved
      .putInt(0).putInt(0).putInt(0) // pre_defined(12)
      .putShort(width.toShort).putShort(height.toShort)
      .putInt(0x00480000).putInt(0x00480000) // 72 dpi
      .putInt(0).putShort(1) // reserved, frame_count
      .put(new Array[Byte](32)) // compressorname
      .putShort(24).putShort(0xFFFF.toShort) // depth, pre_defined -1
    out.putInt(24).put("stts".getBytes).putInt(0).putInt(1)
      .putInt(n).putInt(frameDurMs)
    out.putInt(28).put("stsc".getBytes).putInt(0).putInt(1)
      .putInt(1).putInt(1).putInt(1) // 1 sample per chunk
    out.putInt(stszSize).put("stsz".getBytes).putInt(0).putInt(0).putInt(n)
    frames.foreach(f => out.putInt(f.length))
    out.putInt(stcoSize).put("stco".getBytes).putInt(0).putInt(n)
    var off = mdatStart
    frames.foreach { f => out.putInt(off); off += f.length }
    out.putInt(8 + mdatData).put("mdat".getBytes)
    frames.foreach(f => out.put(f))
    out.array()
  }

  // ---- JPEG baseline sequential DCT (ITU-T T.81, published spec) ----

  /** Zig-zag scan order, generated from the diagonal walk (T.81
    * Figure 5) rather than pasted as a table. */
  private val ZigZag: Array[Int] = {
    val out = new Array[Int](64)
    var x = 0; var y = 0; var up = true
    var k = 0
    while (k < 64) {
      out(k) = y * 8 + x
      if (up) {
        if (x == 7) { y += 1; up = false }
        else if (y == 0) { x += 1; up = false }
        else { x += 1; y -= 1 }
      } else {
        if (y == 7) { x += 1; up = true }
        else if (x == 0) { y += 1; up = true }
        else { x -= 1; y += 1 }
      }
      k += 1
    }
    out
  }

  /** cos((2x+1)·u·π/16) with the Cu normalization folded in. */
  private val IdctCos: Array[Array[Double]] = Array.tabulate(8, 8) { (x, u) =>
    val c = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
    c * math.cos((2 * x + 1) * u * math.Pi / 16.0)
  }

  /** Canonical Huffman table (T.81 Annex C): decode via the spec's
    * mincode/maxcode/valptr walk. */
  private final class HuffTable(bits: Array[Int], vals: Array[Byte]) {
    val minCode = new Array[Int](17)
    val maxCode = Array.fill(17)(-1)
    val valPtr = new Array[Int](17)
    locally {
      var code = 0
      var k = 0
      var l = 1
      while (l <= 16) {
        if (bits(l - 1) > 0) {
          valPtr(l) = k
          minCode(l) = code
          code += bits(l - 1)
          k += bits(l - 1)
          maxCode(l) = code - 1
        }
        code <<= 1
        l += 1
      }
    }
    def decode(in: JpegBits): Int = {
      var code = in.bit()
      var l = 1
      while (l <= 16 && (maxCode(l) < 0 || code > maxCode(l))) {
        code = (code << 1) | in.bit()
        l += 1
      }
      if (l > 16) throw new IllegalArgumentException("bad huffman code")
      vals(valPtr(l) + code - minCode(l)) & 0xFF
    }
  }

  /** Entropy-coded bit reader: un-stuffs 0xFF00, surfaces restart
    * markers (FFD0–FFD7) via `restart()`, stops at other markers. */
  private final class JpegBits(b: Array[Byte], var pos: Int) {
    private var cur = 0
    private var nBits = 0
    def bit(): Int = {
      if (nBits == 0) {
        if (pos >= b.length) throw new IllegalArgumentException("eof")
        val v = b(pos) & 0xFF
        pos += 1
        if (v == 0xFF) {
          val m = if (pos < b.length) b(pos) & 0xFF else -1
          if (m == 0x00) pos += 1 // stuffed data byte
          else throw new IllegalArgumentException("marker in scan") // incl. EOI
        }
        cur = v; nBits = 8
      }
      nBits -= 1
      (cur >> nBits) & 1
    }
    def receive(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }
    /** Consume a restart marker at the current (byte-aligned) point. */
    def restart(): Boolean = {
      nBits = 0
      if (pos + 2 <= b.length && (b(pos) & 0xFF) == 0xFF &&
        (b(pos + 1) & 0xFF) >= 0xD0 && (b(pos + 1) & 0xFF) <= 0xD7) {
        pos += 2; true
      } else false
    }
  }

  /** DC/AC difference decoding (T.81 F.2.2.1 EXTEND). */
  private def extend(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  private final case class JComp(id: Int, h: Int, v: Int, tq: Int,
                                 var td: Int = 0, var ta: Int = 0)

  /** Full JPEG pixel decode — marker parse (DQT/DHT/SOF/DRI/SOS),
    * canonical Huffman entropy decode, dequantize, de-zigzag,
    * double-precision IDCT, nearest-neighbor chroma upsampling
    * (4:4:4/4:2:2/4:2:0), JFIF YCbCr→RGB. Supported: SOF0 (baseline
    * sequential) AND SOF2 (progressive: spectral-selection +
    * successive-approximation scan accumulation per T.81 Annex G),
    * 8-bit, 1 or 3 components, sampling factors ≤ 2, optional restart
    * intervals. Extended sequential, lossless, hierarchical,
    * arithmetic coding, 12-bit → None (pseudo path, declared). */
  def decodeJpegPixels(b: Array[Byte]): Option[PixelImage] = {
    if (b.length < 4 || u8(b, 0) != 0xFF || u8(b, 1) != 0xD8) return None
    try decodeJpegPixelsImpl(b)
    catch { case _: IllegalArgumentException | _: ArrayIndexOutOfBoundsException => None }
  }

  private def decodeJpegPixelsImpl(b: Array[Byte]): Option[PixelImage] = {
    val quant = new Array[Array[Int]](4)
    val dcTables = new Array[HuffTable](4)
    val acTables = new Array[HuffTable](4)
    var comps: Array[JComp] = null
    var width = 0
    var height = 0
    var restartInterval = 0
    var progressive = false
    // progressive: raw (un-dequantized) coefficients accumulate across
    // scans, one Array[Int] of nBlocks*64 per component over the
    // MCU-padded block grid
    var pCoefs: Array[Array[Int]] = null
    var i = 2
    while (i + 2 <= b.length) {
      if (u8(b, i) != 0xFF) return None
      val marker = u8(b, i + 1)
      if (marker == 0xD8 || (marker >= 0xD0 && marker <= 0xD7)) { i += 2 }
      else if (marker == 0xD9) {
        // EOI: in progressive mode all scans have accumulated — now
        // dequantize + IDCT + upsample once; baseline returned at SOS
        return if (progressive && pCoefs != null)
          finishProgressive(comps, quant, pCoefs, width, height)
        else None
      }
      else {
        if (i + 4 > b.length) return None
        val len = be16(b, i + 2)
        val seg = i + 4
        var segEnd = i + 2 + len
        if (len < 2 || segEnd > b.length) return None
        marker match {
          case 0xDB => // DQT: one or more tables
            var p = seg
            while (p < segEnd) {
              val pq = u8(b, p) >> 4
              val tq = u8(b, p) & 0xF
              if (tq > 3) return None
              val t = new Array[Int](64)
              var k = 0
              while (k < 64) {
                t(ZigZag(k)) =
                  if (pq == 0) u8(b, p + 1 + k) else be16(b, p + 1 + 2 * k)
                k += 1
              }
              quant(tq) = t
              p += 1 + (if (pq == 0) 64 else 128)
            }
          case 0xC4 => // DHT: one or more tables
            var p = seg
            while (p < segEnd) {
              val tc = u8(b, p) >> 4
              val th = u8(b, p) & 0xF
              if (th > 3) return None
              val bits = Array.tabulate(16)(k => u8(b, p + 1 + k))
              val n = bits.sum
              if (n > 256 || p + 17 + n > segEnd) return None
              val vals = java.util.Arrays.copyOfRange(b, p + 17, p + 17 + n)
              val t = new HuffTable(bits, vals)
              if (tc == 0) dcTables(th) = t else acTables(th) = t
              p += 17 + n
            }
          case 0xC0 | 0xC2 => // SOF0 baseline / SOF2 progressive
            if (u8(b, seg) != 8) return None // precision
            progressive = marker == 0xC2
            height = be16(b, seg + 1)
            width = be16(b, seg + 3)
            val nc = u8(b, seg + 5)
            if (width <= 0 || height <= 0 || (nc != 1 && nc != 3)) return None
            if (width.toLong * height > MaxPixels) return None
            comps = Array.tabulate(nc) { c =>
              JComp(u8(b, seg + 6 + 3 * c), u8(b, seg + 7 + 3 * c) >> 4,
                u8(b, seg + 7 + 3 * c) & 0xF, u8(b, seg + 8 + 3 * c))
            }
            if (comps.exists(c => c.h < 1 || c.h > 2 || c.v < 1 || c.v > 2 || c.tq > 3))
              return None
          case 0xC1 | 0xC3 | 0xC5 | 0xC6 | 0xC7 | 0xC9 | 0xCA | 0xCB |
               0xCD | 0xCE | 0xCF =>
            return None // extended/lossless/arithmetic: declared pseudo path
          case 0xDD => restartInterval = be16(b, seg)
          case 0xDA => // SOS → entropy-coded data follows
            if (comps == null) return None
            val ns = u8(b, seg)
            if (ns < 1 || ns > comps.length) return None
            var p = seg + 1
            val scanComps = new Array[JComp](ns)
            var c = 0
            while (c < ns) {
              val cid = u8(b, p)
              val comp = comps.find(_.id == cid).getOrElse(return None)
              comp.td = u8(b, p + 1) >> 4
              comp.ta = u8(b, p + 1) & 0xF
              scanComps(c) = comp
              p += 2
              c += 1
            }
            if (!progressive) {
              if (ns != comps.length) return None
              return decodeScan(b, p + 3, comps, quant, dcTables, acTables,
                width, height, restartInterval)
            }
            // progressive scan header: spectral selection + successive
            // approximation (T.81 G)
            val ss = u8(b, p)
            val se = u8(b, p + 1)
            val ah = u8(b, p + 2) >> 4
            val al = u8(b, p + 2) & 0xF
            if (ss > 63 || se > 63 || se < ss || al > 13) return None
            if (ss == 0 && se != 0) return None // DC scan is exactly band 0
            if (ss > 0 && ns != 1) return None // AC scans are single-component
            if (pCoefs == null) {
              val maxH = comps.map(_.h).max
              val maxV = comps.map(_.v).max
              val mcusX = (width + 8 * maxH - 1) / (8 * maxH)
              val mcusY = (height + 8 * maxV - 1) / (8 * maxV)
              pCoefs = comps.map(cc => new Array[Int](mcusX * cc.h * mcusY * cc.v * 64))
            }
            val endPos = decodeProgressiveScan(b, p + 3, comps, scanComps,
              pCoefs, dcTables, acTables, width, height, restartInterval,
              ss, se, ah, al)
            // resume the marker walk at the next real marker (0xFF
            // followed by a non-stuffing byte)
            var q = endPos
            while (q + 1 < b.length && !((b(q) & 0xFF) == 0xFF && (b(q + 1) & 0xFF) != 0x00))
              q += 1
            segEnd = q
          case _ => () // APPn, COM, others: skip
        }
        i = segEnd
      }
    }
    None
  }

  /** One progressive scan (T.81 G.2): either a DC band scan
    * (interleaved over the scan's components in MCU order) or a
    * single-component AC band scan in block-raster order over that
    * component's un-padded block grid. `Ah == 0` scans establish
    * coefficient values at point transform `Al`; `Ah != 0` scans
    * refine one bit. Returns the byte position after the scan's
    * entropy data. */
  private def decodeProgressiveScan(
      b: Array[Byte], scanStart: Int, comps: Array[JComp],
      scanComps: Array[JComp], pCoefs: Array[Array[Int]],
      dcTables: Array[HuffTable], acTables: Array[HuffTable],
      width: Int, height: Int, restartInterval: Int,
      ss: Int, se: Int, ah: Int, al: Int): Int = {
    val maxH = comps.map(_.h).max
    val maxV = comps.map(_.v).max
    val mcusX = (width + 8 * maxH - 1) / (8 * maxH)
    val mcusY = (height + 8 * maxV - 1) / (8 * maxV)
    val in = new JpegBits(b, scanStart)
    def compIdx(c: JComp): Int = comps.indexWhere(_.id == c.id)

    if (ss == 0) {
      // DC scan, interleaved in MCU order (a 1-component frame or
      // 1-component scan degenerates to its block raster)
      val pred = new Array[Int](scanComps.length)
      val singleNI = scanComps.length == 1 && comps.length > 1
      val c0 = scanComps(0)
      // non-interleaved DC scan: raster over the component's real grid
      val niW = if (singleNI) (width * c0.h + 8 * maxH - 1) / (8 * maxH) else 0
      val niH = if (singleNI) (height * c0.v + 8 * maxV - 1) / (8 * maxV) else 0
      val nUnits = if (singleNI) niW * niH else mcusX * mcusY
      var unit = 0
      while (unit < nUnits) {
        if (restartInterval > 0 && unit > 0 && unit % restartInterval == 0) {
          if (!in.restart()) throw new IllegalArgumentException("missing RST")
          java.util.Arrays.fill(pred, 0)
        }
        var sc = 0
        while (sc < scanComps.length) {
          val c = scanComps(sc)
          val ci = compIdx(c)
          val gridW = mcusX * c.h
          def dcOne(blockIdx: Int): Unit = {
            val coefBase = blockIdx * 64
            if (ah == 0) {
              val s = dcTables(c.td).decode(in)
              if (s > 11) throw new IllegalArgumentException("bad DC cat")
              pred(sc) += extend(in.receive(s), s)
              pCoefs(ci)(coefBase) = pred(sc) << al
            } else {
              if (in.bit() == 1) pCoefs(ci)(coefBase) |= 1 << al
            }
          }
          if (singleNI) {
            val row = unit / niW
            val col = unit % niW
            dcOne(row * gridW + col)
          } else {
            val mx = unit % mcusX
            val my = unit / mcusX
            var by = 0
            while (by < c.v) {
              var bx = 0
              while (bx < c.h) {
                dcOne((my * c.v + by) * gridW + (mx * c.h + bx))
                bx += 1
              }
              by += 1
            }
          }
          sc += 1
        }
        unit += 1
      }
    } else {
      // AC scan: exactly one component, raster over its real grid
      val c = scanComps(0)
      val ci = compIdx(c)
      val gridW = mcusX * c.h
      val bw = (width * c.h + 8 * maxH - 1) / (8 * maxH)
      val bh = (height * c.v + 8 * maxV - 1) / (8 * maxV)
      val acT = acTables(c.ta)
      val p1 = 1 << al
      val m1 = -1 << al
      var eobrun = 0
      var unit = 0
      val nUnits = bw * bh
      while (unit < nUnits) {
        if (restartInterval > 0 && unit > 0 && unit % restartInterval == 0) {
          if (!in.restart()) throw new IllegalArgumentException("missing RST")
          eobrun = 0
        }
        val base = ((unit / bw) * gridW + (unit % bw)) * 64
        val coef = pCoefs(ci)
        if (ah == 0) {
          // AC first scan (G.1.2.2): EOB runs span whole blocks
          if (eobrun > 0) eobrun -= 1
          else {
            var k = ss
            while (k <= se) {
              val rs = acT.decode(in)
              val r = rs >> 4
              val sz = rs & 0xF
              if (sz == 0) {
                if (r == 15) k += 16 // ZRL
                else {
                  eobrun = (1 << r) - 1
                  if (r > 0) eobrun += in.receive(r)
                  k = 64
                }
              } else {
                k += r
                if (k > se) throw new IllegalArgumentException("AC overflow")
                coef(base + ZigZag(k)) = extend(in.receive(sz), sz) << al
                k += 1
              }
            }
          }
        } else {
          // AC refinement (G.1.2.3): correction bits for already-
          // nonzero coefficients; new values are ±(1<<Al)
          var k = ss
          if (eobrun == 0) {
            var done = false
            while (k <= se && !done) {
              val rs = acT.decode(in)
              var r = rs >> 4
              val sz = rs & 0xF
              var insert = 0
              if (sz == 0) {
                if (r != 15) {
                  eobrun = 1 << r
                  if (r > 0) eobrun += in.receive(r)
                  done = true
                }
                // r == 15: ZRL — advance past 16 zero-history coefs
              } else {
                if (sz != 1) throw new IllegalArgumentException("bad AC refine size")
                insert = if (in.bit() == 1) p1 else m1
              }
              if (!done) {
                var placed = false
                while (k <= se && !placed) {
                  val z = base + ZigZag(k)
                  if (coef(z) != 0) {
                    if (in.bit() == 1 && (coef(z) & p1) == 0)
                      coef(z) += (if (coef(z) >= 0) p1 else m1)
                  } else {
                    if (r == 0) {
                      if (insert != 0) coef(z) = insert
                      placed = true
                    } else r -= 1
                  }
                  k += 1
                }
                if (!placed && insert != 0)
                  throw new IllegalArgumentException("AC refine overflow")
              }
            }
          }
          if (eobrun > 0) {
            // EOB region: still corrects the remaining nonzero coefs
            while (k <= se) {
              val z = base + ZigZag(k)
              if (coef(z) != 0) {
                if (in.bit() == 1 && (coef(z) & p1) == 0)
                  coef(z) += (if (coef(z) >= 0) p1 else m1)
              }
              k += 1
            }
            eobrun -= 1
          }
        }
        unit += 1
      }
    }
    in.pos
  }

  /** Progressive finish: dequantize the accumulated coefficients,
    * IDCT every block of every component plane, upsample and color
    * convert — the same tail as the baseline path. */
  private def finishProgressive(
      comps: Array[JComp], quant: Array[Array[Int]],
      pCoefs: Array[Array[Int]], width: Int, height: Int): Option[PixelImage] = {
    val maxH = comps.map(_.h).max
    val maxV = comps.map(_.v).max
    val mcusX = (width + 8 * maxH - 1) / (8 * maxH)
    val mcusY = (height + 8 * maxV - 1) / (8 * maxV)
    val planeW = comps.map(c => mcusX * c.h * 8)
    val planeH = comps.map(c => mcusY * c.v * 8)
    val planes = comps.indices.map(ci => new Array[Byte](planeW(ci) * planeH(ci))).toArray
    comps.indices.foreach { ci =>
      if (quant(comps(ci).tq) == null) return None
    }
    val dq = new Array[Int](64)
    var ci = 0
    while (ci < comps.length) {
      val c = comps(ci)
      val q = quant(c.tq)
      val gridW = mcusX * c.h
      val gridH = mcusY * c.v
      var blk = 0
      val nBlocks = gridW * gridH
      while (blk < nBlocks) {
        val base = blk * 64
        var z = 0
        while (z < 64) { dq(z) = pCoefs(ci)(base + z) * q(z); z += 1 }
        idctBlock(dq, planes(ci), planeW(ci), (blk % gridW) * 8, (blk / gridW) * 8)
        blk += 1
      }
      ci += 1
    }
    Some(planesToRgb(comps, planes, planeW, maxH, maxV, width, height))
  }

  /** Double-precision IDCT of one dequantized 8×8 block into a plane
    * at (px0, py0), with level shift + clamp. */
  private def idctBlock(coef: Array[Int], plane: Array[Byte], planeW: Int,
                        px0: Int, py0: Int): Unit = {
    var y0 = 0
    while (y0 < 8) {
      var x0 = 0
      while (x0 < 8) {
        var acc = 0.0
        var u = 0
        while (u < 8) {
          var v = 0
          while (v < 8) {
            val f = coef(v * 8 + u)
            if (f != 0) acc += IdctCos(x0)(u) * IdctCos(y0)(v) * f
            v += 1
          }
          u += 1
        }
        val sample = math.round(acc / 4.0 + 128.0).toInt
        val clamped = if (sample < 0) 0 else if (sample > 255) 255 else sample
        plane((py0 + y0) * planeW + px0 + x0) = clamped.toByte
        x0 += 1
      }
      y0 += 1
    }
  }

  /** Nearest-neighbor chroma upsample + JFIF YCbCr→RGB (or grayscale
    * replicate) — shared by the baseline and progressive paths. */
  private def planesToRgb(comps: Array[JComp], planes: Array[Array[Byte]],
                          planeW: Seq[Int], maxH: Int, maxV: Int,
                          width: Int, height: Int): PixelImage = {
    val rgb = new Array[Byte](width * height * 3)
    var py = 0
    while (py < height) {
      var px = 0
      while (px < width) {
        val o = (py * width + px) * 3
        if (comps.length == 1) {
          val g = planes(0)(py * planeW(0) + px)
          rgb(o) = g; rgb(o + 1) = g; rgb(o + 2) = g
        } else {
          def sample(ci: Int): Int = {
            val sx = px * comps(ci).h / maxH
            val sy = py * comps(ci).v / maxV
            planes(ci)(sy * planeW(ci) + sx) & 0xFF
          }
          val y = sample(0).toDouble
          val cb = sample(1) - 128.0
          val cr = sample(2) - 128.0
          def clamp(d: Double): Byte = {
            val v = math.round(d).toInt
            (if (v < 0) 0 else if (v > 255) 255 else v).toByte
          }
          rgb(o) = clamp(y + 1.402 * cr)
          rgb(o + 1) = clamp(y - 0.344136 * cb - 0.714136 * cr)
          rgb(o + 2) = clamp(y + 1.772 * cb)
        }
        px += 1
      }
      py += 1
    }
    PixelImage(width, height, rgb)
  }

  private def decodeScan(b: Array[Byte], scanStart: Int, comps: Array[JComp],
                         quant: Array[Array[Int]], dcTables: Array[HuffTable],
                         acTables: Array[HuffTable], width: Int, height: Int,
                         restartInterval: Int): Option[PixelImage] = {
    val maxH = comps.map(_.h).max
    val maxV = comps.map(_.v).max
    val mcusX = (width + 8 * maxH - 1) / (8 * maxH)
    val mcusY = (height + 8 * maxV - 1) / (8 * maxV)
    // per-component plane at its own sampling resolution
    val planeW = comps.map(c => mcusX * c.h * 8)
    val planeH = comps.map(c => mcusY * c.v * 8)
    val planes = comps.indices.map(ci => new Array[Byte](planeW(ci) * planeH(ci))).toArray
    comps.foreach { c =>
      if (quant(c.tq) == null || dcTables(c.td) == null || acTables(c.ta) == null)
        return None
    }

    val in = new JpegBits(b, scanStart)
    val pred = new Array[Int](comps.length)
    val coef = new Array[Int](64)
    var mcu = 0
    val nMcus = mcusX * mcusY
    while (mcu < nMcus) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        if (!in.restart()) throw new IllegalArgumentException("missing RST")
        java.util.Arrays.fill(pred, 0)
      }
      val mx = mcu % mcusX
      val my = mcu / mcusX
      var ci = 0
      while (ci < comps.length) {
        val c = comps(ci)
        val q = quant(c.tq)
        val dcT = dcTables(c.td)
        val acT = acTables(c.ta)
        var by = 0
        while (by < c.v) {
          var bx = 0
          while (bx < c.h) {
            // entropy-decode one 8×8 block (T.81 F.2.2)
            java.util.Arrays.fill(coef, 0)
            val s = dcT.decode(in)
            if (s > 11) throw new IllegalArgumentException("bad DC cat")
            pred(ci) += extend(in.receive(s), s)
            coef(0) = pred(ci) * q(0)
            var k = 1
            while (k < 64) {
              val rs = acT.decode(in)
              val r = rs >> 4
              val sz = rs & 0xF
              if (sz == 0) {
                if (r == 15) k += 16 // ZRL
                else k = 64 // EOB
              } else {
                k += r
                if (k > 63) throw new IllegalArgumentException("AC overflow")
                coef(ZigZag(k)) = extend(in.receive(sz), sz) * q(ZigZag(k))
                k += 1
              }
            }
            // separable double IDCT + level shift
            var y0 = 0
            while (y0 < 8) {
              var x0 = 0
              while (x0 < 8) {
                var acc = 0.0
                var u = 0
                while (u < 8) {
                  var v = 0
                  while (v < 8) {
                    val f = coef(v * 8 + u)
                    if (f != 0) acc += IdctCos(x0)(u) * IdctCos(y0)(v) * f
                    v += 1
                  }
                  u += 1
                }
                val sample = math.round(acc / 4.0 + 128.0).toInt
                val clamped = if (sample < 0) 0 else if (sample > 255) 255 else sample
                val px = (mx * c.h + bx) * 8 + x0
                val py = (my * c.v + by) * 8 + y0
                planes(ci)(py * planeW(ci) + px) = clamped.toByte
                x0 += 1
              }
              y0 += 1
            }
            bx += 1
          }
          by += 1
        }
        ci += 1
      }
      mcu += 1
    }

    Some(planesToRgb(comps, planes, planeW, maxH, maxV, width, height))
  }

  /** Fixture JPEG encoder for the decoder's exactness contract:
    * BLOCK-CONSTANT images (one RGB color per 8×8 block), flat
    * all-ones quantization tables, 4:4:4 sampling. A constant block's
    * forward DCT is DC-only — DC = 8·(c−128) exactly — so with Q=1
    * the decode reconstructs each block's Y/Cb/Cr EXACTLY and the
    * only non-trivial decoder math left is the (deterministic) color
    * convert. Custom minimal Huffman tables (12 fixed 4-bit DC codes,
    * one 2-bit AC EOB) — the decoder reads whatever DHT declares. */
  def buildJpeg(width: Int, height: Int,
                blockColor: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def m(marker: Int, body: Array[Byte]): Unit = {
      out.write(0xFF); out.write(marker)
      out.write((body.length + 2) >> 8); out.write((body.length + 2) & 0xFF)
      out.write(body, 0, body.length)
    }
    out.write(0xFF); out.write(0xD8) // SOI
    m(0xDB, Array[Byte](0) ++ Array.fill[Byte](64)(1)) // DQT 0, all ones
    m(0xC0, Array[Byte](8, // SOF0: 8-bit
      (height >> 8).toByte, (height & 0xFF).toByte,
      (width >> 8).toByte, (width & 0xFF).toByte, 3,
      1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0)) // 3 comps, 1×1, q-table 0
    // DHT 0/DC: all 12 categories as fixed 4-bit codes (canonical)
    m(0xC4, Array[Byte](0x00) ++
      Array[Byte](0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0) ++
      (0 to 11).map(_.toByte).toArray)
    // DHT 0/AC: single 2-bit code for EOB (0x00)
    m(0xC4, Array[Byte](0x10) ++
      Array[Byte](0, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0) ++
      Array[Byte](0x00))
    m(0xDA, Array[Byte](3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0)) // SOS

    // entropy-coded data: per MCU (one 8×8 block per component),
    // DC-diff + EOB per component, with 0xFF byte stuffing
    var cur = 0
    var nBits = 0
    def putBits(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        cur = (cur << 1) | ((v >> i) & 1)
        nBits += 1
        if (nBits == 8) {
          out.write(cur)
          if (cur == 0xFF) out.write(0x00)
          cur = 0; nBits = 0
        }
        i -= 1
      }
    }
    val pred = new Array[Int](3)
    val bxs = (width + 7) / 8
    val bys = (height + 7) / 8
    var by = 0
    while (by < bys) {
      var bx = 0
      while (bx < bxs) {
        val (r, g, b) = blockColor(bx, by)
        val y = math.round(0.299 * r + 0.587 * g + 0.114 * b).toInt.min(255).max(0)
        val cb = math.round(128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b).toInt.min(255).max(0)
        val cr = math.round(128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b).toInt.min(255).max(0)
        val dcs = Array(8 * (y - 128), 8 * (cb - 128), 8 * (cr - 128))
        var ci = 0
        while (ci < 3) {
          val diff = dcs(ci) - pred(ci)
          pred(ci) = dcs(ci)
          val s = if (diff == 0) 0 else 32 - Integer.numberOfLeadingZeros(math.abs(diff))
          putBits(s, 4) // DC category (canonical code of symbol s IS s)
          if (s > 0) putBits(if (diff < 0) diff + (1 << s) - 1 else diff, s)
          putBits(0, 2) // AC EOB ('00')
          ci += 1
        }
        bx += 1
      }
      by += 1
    }
    if (nBits > 0) { // pad with 1s
      while (nBits != 0) {
        cur = (cur << 1) | 1; nBits += 1
        if (nBits == 8) { out.write(cur); if (cur == 0xFF) out.write(0x00); cur = 0; nBits = 0 }
      }
    }
    out.write(0xFF); out.write(0xD9) // EOI
    out.toByteArray
  }

  /** PROGRESSIVE fixture encoder for the same block-constant contract
    * as [[buildJpeg]] — identical final pixels, spread over five
    * T.81-G scans: DC first at Al=1 (interleaved, all components), one
    * full-band AC first scan per component at Al=0 (all-zero ACs →
    * pure EOB runs, spanning blocks), then a DC refinement restoring
    * bit 0 (always 0: DC = 8·(c−128) is even, so the two-scan DC is
    * exact). Flat Q=1, 4:4:4, same Huffman-table style the decoder
    * reads from DHT. */
  def buildProgressiveJpeg(width: Int, height: Int,
                           blockColor: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def m(marker: Int, body: Array[Byte]): Unit = {
      out.write(0xFF); out.write(marker)
      out.write((body.length + 2) >> 8); out.write((body.length + 2) & 0xFF)
      out.write(body, 0, body.length)
    }
    out.write(0xFF); out.write(0xD8) // SOI
    m(0xDB, Array[Byte](0) ++ Array.fill[Byte](64)(1)) // DQT 0, all ones
    m(0xC2, Array[Byte](8, // SOF2: progressive, 8-bit
      (height >> 8).toByte, (height & 0xFF).toByte,
      (width >> 8).toByte, (width & 0xFF).toByte, 3,
      1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0))
    // DHT 0/DC: 12 categories as 4-bit codes (canonical: code == symbol)
    m(0xC4, Array[Byte](0x00) ++
      Array[Byte](0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0) ++
      (0 to 11).map(_.toByte).toArray)
    // DHT 0/AC: EOBn symbols r<<4 for r = 0..14 as 4-bit codes
    m(0xC4, Array[Byte](0x10) ++
      Array[Byte](0, 0, 0, 15, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0) ++
      (0 to 14).map(r => (r << 4).toByte).toArray)

    var cur = 0
    var nBits = 0
    def putBits(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        cur = (cur << 1) | ((v >> i) & 1)
        nBits += 1
        if (nBits == 8) {
          out.write(cur)
          if (cur == 0xFF) out.write(0x00)
          cur = 0; nBits = 0
        }
        i -= 1
      }
    }
    def flushScan(): Unit = if (nBits > 0) {
      while (nBits != 0) {
        cur = (cur << 1) | 1; nBits += 1
        if (nBits == 8) { out.write(cur); if (cur == 0xFF) out.write(0x00); cur = 0; nBits = 0 }
      }
    }
    val bxs = (width + 7) / 8
    val bys = (height + 7) / 8
    val nBlocks = bxs * bys

    def dcOf(bx: Int, by: Int): Array[Int] = {
      val (r, g, b) = blockColor(bx, by)
      val y = math.round(0.299 * r + 0.587 * g + 0.114 * b).toInt.min(255).max(0)
      val cb = math.round(128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b).toInt.min(255).max(0)
      val cr = math.round(128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b).toInt.min(255).max(0)
      Array(8 * (y - 128), 8 * (cb - 128), 8 * (cr - 128))
    }

    // scan 1: DC first, all comps interleaved, Ah=0 Al=1
    m(0xDA, Array[Byte](3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 0, 0x01))
    val pred = new Array[Int](3)
    var by = 0
    while (by < bys) {
      var bx = 0
      while (bx < bxs) {
        val dcs = dcOf(bx, by)
        var ci = 0
        while (ci < 3) {
          val pt = dcs(ci) >> 1 // point transform Al=1
          val diff = pt - pred(ci)
          pred(ci) = pt
          val s = if (diff == 0) 0 else 32 - Integer.numberOfLeadingZeros(math.abs(diff))
          putBits(s, 4)
          if (s > 0) putBits(if (diff < 0) diff + (1 << s) - 1 else diff, s)
          ci += 1
        }
        bx += 1
      }
      by += 1
    }
    flushScan()

    // scans 2-4: AC first, full band 1..63 at Al=0 per component —
    // every AC is zero, so the whole grid is EOB runs
    var comp = 1
    while (comp <= 3) {
      m(0xDA, Array[Byte](1, comp.toByte, 0x00, 1, 63, 0x00))
      var left = nBlocks
      while (left > 0) {
        val chunk = math.min(left, 1 << 14)
        val r = 31 - Integer.numberOfLeadingZeros(chunk)
        putBits(r, 4) // EOBn symbol r<<4 has canonical 4-bit code == r
        if (r > 0) putBits(chunk - (1 << r), r)
        left -= chunk
      }
      flushScan()
      comp += 1
    }

    // scan 5: DC refinement Ah=1 Al=0 — bit 0 of every (even) DC: 0
    m(0xDA, Array[Byte](3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 0, 0x10))
    var i = 0
    while (i < nBlocks * 3) { putBits(0, 1); i += 1 }
    flushScan()

    out.write(0xFF); out.write(0xD9) // EOI
    out.toByteArray
  }

  def buildWav(sampleRate: Int, nSamples: Int, payload: Array[Byte]): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(44 + nSamples)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes).putInt(36 + nSamples).put("WAVE".getBytes)
    out.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
      .putInt(sampleRate).putInt(sampleRate).putShort(1).putShort(8)
    out.put("data".getBytes).putInt(nSamples)
    var i = 0
    while (i < nSamples) {
      out.put(if (payload.nonEmpty) payload(i % payload.length) else 0.toByte)
      i += 1
    }
    out.array()
  }

  /** 16-bit LE signed mono PCM twin of [[buildWav]]: sample bytes from
    * `payload` cyclically (2 bytes per sample), block align 2, byte
    * rate 2·sampleRate — exercises the 16-bit decode branch. */
  def buildWav16(sampleRate: Int, nSamples: Int, payload: Array[Byte]): Array[Byte] = {
    val dataBytes = nSamples * 2
    val out = java.nio.ByteBuffer.allocate(44 + dataBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes).putInt(36 + dataBytes).put("WAVE".getBytes)
    out.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
      .putInt(sampleRate).putInt(sampleRate * 2).putShort(2).putShort(16)
    out.put("data".getBytes).putInt(dataBytes)
    var i = 0
    while (i < dataBytes) {
      out.put(if (payload.nonEmpty) payload(i % payload.length) else 0.toByte)
      i += 1
    }
    out.array()
  }
}
