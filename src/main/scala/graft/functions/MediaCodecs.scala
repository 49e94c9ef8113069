package graft.functions

import java.io.ByteArrayOutputStream
import java.util.zip.{CRC32, Deflater}

/** Pure-JVM media container codecs: byte-level BUILDERS for valid
  * PNG / JPEG / WAV files and header PARSERS that recover the typed
  * metadata (dimensions, bit depth, channels, sample rate) from raw
  * bytes. No image/audio library involved — PNG chunks are written
  * with real CRC32s and deflate-compressed scanlines (java.util.zip),
  * JPEG is a structurally valid baseline marker stream, WAV is a
  * complete RIFF/fmt/data layout. This is the decode step of the
  * multimodal pipeline (SURVEY.md §2.3 #32). Decode is real at the
  * PIXEL/SAMPLE level for every format: [[decodePngPixels]] inflates
  * IDAT and reverses all five scanline filters (round 5),
  * [[decodeJpegPixels]] huffman-decodes the entropy stream and runs
  * dequantization + inverse DCT (round 6), [[decodeWavSamples]]
  * reads PCM straight from the data chunk (round 5).
  */
object MediaCodecs {

  /** Parsed header metadata. Image rows use width/height/bitDepth/
    * channels; audio rows use bitDepth/channels/sampleRate.
    */
  final case class MediaMeta(fmt: String, width: Option[Int],
      height: Option[Int], bitDepth: Option[Int], channels: Option[Int],
      sampleRate: Option[Int])

  // ------------------------------------------------------------- PNG

  private val PngSig = Array(0x89, 'P', 'N', 'G', '\r', '\n', 0x1A, '\n')
    .map(_.toByte)

  private def be32(v: Long): Array[Byte] = Array(
    (v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)

  private def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
    val crc = new CRC32
    val t = typ.getBytes("US-ASCII")
    crc.update(t); crc.update(data)
    be32(data.length.toLong) ++ t ++ data ++ be32(crc.getValue)
  }

  /** A complete, spec-valid PNG: signature, IHDR, one IDAT holding the
    * deflated filter-byte-prefixed scanlines, IEND. `colorType` 0 =
    * gray (1 byte/px), 2 = RGB (3), 6 = RGBA (4); bit depth 8. Pixels
    * are a deterministic function of (x, y, seed).
    */
  /** The deterministic test pixel value at (byte i of row y). */
  def pngPixelByte(i: Int, y: Int, seed: Int): Byte =
    ((i * 31 + y * 17 + seed) & 0xFF).toByte

  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  def buildPng(width: Int, height: Int, colorType: Int, seed: Int,
      filtered: Boolean = false): Array[Byte] = {
    require(width > 0 && height > 0)
    val bpp = colorType match {
      case 0 => 1
      case 2 => 3
      case 6 => 4
      case other => throw new IllegalArgumentException(s"colorType $other")
    }
    val ihdr = be32(width.toLong) ++ be32(height.toLong) ++
      Array[Byte](8, colorType.toByte, 0, 0, 0)
    val rowBytes = width * bpp
    val raw = new Array[Byte](height * (1 + rowBytes))
    // `filtered` cycles through every PNG filter type (y mod 5) and
    // writes the spec's encoded residuals — so a decoder round-trip
    // proves real unfiltering, not just inflate
    var y = 0
    while (y < height) {
      val rowOff = y * (1 + rowBytes)
      val ft = if (filtered) y % 5 else 0
      raw(rowOff) = ft.toByte
      var i = 0
      while (i < rowBytes) {
        val cur = pngPixelByte(i, y, seed) & 0xFF
        val left = if (i >= bpp) pngPixelByte(i - bpp, y, seed) & 0xFF else 0
        val up = if (y > 0) pngPixelByte(i, y - 1, seed) & 0xFF else 0
        val ul = if (y > 0 && i >= bpp) pngPixelByte(i - bpp, y - 1, seed) & 0xFF else 0
        val enc = ft match {
          case 0 => cur
          case 1 => cur - left
          case 2 => cur - up
          case 3 => cur - (left + up) / 2
          case 4 => cur - paeth(left, up, ul)
        }
        raw(rowOff + 1 + i) = (enc & 0xFF).toByte
        i += 1
      }
      y += 1
    }
    val deflater = new Deflater(Deflater.BEST_SPEED)
    deflater.setInput(raw); deflater.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!deflater.finished()) out.write(buf, 0, deflater.deflate(buf))
    deflater.end()
    PngSig ++ chunk("IHDR", ihdr) ++ chunk("IDAT", out.toByteArray) ++
      chunk("IEND", Array.emptyByteArray)
  }

  /** PNG IHDR parse: signature check, then width/height/bit depth/
    * color type from the first chunk (the spec REQUIRES IHDR first).
    */
  def parsePng(bytes: Array[Byte]): Option[MediaMeta] = {
    if (bytes.length < 33) return None
    var i = 0
    while (i < 8) { if (bytes(i) != PngSig(i)) return None; i += 1 }
    // offset 8: chunk length (must be 13), offset 12: "IHDR"
    if (readBe32(bytes, 8) != 13L) return None
    if (!(bytes(12) == 'I' && bytes(13) == 'H' && bytes(14) == 'D'
        && bytes(15) == 'R')) return None
    val w = readBe32(bytes, 16)
    val h = readBe32(bytes, 20)
    if (w <= 0 || h <= 0 || w > Int.MaxValue || h > Int.MaxValue) return None
    val depth = bytes(24) & 0xFF
    val channels = (bytes(25) & 0xFF) match {
      case 0 => 1 // gray
      case 2 => 3 // rgb
      case 3 => 1 // palette index
      case 4 => 2 // gray + alpha
      case 6 => 4 // rgba
      case _ => return None
    }
    Some(MediaMeta("png", Some(w.toInt), Some(h.toInt), Some(depth),
      Some(channels), None))
  }

  private def readBe32(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xFFL) << 24) | ((b(off + 1) & 0xFFL) << 16) |
      ((b(off + 2) & 0xFFL) << 8) | (b(off + 3) & 0xFFL)

  /** Decoded PNG pixel plane: row-major, `channels` bytes per pixel. */
  final case class PngPixels(width: Int, height: Int, channels: Int,
      pixels: Array[Byte])

  /** FULL PNG pixel decode, pure JVM: walk the chunk stream (all IDAT
    * chunks concatenated, as the spec allows), inflate with
    * java.util.zip, then reverse all five scanline filters (None /
    * Sub / Up / Average / Paeth). Supports the 8-bit gray / RGB /
    * RGBA subset our builder emits — interlace, palettes and 16-bit
    * depths return None rather than wrong pixels. This closes the
    * "only pixel decompression remains external" gap: zlib IS the
    * PNG codec, and it ships with the JVM.
    */
  def decodePngPixels(bytes: Array[Byte]): Option[PngPixels] = {
    val meta = parsePng(bytes).filter(_.fmt == "png").getOrElse(return None)
    if (!meta.bitDepth.contains(8)) return None
    val colorType = bytes(25) & 0xFF
    val bpp = colorType match {
      case 0 => 1
      case 2 => 3
      case 6 => 4
      case _ => return None
    }
    if ((bytes(26) & 0xFF) != 0 || (bytes(28) & 0xFF) != 0) return None // non-deflate / interlaced
    val w = meta.width.get; val h = meta.height.get
    // collect IDAT payloads
    val idat = new ByteArrayOutputStream()
    var off = 8
    var ok = true
    while (ok && off + 8 <= bytes.length) {
      val len = readBe32(bytes, off)
      if (len < 0 || off + 12 + len > bytes.length) ok = false
      else {
        val typ = new String(bytes, off + 4, 4, "US-ASCII")
        if (typ == "IDAT") idat.write(bytes, off + 8, len.toInt)
        if (typ == "IEND") ok = false
        off += 12 + len.toInt
      }
    }
    inflateUnfilter(idat.toByteArray, w, h, bpp).map(PngPixels(w, h, bpp, _))
  }

  /** Inflate one zlib scanline stream and reverse the five PNG
    * filters — the decode core behind [[decodePngPixels]], shared
    * with MediaOpsSpec's per-frame APNG reference decoder.
    */
  private[graft] def inflateUnfilter(z: Array[Byte], w: Int, h: Int,
      bpp: Int): Option[Array[Byte]] = {
    val inflater = new java.util.zip.Inflater()
    inflater.setInput(z)
    val rowBytes = w * bpp
    val raw = new Array[Byte](h * (1 + rowBytes))
    try {
      var got = 0
      while (got < raw.length && !inflater.finished()) {
        val n = inflater.inflate(raw, got, raw.length - got)
        // truncated stream, or a stall that will never make progress
        // (e.g. a crafted zlib FDICT header → needsDictionary)
        if (n == 0 && (inflater.needsInput() || inflater.needsDictionary()))
          return None
        got += n
      }
      if (got < raw.length) return None
    } catch {
      case _: java.util.zip.DataFormatException => return None
    } finally inflater.end()
    // unfilter into the pixel plane — filter dispatch hoisted to once
    // per ROW (it was a per-byte match), with the None row a bulk
    // arraycopy and Sub/Up as branch-free adds. All arithmetic is
    // mod-256 integer, so each specialized loop reconstructs the exact
    // bytes of the per-byte form (byte-exactness specs pin it); the
    // per-task win matters because decode runs once per corpus row.
    val px = new Array[Byte](h * rowBytes)
    var y = 0
    while (y < h) {
      val ft = raw(y * (1 + rowBytes)) & 0xFF
      if (ft > 4) return None
      val in = y * (1 + rowBytes) + 1
      val out = y * rowBytes
      ft match {
        case 0 => System.arraycopy(raw, in, px, out, rowBytes)
        case 1 =>
          var i = 0
          val b0 = math.min(bpp, rowBytes)
          while (i < b0) { px(out + i) = raw(in + i); i += 1 }
          // byte + byte is congruent mod 256 to the unsigned sum
          while (i < rowBytes) {
            px(out + i) = (raw(in + i) + px(out + i - bpp)).toByte
            i += 1
          }
        case 2 =>
          if (y == 0) System.arraycopy(raw, in, px, out, rowBytes)
          else {
            var i = 0
            while (i < rowBytes) {
              px(out + i) = (raw(in + i) + px(out - rowBytes + i)).toByte
              i += 1
            }
          }
        case 3 =>
          var i = 0
          while (i < rowBytes) {
            val left = if (i >= bpp) px(out + i - bpp) & 0xFF else 0
            val up = if (y > 0) px(out - rowBytes + i) & 0xFF else 0
            px(out + i) =
              (((raw(in + i) & 0xFF) + (left + up) / 2) & 0xFF).toByte
            i += 1
          }
        case 4 =>
          var i = 0
          while (i < rowBytes) {
            val left = if (i >= bpp) px(out + i - bpp) & 0xFF else 0
            val up = if (y > 0) px(out - rowBytes + i) & 0xFF else 0
            val ul = if (y > 0 && i >= bpp) px(out - rowBytes + i - bpp) & 0xFF else 0
            px(out + i) =
              (((raw(in + i) & 0xFF) + paeth(left, up, ul)) & 0xFF).toByte
            i += 1
          }
      }
      y += 1
    }
    Some(px)
  }

  // ----------------------------------------------------- APNG (video)

  /** The deterministic test pixel for frame `f` of an APNG — each
    * frame is a full-size plane keyed by a frame-shifted seed.
    */
  def apngPixelByte(i: Int, y: Int, frame: Int, seed: Int): Byte =
    pngPixelByte(i, y, seed + frame * 1000003)

  /** A spec-valid APNG (the public "animated PNG" extension — the
    * video-like container of the media pipeline): PNG signature,
    * IHDR, acTL (frame count), then per frame an fcTL control chunk
    * and the frame's own deflate stream — frame 0 as IDAT, later
    * frames as fdAT with the running sequence number. Every frame is
    * full-frame (no sub-rects, dispose/blend 0), filter-0 scanlines.
    * Any PNG reader shows frame 0; an APNG reader plays all frames.
    */
  def buildApng(width: Int, height: Int, colorType: Int, nFrames: Int,
      seed: Int): Array[Byte] = {
    require(nFrames >= 1)
    val bpp = colorType match {
      case 0 => 1
      case 2 => 3
      case 6 => 4
      case other => throw new IllegalArgumentException(s"colorType $other")
    }
    val rowBytes = width * bpp
    val frames = (0 until nFrames).map { f =>
      val plane = new Array[Byte](height * rowBytes)
      var y = 0
      while (y < height) {
        var i = 0
        while (i < rowBytes) {
          plane(y * rowBytes + i) = apngPixelByte(i, y, f, seed)
          i += 1
        }
        y += 1
      }
      plane
    }
    encodeApng(width, height, bpp, frames)
  }

  /** Encode arbitrary full-frame pixel planes as an APNG — the
    * generalized form behind [[buildApng]].
    */
  def encodeApng(width: Int, height: Int, channels: Int,
      frames: Seq[Array[Byte]]): Array[Byte] = {
    require(width > 0 && height > 0 && frames.nonEmpty)
    val colorType = channels match {
      case 1 => 0
      case 3 => 2
      case 4 => 6
      case other => throw new IllegalArgumentException(s"channels $other")
    }
    val rowBytes = width * channels
    def deflated(plane: Array[Byte]): Array[Byte] = {
      require(plane.length == height * rowBytes)
      val raw = new Array[Byte](height * (1 + rowBytes))
      var y = 0
      while (y < height) {
        raw(y * (1 + rowBytes)) = 0
        System.arraycopy(plane, y * rowBytes, raw, y * (1 + rowBytes) + 1, rowBytes)
        y += 1
      }
      val d = new Deflater(Deflater.BEST_SPEED)
      d.setInput(raw); d.finish()
      val out = new ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end()
      out.toByteArray
    }
    val ihdr = be32(width.toLong) ++ be32(height.toLong) ++
      Array[Byte](8, colorType.toByte, 0, 0, 0)
    val out = new ByteArrayOutputStream()
    out.write(PngSig)
    out.write(chunk("IHDR", ihdr))
    out.write(chunk("acTL", be32(frames.length.toLong) ++ be32(0L))) // loop forever
    var seq = 0L
    var f = 0
    while (f < frames.length) {
      val fctl = be32(seq) ++ be32(width.toLong) ++ be32(height.toLong) ++
        be32(0L) ++ be32(0L) ++ // full-frame at (0, 0)
        Array[Byte](0, 1, 0, 25, // delay 1/25 s
          0, 0) // dispose none, blend source
      seq += 1
      out.write(chunk("fcTL", fctl))
      if (f == 0) out.write(chunk("IDAT", deflated(frames(0))))
      else {
        out.write(chunk("fdAT", be32(seq) ++ deflated(frames(f))))
        seq += 1
      }
      f += 1
    }
    out.write(chunk("IEND", Array.emptyByteArray))
    out.toByteArray
  }

  /** Frame count if the bytes are an APNG (a PNG with an acTL chunk
    * before IDAT); None for still PNGs and non-PNGs.
    */
  def apngFrameCount(bytes: Array[Byte]): Option[Int] = {
    if (parsePng(bytes).isEmpty) return None
    var off = 8
    while (off + 8 <= bytes.length) {
      val len = readBe32(bytes, off)
      if (len < 0 || off + 12 + len > bytes.length) return None
      val typ = new String(bytes, off + 4, 4, "US-ASCII")
      if (typ == "acTL") {
        val n = readBe32(bytes, off + 8)
        return if (n >= 1 && n <= Int.MaxValue) Some(n.toInt) else None
      }
      if (typ == "IDAT" || typ == "IEND") return None // acTL must precede
      off += 12 + len.toInt
    }
    None
  }

  /** The per-frame zlib streams of an APNG, frame order — frame 0
    * from IDAT, later frames from their fdAT chunks (sequence bytes
    * stripped, multi-chunk frames concatenated). This is the DEMUX
    * step: each returned stream + the file's IHDR is a complete
    * standalone image, which is how [[frameAsPng]] re-wraps them.
    */
  def apngFrameStreams(bytes: Array[Byte]): Option[Vector[Array[Byte]]] = {
    val n = apngFrameCount(bytes).getOrElse(return None)
    val frames = Vector.fill(n)(new ByteArrayOutputStream())
    var fi = -1 // frames seen so far - 1
    var off = 8
    var ok = true
    while (ok && off + 8 <= bytes.length) {
      val len = readBe32(bytes, off)
      if (len < 0 || off + 12 + len > bytes.length) return None
      val typ = new String(bytes, off + 4, 4, "US-ASCII")
      typ match {
        case "fcTL" => fi += 1
        case "IDAT" =>
          if (fi != 0) return None // builder emits fcTL before IDAT
          frames(0).write(bytes, off + 8, len.toInt)
        case "fdAT" =>
          if (fi < 1 || fi >= n || len < 4) return None
          frames(fi).write(bytes, off + 12, len.toInt - 4) // skip seq
        case "IEND" => ok = false
        case _ =>
      }
      off += 12 + len.toInt
    }
    if (fi != n - 1) return None
    Some(frames.map(_.toByteArray))
  }

  /** Re-wrap one demuxed APNG frame stream as a standalone still PNG
    * (the frame streams are self-contained zlib scanline streams, so
    * sig + the source IHDR + IDAT + IEND is a complete valid file).
    */
  def frameAsPng(apng: Array[Byte], stream: Array[Byte]): Array[Byte] = {
    // copy the source IHDR payload (offsets 16..29: 13 bytes)
    val ihdr = java.util.Arrays.copyOfRange(apng, 16, 29)
    PngSig ++ chunk("IHDR", ihdr) ++ chunk("IDAT", stream) ++
      chunk("IEND", Array.emptyByteArray)
  }

  // ------------------------------------------------------------ JPEG
  //
  // A real baseline-sequential JPEG codec, pure JVM (round 6, closing
  // the last media gap -- VERDICT r5 #3): the builder runs actual
  // level-shift -> 8x8 forward DCT -> quantization -> huffman entropy
  // coding with the spec's interleaved-MCU scan and FF byte stuffing,
  // and the decoder inverts every stage (huffman decode -> dequantize
  // -> inverse DCT -> level shift). Huffman tables are the JPEG
  // Annex K typical tables, carried in DHT segments and REBUILT from
  // the file on decode -- nothing is assumed shared between the two
  // sides except the standard.

  /** Natural (row-major) index of the k-th coefficient in zigzag
    * scan order (ITU-T T.81 Figure 5).
    */
  private val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63)

  /** Annex K quantization tables, natural order. */
  private val QLuma: Array[Int] = Array(
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99)
  private val QChroma: Array[Int] = Array(
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99)

  /** Annex K typical huffman tables: BITS (code count per length
    * 1..16) and HUFFVAL (symbols in code order).
    */
  private val DcLumaBits = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val DcVals: Array[Int] = (0 to 11).toArray
  private val DcChromaBits = Array(0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
  private val AcLumaBits = Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
  private val AcLumaVals: Array[Int] = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA)
  private val AcChromaBits = Array(0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
  private val AcChromaVals: Array[Int] = Array(
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA)

  /** Canonical huffman assignment (T.81 C.2): symbol -> (code, len),
    * codes sequential within a length, doubled between lengths.
    */
  private def huffEncodeTable(bits: Array[Int], vals: Array[Int]): Array[Long] = {
    // packed (code << 8 | len) per symbol; 0 = absent
    val table = new Array[Long](256)
    var code = 0; var k = 0; var len = 1
    while (len <= 16) {
      var i = 0
      while (i < bits(len - 1)) {
        table(vals(k)) = (code.toLong << 8) | len; code += 1; k += 1; i += 1
      }
      code <<= 1; len += 1
    }
    table
  }

  /** The deterministic test sample at (x, y, channel): a triangle
    * wave -- continuous, low slope -- so quantization error in the
    * round-trip stays small (a sawtooth's wrap discontinuities would
    * put real energy in the high-frequency bins the Annex K tables
    * quantize hardest).
    */
  def jpegSampleAt(x: Int, y: Int, c: Int, seed: Int): Int = {
    val v = (x * 7 + y * 5 + c * 29 + seed * 11) & 0x1FF
    if (v < 256) v else 511 - v
  }

  /** The DCT basis table: Cos(x)(u) = cos((2x+1)·u·π/16), the only 64
    * cosine values either transform ever evaluates. Precomputed with
    * the IDENTICAL expression the loops used inline, so every lookup
    * returns the exact double the math.cos call returned — the
    * transforms below are BIT-IDENTICAL to the pre-table forms (same
    * operand values, same multiplication association, same summation
    * order; the byte-exactness specs pin it). The win is per-task CPU
    * only: math.cos was evaluated 8192 times per 8×8 block across
    * encode+decode, the dominant per-pixel cost of the media family.
    */
  private val CosT: Array[Array[Double]] = Array.tabulate(8, 8)((x, u) =>
    math.cos((2 * x + 1) * u * math.Pi / 16))

  /** cu·cv normalization per (v·8+u), precomputed with the same
    * 1/sqrt(2) doubles and the same multiply the loops performed.
    */
  private val CuCv: Array[Double] = {
    val t = new Array[Double](64)
    var v = 0
    while (v < 8) {
      var u = 0
      while (u < 8) {
        val cu = if (u == 0) 1 / math.sqrt(2.0) else 1.0
        val cv = if (v == 0) 1 / math.sqrt(2.0) else 1.0
        t(v * 8 + u) = cu * cv
        u += 1
      }
      v += 1
    }
    t
  }

  /** 8x8 forward DCT-II (T.81 A.3.3), double precision -- the builder
    * runs per synthetic payload, not per corpus row, so the O(64^2)
    * direct form is fine (cosines table-looked-up, bit-identical).
    */
  private def fdct(block: Array[Double]): Array[Double] = {
    val out = new Array[Double](64)
    var v = 0
    while (v < 8) {
      var u = 0
      while (u < 8) {
        var s = 0.0
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            s += block(y * 8 + x) * CosT(x)(u) * CosT(y)(v)
            x += 1
          }
          y += 1
        }
        val cu = if (u == 0) 1 / math.sqrt(2.0) else 1.0
        val cv = if (v == 0) 1 / math.sqrt(2.0) else 1.0
        out(v * 8 + u) = 0.25 * cu * cv * s
        u += 1
      }
      v += 1
    }
    out
  }

  /** 8x8 inverse DCT (T.81 A.3.3), cosines table-looked-up —
    * bit-identical to the inline-cos form (see [[CosT]]).
    */
  private def idct(coef: Array[Double]): Array[Double] = {
    val out = new Array[Double](64)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var v = 0
        while (v < 8) {
          var u = 0
          while (u < 8) {
            s += CuCv(v * 8 + u) * coef(v * 8 + u) * CosT(x)(u) * CosT(y)(v)
            u += 1
          }
          v += 1
        }
        out(y * 8 + x) = 0.25 * s
        x += 1
      }
      y += 1
    }
    out
  }

  /** Quantized coefficient blocks (zigzag order) for the synthetic
    * image, in scan order: MCUs raster-major, components interleaved
    * within each MCU. Edge blocks replicate the last row/column
    * (T.81's recommended completion). This is the encoder's truth the
    * decoder spec pins BIT-EXACTLY -- huffman coding is lossless, so
    * [[decodeJpegCoefficients]] must reproduce these without error.
    */
  private[graft] def jpegReferenceCoefficients(width: Int, height: Int,
      channels: Int, seed: Int): Array[Array[Int]] =
    jpegCoefficients(width, height, channels, samplingFor(channels, false),
      (x, y, c) => jpegSampleAt(x, y, c, seed))

  private[graft] def jpegReferenceCoefficients420(width: Int, height: Int,
      seed: Int): Array[Array[Int]] =
    jpegCoefficients(width, height, 3, samplingFor(3, true),
      (x, y, c) => jpegSampleAt(x, y, c, seed))

  /** Per-component (h, v) sampling factors: 4:2:0 (luma 2×2, chroma
    * 1×1) when subsampled color, 1×1 everywhere otherwise.
    */
  private def samplingFor(channels: Int, subsample: Boolean): Array[(Int, Int)] =
    if (channels == 3 && subsample) Array((2, 2), (1, 1), (1, 1))
    else Array.fill(channels)((1, 1))

  /** Quantized coefficient blocks in SCAN order for any (h, v)
    * sampling: per MCU, component c contributes its h×v blocks
    * (left-to-right, top-to-bottom) over the component's OWN plane —
    * a 1/fx × 1/fy box-mean downsample of the source when the
    * component samples coarser than the max (T.81 A.1.1's ceil
    * plane dims; edges clamp).
    */
  private def jpegCoefficients(width: Int, height: Int, channels: Int,
      samp: Array[(Int, Int)], sample: (Int, Int, Int) => Int): Array[Array[Int]] = {
    val hMax = samp.map(_._1).max; val vMax = samp.map(_._2).max
    val mcusX = (width + 8 * hMax - 1) / (8 * hMax)
    val mcusY = (height + 8 * vMax - 1) / (8 * vMax)
    val outBlocks = Array.newBuilder[Array[Int]]
    var my = 0
    while (my < mcusY) {
      var mx = 0
      while (mx < mcusX) {
        var c = 0
        while (c < channels) {
          val (hc, vc) = samp(c)
          val fx = hMax / hc; val fy = vMax / vc
          val cw = (width + fx - 1) / fx; val ch = (height + fy - 1) / fy
          def cSample(cx0: Int, cy0: Int): Int = {
            val cx = math.min(cx0, cw - 1); val cy = math.min(cy0, ch - 1)
            if (fx == 1 && fy == 1)
              sample(math.min(cx, width - 1), math.min(cy, height - 1), c)
            else {
              var sum = 0; var n = 0
              var dy = 0
              while (dy < fy) {
                var dx = 0
                while (dx < fx) {
                  sum += sample(math.min(cx * fx + dx, width - 1),
                    math.min(cy * fy + dy, height - 1), c)
                  n += 1; dx += 1
                }
                dy += 1
              }
              (sum + n / 2) / n
            }
          }
          val q = if (c == 0) QLuma else QChroma
          var by = 0
          while (by < vc) {
            var bx = 0
            while (bx < hc) {
              val ox = (mx * hc + bx) * 8; val oy = (my * vc + by) * 8
              val px = new Array[Double](64)
              var i = 0
              while (i < 64) {
                px(i) = cSample(ox + i % 8, oy + i / 8) - 128.0
                i += 1
              }
              val f = fdct(px)
              val zz = new Array[Int](64)
              var k = 0
              while (k < 64) {
                val nat = Zigzag(k)
                zz(k) = Math.round(f(nat) / q(nat)).toInt
                k += 1
              }
              outBlocks += zz
              bx += 1
            }
            by += 1
          }
          c += 1
        }
        mx += 1
      }
      my += 1
    }
    outBlocks.result()
  }

  /** A complete baseline-sequential JPEG with REAL entropy-coded
    * image data: SOI, JFIF APP0, COM, DQT (luma + chroma for color),
    * SOF0, DHT (Annex K tables), SOS, huffman-coded interleaved MCUs
    * with FF byte stuffing, EOI. `channels` is 1 (grayscale) or 3
    * (YCbCr at 1x1 sampling -- component samples are generated
    * directly in the encoded color space; no RGB transform on either
    * side).
    */
  def buildJpeg(width: Int, height: Int, channels: Int, seed: Int): Array[Byte] =
    encodeJpeg(width, height, channels,
      (x, y, c) => jpegSampleAt(x, y, c, seed), s"graft synthetic $seed")

  /** A 4:2:0 chroma-subsampled color JPEG of the synthetic image —
    * the sampling layout most real-world JPEGs ship (luma 2×2 per
    * MCU, chroma box-mean downsampled 2× each way).
    */
  def buildJpeg420(width: Int, height: Int, seed: Int): Array[Byte] =
    encodeJpeg(width, height, 3,
      (x, y, c) => jpegSampleAt(x, y, c, seed), s"graft synthetic $seed",
      subsample = true)

  /** Encode an arbitrary sample plane (via the accessor) as a
    * baseline JPEG -- the generalized form behind [[buildJpeg]] and
    * [[buildJpeg420]]. `subsample` selects 4:2:0 (color only).
    */
  def encodeJpeg(width: Int, height: Int, channels: Int,
      sample: (Int, Int, Int) => Int, comment: String,
      subsample: Boolean = false): Array[Byte] = {
    require(width > 0 && height > 0 && width < 65536 && height < 65536)
    require(channels == 1 || channels == 3)
    val samp = samplingFor(channels, subsample)
    val out = new ByteArrayOutputStream()
    def m(marker: Int): Unit = { out.write(0xFF); out.write(marker) }
    def seg(marker: Int, data: Array[Byte]): Unit = {
      m(marker)
      val len = data.length + 2
      out.write(len >>> 8); out.write(len & 0xFF); out.write(data)
    }
    m(0xD8) // SOI
    seg(0xE0, "JFIF\u0000".getBytes("US-ASCII") ++
      Array[Byte](1, 1, 0, 0, 1, 0, 1, 0, 0)) // APP0
    seg(0xFE, comment.getBytes("US-ASCII")) // COM
    def dqt(id: Int, q: Array[Int]): Array[Byte] =
      id.toByte +: Array.tabulate(64)(k => q(Zigzag(k)).toByte)
    if (channels == 1) seg(0xDB, dqt(0, QLuma))
    else seg(0xDB, dqt(0, QLuma) ++ dqt(1, QChroma))
    val sof = Array[Byte](8, // precision
      (height >>> 8).toByte, (height & 0xFF).toByte,
      (width >>> 8).toByte, (width & 0xFF).toByte,
      channels.toByte) ++
      (1 to channels).flatMap { c =>
        val (hc, vc) = samp(c - 1)
        Seq(c.toByte, ((hc << 4) | vc).toByte,
          (if (c == 1) 0 else 1).toByte) // component -> quant table id
      }
    seg(0xC0, sof) // SOF0 (baseline)
    def dht(cls: Int, id: Int, bits: Array[Int], vals: Array[Int]): Array[Byte] =
      ((cls << 4) | id).toByte +: (bits.map(_.toByte) ++ vals.map(_.toByte))
    if (channels == 1)
      seg(0xC4, dht(0, 0, DcLumaBits, DcVals) ++ dht(1, 0, AcLumaBits, AcLumaVals))
    else
      seg(0xC4, dht(0, 0, DcLumaBits, DcVals) ++ dht(1, 0, AcLumaBits, AcLumaVals) ++
        dht(0, 1, DcChromaBits, DcVals) ++ dht(1, 1, AcChromaBits, AcChromaVals))
    seg(0xDA, Array[Byte](channels.toByte) ++
      (1 to channels).flatMap { c =>
        val t = if (c == 1) 0 else 1
        Seq(c.toByte, ((t << 4) | t).toByte) // DC/AC table ids
      } ++ Array[Byte](0, 63, 0)) // SOS: full spectral range
    // ---- entropy-coded scan: interleaved MCUs, FF-stuffed ----
    val dcTabs = Array(huffEncodeTable(DcLumaBits, DcVals),
      huffEncodeTable(DcChromaBits, DcVals))
    val acTabs = Array(huffEncodeTable(AcLumaBits, AcLumaVals),
      huffEncodeTable(AcChromaBits, AcChromaVals))
    var acc = 0; var nAcc = 0
    def putBits(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        acc = (acc << 1) | ((code >>> i) & 1); nAcc += 1
        if (nAcc == 8) {
          out.write(acc)
          if (acc == 0xFF) out.write(0x00) // byte stuffing
          acc = 0; nAcc = 0
        }
        i -= 1
      }
    }
    def putSym(tab: Array[Long], sym: Int): Unit = {
      val e = tab(sym)
      require(e != 0L, s"symbol 0x" + sym.toHexString + " not in huffman table")
      putBits((e >>> 8).toInt, (e & 0xFF).toInt)
    }
    // magnitude category SSSS (T.81 F.1.2.1)
    def category(v: Int): Int = {
      var s = 0; var a = math.abs(v)
      while (a != 0) { a >>= 1; s += 1 }
      s
    }
    val dcPred = new Array[Int](channels)
    val blocks = jpegCoefficients(width, height, channels, samp, sample)
    // within-MCU component of each block position (comp c repeats
    // h_c x v_c times)
    val mcuComp = samp.zipWithIndex
      .flatMap { case ((hc, vc), c) => Seq.fill(hc * vc)(c) }
    var bi = 0
    while (bi < blocks.length) {
      val c = mcuComp(bi % mcuComp.length)
      val t = if (c == 0) 0 else 1
      val zz = blocks(bi)
      val diff = zz(0) - dcPred(c); dcPred(c) = zz(0)
      val s = category(diff)
      putSym(dcTabs(t), s)
      if (s > 0) putBits(if (diff < 0) diff + (1 << s) - 1 else diff, s)
      var k = 1; var run = 0
      while (k < 64) {
        if (zz(k) == 0) run += 1
        else {
          while (run > 15) { putSym(acTabs(t), 0xF0); run -= 16 } // ZRL
          val sa = category(zz(k))
          putSym(acTabs(t), (run << 4) | sa)
          putBits(if (zz(k) < 0) zz(k) + (1 << sa) - 1 else zz(k), sa)
          run = 0
        }
        k += 1
      }
      if (run > 0) putSym(acTabs(t), 0x00) // EOB
      bi += 1
    }
    if (nAcc > 0) { // pad the final byte with 1s (T.81 F.1.2.3)
      val pad = 8 - nAcc
      putBits((1 << pad) - 1, pad)
    }
    m(0xD9) // EOI
    out.toByteArray
  }

  /** A PROGRESSIVE JPEG (SOF2) of the synthetic image — the other
    * common real-world layout (web encoders default to progressive).
    * Six scans exercising both progressive dimensions: spectral
    * selection (DC, AC 1-20, AC 21-63 as separate scans) AND
    * successive approximation (first scans at Al=1, refinement scans
    * at Ah=1/Al=0 for AC and DC).
    */
  def buildJpegProgressive(width: Int, height: Int, channels: Int,
      seed: Int, subsample: Boolean = false): Array[Byte] =
    encodeJpegProgressive(width, height, channels,
      (x, y, c) => jpegSampleAt(x, y, c, seed), s"graft synthetic $seed",
      subsample)

  /** Encode a sample plane as a progressive (SOF2) JPEG, at 1×1
    * sampling or (`subsample`, color only) 4:2:0 — the fixture
    * generator for the progressive decode path. Non-interleaved
    * scans (every AC scan, and DC when single-component) traverse
    * the component's OWN block grid (ceil(compW/8) × ceil(compH/8),
    * T.81 A.2.2) — NOT the MCU-padded grid — so MCU-pad blocks of a
    * subsampled luma plane carry DC only.
    *
    * Scan script (T.81 Annex G, the shape libjpeg-style encoders
    * emit): interleaved DC first scan at Al=1; per-component AC first
    * scans at Al=1 split into two spectral bands; per-component AC
    * refinement scans at Ah=1, Al=0; interleaved DC refinement. The
    * successive-approximation layer is LOSSLESS end-to-end: first
    * scans code coef/2^Al, refinement scans append the dropped bit,
    * so the decoder's final coefficients equal the encoder's
    * quantized truth bit-for-bit (spec-pinned).
    */
  def encodeJpegProgressive(width: Int, height: Int, channels: Int,
      sample: (Int, Int, Int) => Int, comment: String,
      subsample: Boolean = false): Array[Byte] = {
    require(width > 0 && height > 0 && width < 65536 && height < 65536)
    require(channels == 1 || channels == 3)
    val samp = samplingFor(channels, subsample)
    val out = new ByteArrayOutputStream()
    def m(marker: Int): Unit = { out.write(0xFF); out.write(marker) }
    def seg(marker: Int, data: Array[Byte]): Unit = {
      m(marker)
      val len = data.length + 2
      out.write(len >>> 8); out.write(len & 0xFF); out.write(data)
    }
    m(0xD8)
    seg(0xE0, "JFIF\u0000".getBytes("US-ASCII") ++
      Array[Byte](1, 1, 0, 0, 1, 0, 1, 0, 0))
    seg(0xFE, comment.getBytes("US-ASCII"))
    def dqt(id: Int, q: Array[Int]): Array[Byte] =
      id.toByte +: Array.tabulate(64)(k => q(Zigzag(k)).toByte)
    if (channels == 1) seg(0xDB, dqt(0, QLuma))
    else seg(0xDB, dqt(0, QLuma) ++ dqt(1, QChroma))
    val sof = Array[Byte](8,
      (height >>> 8).toByte, (height & 0xFF).toByte,
      (width >>> 8).toByte, (width & 0xFF).toByte,
      channels.toByte) ++
      (1 to channels).flatMap { c =>
        val (hc, vc) = samp(c - 1)
        Seq(c.toByte, ((hc << 4) | vc).toByte, (if (c == 1) 0 else 1).toByte)
      }
    seg(0xC2, sof) // SOF2: progressive DCT, huffman
    def dht(cls: Int, id: Int, bits: Array[Int], vals: Array[Int]): Array[Byte] =
      ((cls << 4) | id).toByte +: (bits.map(_.toByte) ++ vals.map(_.toByte))
    if (channels == 1)
      seg(0xC4, dht(0, 0, DcLumaBits, DcVals) ++ dht(1, 0, AcLumaBits, AcLumaVals))
    else
      seg(0xC4, dht(0, 0, DcLumaBits, DcVals) ++ dht(1, 0, AcLumaBits, AcLumaVals) ++
        dht(0, 1, DcChromaBits, DcVals) ++ dht(1, 1, AcChromaBits, AcChromaVals))

    val dcTabs = Array(huffEncodeTable(DcLumaBits, DcVals),
      huffEncodeTable(DcChromaBits, DcVals))
    val acTabs = Array(huffEncodeTable(AcLumaBits, AcLumaVals),
      huffEncodeTable(AcChromaBits, AcChromaVals))
    var acc = 0; var nAcc = 0
    def putBits(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        acc = (acc << 1) | ((code >>> i) & 1); nAcc += 1
        if (nAcc == 8) {
          out.write(acc)
          if (acc == 0xFF) out.write(0x00)
          acc = 0; nAcc = 0
        }
        i -= 1
      }
    }
    def flushScan(): Unit = if (nAcc > 0) {
      val pad = 8 - nAcc
      putBits((1 << pad) - 1, pad)
    }
    def putSym(tab: Array[Long], sym: Int): Unit = {
      val e = tab(sym)
      require(e != 0L, s"symbol 0x${sym.toHexString} not in huffman table")
      putBits((e >>> 8).toInt, (e & 0xFF).toInt)
    }
    def category(v: Int): Int = {
      var s = 0; var a = math.abs(v)
      while (a != 0) { a >>= 1; s += 1 }
      s
    }

    val blocks = jpegCoefficients(width, height, channels, samp, sample)
    val hMax = samp.map(_._1).max; val vMax = samp.map(_._2).max
    val mcusX = (width + 8 * hMax - 1) / (8 * hMax)
    val mcusY = (height + 8 * vMax - 1) / (8 * vMax)
    val nMcus = mcusX * mcusY
    // per-component MCU-padded block grid, filled in jpegCoefficients'
    // emission order (MCU raster, components interleaved, h×v raster)
    val padW = Array.tabulate(channels)(c => mcusX * samp(c)._1)
    val grid = Array.tabulate(channels)(c =>
      new Array[Array[Int]](padW(c) * mcusY * samp(c)._2))
    locally {
      var bi = 0
      var my = 0
      while (my < mcusY) {
        var mx = 0
        while (mx < mcusX) {
          var c = 0
          while (c < channels) {
            val (hc, vc) = samp(c)
            var by = 0
            while (by < vc) {
              var bx = 0
              while (bx < hc) {
                grid(c)((my * vc + by) * padW(c) + (mx * hc + bx)) = blocks(bi)
                bi += 1; bx += 1
              }
              by += 1
            }
            c += 1
          }
          mx += 1
        }
        my += 1
      }
    }
    // the component's REAL block grid (T.81 A.2.2: non-interleaved
    // scans cover ceil(compW/8) × ceil(compH/8), not the MCU pad)
    val bw = Array.tabulate(channels) { c =>
      val fx = hMax / samp(c)._1; ((width + fx - 1) / fx + 7) / 8
    }
    val bh = Array.tabulate(channels) { c =>
      val fy = vMax / samp(c)._2; ((height + fy - 1) / fy + 7) / 8
    }
    def sos(comps: Seq[Int], ss: Int, se: Int, ah: Int, al: Int): Unit =
      seg(0xDA, Array[Byte](comps.length.toByte) ++
        comps.flatMap { c =>
          val t = if (c == 0) 0 else 1
          Seq((c + 1).toByte, ((t << 4) | t).toByte)
        } ++ Array[Byte](ss.toByte, se.toByte, ((ah << 4) | al).toByte))

    // ---- scan 1: DC first, interleaved, Al = 1 (arithmetic shift) --
    // (per MCU, component c contributes its h×v blocks raster-major;
    // at channels == 1 / 1×1 this equals the non-interleaved
    // real-grid traversal the decoder uses for a single-comp scan)
    sos(0 until channels, 0, 0, 0, 1)
    val dcPred = new Array[Int](channels)
    var mcu = 0
    while (mcu < nMcus) {
      val mx = mcu % mcusX; val my = mcu / mcusX
      var c = 0
      while (c < channels) {
        val t = if (c == 0) 0 else 1
        val (hc, vc) = samp(c)
        var by = 0
        while (by < vc) {
          var bx = 0
          while (bx < hc) {
            val v = grid(c)((my * vc + by) * padW(c) + (mx * hc + bx))(0) >> 1
            val diff = v - dcPred(c); dcPred(c) = v
            val s = category(diff)
            putSym(dcTabs(t), s)
            if (s > 0) putBits(if (diff < 0) diff + (1 << s) - 1 else diff, s)
            bx += 1
          }
          by += 1
        }
        c += 1
      }
      mcu += 1
    }
    flushScan()

    // ---- AC first scans at Al = 1, two spectral bands, per comp ----
    def acFirst(c: Int, ss: Int, se: Int, al: Int): Unit = {
      sos(Seq(c), ss, se, 0, al)
      val t = if (c == 0) 0 else 1
      val nBlk = bw(c) * bh(c)
      var m2 = 0
      while (m2 < nBlk) {
        val zz = grid(c)((m2 / bw(c)) * padW(c) + m2 % bw(c))
        var k = ss; var run = 0
        while (k <= se) {
          val v = zz(k)
          // AC point transform: divide by 2^Al truncating toward zero
          val tv = if (v < 0) -((-v) >> al) else v >> al
          if (tv == 0) run += 1
          else {
            while (run > 15) { putSym(acTabs(t), 0xF0); run -= 16 }
            val sa = category(tv)
            putSym(acTabs(t), (run << 4) | sa)
            putBits(if (tv < 0) tv + (1 << sa) - 1 else tv, sa)
            run = 0
          }
          k += 1
        }
        if (run > 0) putSym(acTabs(t), 0x00) // EOB run of exactly 1
        m2 += 1
      }
      flushScan()
    }
    // ---- AC refinement scans (Ah = 1, Al = 0), per comp ------------
    def acRefine(c: Int, ss: Int, se: Int): Unit = {
      sos(Seq(c), ss, se, 1, 0)
      val t = if (c == 0) 0 else 1
      val nBlk = bw(c) * bh(c)
      var m2 = 0
      while (m2 < nBlk) {
        val zz = grid(c)((m2 / bw(c)) * padW(c) + m2 % bw(c))
        val pend = new scala.collection.mutable.ArrayBuffer[Int]()
        def flushPend(): Unit = { pend.foreach(b => putBits(b, 1)); pend.clear() }
        // last newly-significant position: ZRLs beyond it fold into
        // the EOB (whose processing refines the rest of the band)
        var lastNew = -1
        var k0 = ss
        while (k0 <= se) { if (math.abs(zz(k0)) == 1) lastNew = k0; k0 += 1 }
        var k = ss; var run = 0
        while (k <= se) {
          val v = zz(k)
          val av = math.abs(v)
          if (av == 0) run += 1
          else {
            // emit pending ZRLs before ANY nonzero coefficient (the
            // decoder's run walk reads correction bits positionally),
            // but never past lastNew — those runs fold into the EOB
            while (run > 15 && k <= lastNew) {
              putSym(acTabs(t), 0xF0); flushPend(); run -= 16
            }
            if (av > 1) pend += (av & 1) // already significant at Ah=1
            else { // newly significant (|v| = 1)
              putSym(acTabs(t), (run << 4) | 1)
              putBits(if (v < 0) 0 else 1, 1) // sign bit
              flushPend(); run = 0
            }
          }
          k += 1
        }
        if (run > 0 || pend.nonEmpty) { putSym(acTabs(t), 0x00); flushPend() }
        m2 += 1
      }
      flushScan()
    }
    var c = 0
    while (c < channels) { acFirst(c, 1, 20, 1); c += 1 }
    c = 0
    while (c < channels) { acFirst(c, 21, 63, 1); c += 1 }
    c = 0
    while (c < channels) { acRefine(c, 1, 20); c += 1 }
    c = 0
    while (c < channels) { acRefine(c, 21, 63); c += 1 }

    // ---- final scan: DC refinement, interleaved, Ah=1 Al=0 ---------
    sos(0 until channels, 0, 0, 1, 0)
    mcu = 0
    while (mcu < nMcus) {
      val mx = mcu % mcusX; val my = mcu / mcusX
      var c2 = 0
      while (c2 < channels) {
        val (hc, vc) = samp(c2)
        var by = 0
        while (by < vc) {
          var bx = 0
          while (bx < hc) {
            putBits(
              grid(c2)((my * vc + by) * padW(c2) + (mx * hc + bx))(0) & 1, 1)
            bx += 1
          }
          by += 1
        }
        c2 += 1
      }
      mcu += 1
    }
    flushScan()
    m(0xD9)
    out.toByteArray
  }

  /** Decoded JPEG sample plane: row-major, `channels` bytes per
    * pixel, values in the ENCODED color space (Y or YCbCr — the
    * builder generates component samples directly, no RGB transform).
    */
  final case class JpegPixels(width: Int, height: Int, channels: Int,
      pixels: Array[Byte])

  private final class JpegDecodeErr extends RuntimeException(null, null, false, false)

  /** Huffman decode tables per T.81 F.2.2.3 (MINCODE/MAXCODE/VALPTR),
    * rebuilt from the file's DHT BITS/HUFFVAL.
    */
  private final class JpegHuff(bits: Array[Int], vals: Array[Int]) {
    private val maxcode = Array.fill(17)(-1)
    private val mincode = new Array[Int](17)
    private val valptr = new Array[Int](17)
    locally {
      var code = 0; var k = 0; var l = 1
      while (l <= 16) {
        if (bits(l - 1) > 0) {
          valptr(l) = k; mincode(l) = code
          code += bits(l - 1); k += bits(l - 1)
          maxcode(l) = code - 1
        }
        code <<= 1; l += 1
      }
    }
    def decode(nextBit: () => Int): Int = {
      var code = nextBit(); var l = 1
      while (maxcode(l) < 0 || code > maxcode(l)) {
        l += 1
        if (l > 16) throw new JpegDecodeErr
        code = (code << 1) | nextBit()
      }
      vals(valptr(l) + code - mincode(l))
    }
  }

  /** Entropy-decode a baseline JPEG down to its quantized coefficient
    * blocks (zigzag order, scan order) — the lossless layer, pinned
    * bit-exactly against [[jpegReferenceCoefficients]] by the spec.
    * Returns (width, height, channels, per-component sampling,
    * per-component quant tables in natural order, blocks). Supports
    * the honest subset — and only that, rather than wrong pixels:
    * baseline SOF0, 8-bit precision, sampling factors 1 or 2 per
    * axis (4:4:4, 4:2:0, 4:2:2), no restart intervals.
    */
  private[graft] def decodeJpegCoefficients(bytes: Array[Byte])
      : Option[(Int, Int, Int, Array[(Int, Int)], Array[Array[Int]], Array[Array[Int]])] = {
    if (bytes.length < 4 || (bytes(0) & 0xFF) != 0xFF
        || (bytes(1) & 0xFF) != 0xD8) return None
    val qtabs = new Array[Array[Int]](4)
    val dcTabs = new Array[JpegHuff](4)
    val acTabs = new Array[JpegHuff](4)
    var w = 0; var h = 0; var nc = 0
    var samp: Array[(Int, Int)] = null // component -> (h, v) sampling
    var compQ: Array[Int] = null // component -> quant table id
    var scanDc: Array[Int] = null; var scanAc: Array[Int] = null
    var scanStart = -1
    try {
      var i = 2
      while (scanStart < 0 && i + 3 < bytes.length) {
        if ((bytes(i) & 0xFF) != 0xFF) return None
        val marker = bytes(i + 1) & 0xFF
        if (marker == 0xFF) { i += 1 }
        else if (marker == 0xD8 || (marker >= 0xD0 && marker <= 0xD7)) i += 2
        else if (marker == 0xD9) return None
        else {
          val len = ((bytes(i + 2) & 0xFF) << 8) | (bytes(i + 3) & 0xFF)
          if (len < 2 || i + 2 + len > bytes.length) return None
          val p0 = i + 4; val pEnd = i + 2 + len
          marker match {
            case 0xDB => // DQT: one or more (pq/tq, 64 zigzag bytes)
              var p = p0
              while (p < pEnd) {
                val pq = (bytes(p) & 0xFF) >> 4; val tq = bytes(p) & 0x0F
                if (pq != 0 || tq > 3 || p + 65 > pEnd) return None
                val q = new Array[Int](64)
                var k = 0
                while (k < 64) { q(Zigzag(k)) = bytes(p + 1 + k) & 0xFF; k += 1 }
                qtabs(tq) = q
                p += 65
              }
            case 0xC4 => // DHT: one or more (tc/th, 16 counts, vals)
              var p = p0
              while (p < pEnd) {
                val tc = (bytes(p) & 0xFF) >> 4; val th = bytes(p) & 0x0F
                if (tc > 1 || th > 3 || p + 17 > pEnd) return None
                val bits = Array.tabulate(16)(k => bytes(p + 1 + k) & 0xFF)
                val n = bits.sum
                if (p + 17 + n > pEnd) return None
                val vals = Array.tabulate(n)(k => bytes(p + 17 + k) & 0xFF)
                val t = new JpegHuff(bits, vals)
                if (tc == 0) dcTabs(th) = t else acTabs(th) = t
                p += 17 + n
              }
            case 0xC0 => // SOF0 baseline
              if ((bytes(p0) & 0xFF) != 8) return None
              h = ((bytes(p0 + 1) & 0xFF) << 8) | (bytes(p0 + 2) & 0xFF)
              w = ((bytes(p0 + 3) & 0xFF) << 8) | (bytes(p0 + 4) & 0xFF)
              nc = bytes(p0 + 5) & 0xFF
              if (w == 0 || h == 0 || nc == 0 || nc > 4
                  || p0 + 6 + 3 * nc > pEnd) return None
              compQ = new Array[Int](nc)
              samp = new Array[(Int, Int)](nc)
              var c = 0
              while (c < nc) {
                val hv = bytes(p0 + 7 + 3 * c) & 0xFF
                val hc = hv >> 4; val vc = hv & 0x0F
                // the honest subset: each factor 1 or 2 (covers 4:4:4
                // and 4:2:0/4:2:2 layouts); anything else → None
                if (hc < 1 || hc > 2 || vc < 1 || vc > 2) return None
                samp(c) = (hc, vc)
                compQ(c) = bytes(p0 + 8 + 3 * c) & 0x0F
                c += 1
              }
            case mk if mk >= 0xC1 && mk <= 0xCF && mk != 0xC4
                && mk != 0xC8 && mk != 0xCC =>
              return None // non-baseline frame: no pixel decode
            case 0xDD => return None // restart intervals unsupported
            case 0xDA => // SOS
              if (compQ == null) return None
              val ns = bytes(p0) & 0xFF
              if (ns != nc || p0 + 1 + 2 * ns + 3 > pEnd) return None
              scanDc = new Array[Int](nc); scanAc = new Array[Int](nc)
              var c = 0
              while (c < ns) {
                val tt = bytes(p0 + 2 + 2 * c) & 0xFF
                scanDc(c) = tt >> 4; scanAc(c) = tt & 0x0F
                c += 1
              }
              scanStart = pEnd
            case _ => // APPn / COM / others: skip
          }
          i += 2 + len
        }
      }
      if (scanStart < 0) return None
      // ---- entropy decode ----
      var pos = scanStart
      var acc = 0; var nBits = 0
      def nextBit(): Int = {
        if (nBits == 0) {
          if (pos >= bytes.length) throw new JpegDecodeErr
          var b = bytes(pos) & 0xFF; pos += 1
          if (b == 0xFF) {
            val b2 = if (pos < bytes.length) bytes(pos) & 0xFF else -1
            if (b2 == 0x00) pos += 1 // stuffed data byte
            else throw new JpegDecodeErr // marker mid-scan (no DRI here)
          }
          acc = b; nBits = 8
        }
        nBits -= 1
        (acc >>> nBits) & 1
      }
      def receiveExtend(s: Int): Int = {
        if (s == 0) return 0
        var v = 0; var k = 0
        while (k < s) { v = (v << 1) | nextBit(); k += 1 }
        if (v < (1 << (s - 1))) v - (1 << s) + 1 else v
      }
      if (samp == null) return None
      val hMax = samp.map(_._1).max; val vMax = samp.map(_._2).max
      val mcus = ((w + 8 * hMax - 1) / (8 * hMax)) *
        ((h + 8 * vMax - 1) / (8 * vMax))
      val mcuComp = samp.zipWithIndex
        .flatMap { case ((hc, vc), c) => Seq.fill(hc * vc)(c) }
      val blocks = new Array[Array[Int]](mcus * mcuComp.length)
      val dcPred = new Array[Int](nc)
      var bi = 0
      while (bi < blocks.length) {
        val c = mcuComp(bi % mcuComp.length)
        val dcT = dcTabs(scanDc(c)); val acT = acTabs(scanAc(c))
        if (dcT == null || acT == null) return None
        val zz = new Array[Int](64)
        val s = dcT.decode(nextBit)
        if (s > 11) throw new JpegDecodeErr
        dcPred(c) += receiveExtend(s)
        zz(0) = dcPred(c)
        var k = 1
        var open = true
        while (open && k < 64) {
          val rs = acT.decode(nextBit)
          val r = rs >> 4; val sa = rs & 0x0F
          if (sa == 0) {
            if (r == 15) k += 16 // ZRL
            else open = false // EOB
          } else {
            k += r
            if (k > 63) throw new JpegDecodeErr
            zz(k) = receiveExtend(sa)
            k += 1
          }
        }
        blocks(bi) = zz
        bi += 1
      }
      val cq = Array.tabulate(nc) { c =>
        val q = qtabs(compQ(c)); if (q == null) throw new JpegDecodeErr; q
      }
      Some((w, h, nc, samp, cq, blocks))
    } catch {
      case _: JpegDecodeErr => None
      case _: ArrayIndexOutOfBoundsException => None
    }
  }

  /** Entropy-decode a PROGRESSIVE (SOF2) JPEG down to its quantized
    * coefficient blocks — T.81 Annex G: per-scan spectral bands
    * [Ss, Se] with successive-approximation bit positions (Ah, Al),
    * interleaved DC scans, single-component AC scans with EOB runs,
    * and the refinement scan loop (correction bits for
    * already-significant coefficients). Coefficient state accumulates
    * across scans; after the last scan the blocks equal the encoder's
    * quantized truth bit-for-bit (the approximation layer is
    * lossless end-to-end — spec-pinned).
    *
    * Honest subset, mirroring the baseline decoder's contract: 8-bit
    * precision, sampling factors 1 or 2 per axis (grayscale / 4:4:4 /
    * 4:2:0 / 4:2:2), no restart intervals. Coefficients live on each
    * component's MCU-padded block grid; interleaved DC scans traverse
    * MCUs (h×v blocks per component), non-interleaved scans traverse
    * the component's OWN ceil(compW/8) × ceil(compH/8) grid (T.81
    * A.2.2) — so a subsampled luma plane's MCU-pad blocks stay
    * AC-zero, which the pixel assembly never reads.
    */
  private[graft] def decodeJpegProgressiveCoefficients(bytes: Array[Byte])
      : Option[(Int, Int, Int, Array[(Int, Int)], Array[Array[Int]], Array[Array[Int]])] = {
    if (bytes.length < 4 || (bytes(0) & 0xFF) != 0xFF
        || (bytes(1) & 0xFF) != 0xD8) return None
    val qtabs = new Array[Array[Int]](4)
    val dcTabs = new Array[JpegHuff](4)
    val acTabs = new Array[JpegHuff](4)
    var w = 0; var h = 0; var nc = 0
    var sofIds: Array[Int] = null
    var compQ: Array[Int] = null
    var samp: Array[(Int, Int)] = null
    // comp -> padded-grid block index (raster) -> zigzag coefficients
    var coefs: Array[Array[Array[Int]]] = null
    var nMcus = 0; var mcusX = 0; var mcusY = 0
    var padW: Array[Int] = null // comp -> padded block-grid width
    var bwArr: Array[Int] = null; var bhArr: Array[Int] = null // real grid
    try {
      var i = 2
      var done = false
      while (!done && i + 1 < bytes.length) {
        if ((bytes(i) & 0xFF) != 0xFF) return None
        val marker = bytes(i + 1) & 0xFF
        if (marker == 0xFF) { i += 1 }
        else if (marker == 0xD8 || (marker >= 0xD0 && marker <= 0xD7)) i += 2
        else if (marker == 0xD9) done = true
        else {
          if (i + 3 >= bytes.length) return None
          val len = ((bytes(i + 2) & 0xFF) << 8) | (bytes(i + 3) & 0xFF)
          if (len < 2 || i + 2 + len > bytes.length) return None
          val p0 = i + 4; val pEnd = i + 2 + len
          var nextI = i + 2 + len
          marker match {
            case 0xDB =>
              var p = p0
              while (p < pEnd) {
                val pq = (bytes(p) & 0xFF) >> 4; val tq = bytes(p) & 0x0F
                if (pq != 0 || tq > 3 || p + 65 > pEnd) return None
                val q = new Array[Int](64)
                var k = 0
                while (k < 64) { q(Zigzag(k)) = bytes(p + 1 + k) & 0xFF; k += 1 }
                qtabs(tq) = q
                p += 65
              }
            case 0xC4 =>
              var p = p0
              while (p < pEnd) {
                val tc = (bytes(p) & 0xFF) >> 4; val th = bytes(p) & 0x0F
                if (tc > 1 || th > 3 || p + 17 > pEnd) return None
                val bits = Array.tabulate(16)(k => bytes(p + 1 + k) & 0xFF)
                val n = bits.sum
                if (p + 17 + n > pEnd) return None
                val vals = Array.tabulate(n)(k => bytes(p + 17 + k) & 0xFF)
                val t = new JpegHuff(bits, vals)
                if (tc == 0) dcTabs(th) = t else acTabs(th) = t
                p += 17 + n
              }
            case 0xC2 => // SOF2 progressive
              if ((bytes(p0) & 0xFF) != 8) return None
              h = ((bytes(p0 + 1) & 0xFF) << 8) | (bytes(p0 + 2) & 0xFF)
              w = ((bytes(p0 + 3) & 0xFF) << 8) | (bytes(p0 + 4) & 0xFF)
              nc = bytes(p0 + 5) & 0xFF
              if (w == 0 || h == 0 || nc == 0 || nc > 4
                  || p0 + 6 + 3 * nc > pEnd) return None
              sofIds = new Array[Int](nc)
              compQ = new Array[Int](nc)
              samp = new Array[(Int, Int)](nc)
              var c = 0
              while (c < nc) {
                sofIds(c) = bytes(p0 + 6 + 3 * c) & 0xFF
                val hv = bytes(p0 + 7 + 3 * c) & 0xFF
                val hc = hv >> 4; val vc = hv & 0x0F
                // the honest subset (as baseline): factors 1 or 2
                if (hc < 1 || hc > 2 || vc < 1 || vc > 2) return None
                samp(c) = (hc, vc)
                compQ(c) = bytes(p0 + 8 + 3 * c) & 0x0F
                c += 1
              }
              val hMax = samp.map(_._1).max; val vMax = samp.map(_._2).max
              mcusX = (w + 8 * hMax - 1) / (8 * hMax)
              mcusY = (h + 8 * vMax - 1) / (8 * vMax)
              nMcus = mcusX * mcusY
              padW = Array.tabulate(nc)(k => mcusX * samp(k)._1)
              bwArr = Array.tabulate(nc) { k =>
                val fx = hMax / samp(k)._1; ((w + fx - 1) / fx + 7) / 8
              }
              bhArr = Array.tabulate(nc) { k =>
                val fy = vMax / samp(k)._2; ((h + fy - 1) / fy + 7) / 8
              }
              coefs = Array.tabulate(nc)(k =>
                Array.fill(padW(k) * mcusY * samp(k)._2)(new Array[Int](64)))
            case mk if mk >= 0xC0 && mk <= 0xCF && mk != 0xC2
                && mk != 0xC4 && mk != 0xC8 && mk != 0xCC =>
              return None // baseline/other frame types: not this path
            case 0xDD => return None // restart intervals unsupported
            case 0xDA =>
              if (coefs == null) return None
              val ns = bytes(p0) & 0xFF
              if (ns < 1 || ns > nc || p0 + 1 + 2 * ns + 3 > pEnd) return None
              val scanComps = new Array[Int](ns)
              val scanDc = new Array[Int](nc); val scanAc = new Array[Int](nc)
              var c = 0
              while (c < ns) {
                val sel = bytes(p0 + 1 + 2 * c) & 0xFF
                val ci = sofIds.indexOf(sel)
                if (ci < 0) return None
                scanComps(c) = ci
                val tt = bytes(p0 + 2 + 2 * c) & 0xFF
                scanDc(ci) = tt >> 4; scanAc(ci) = tt & 0x0F
                c += 1
              }
              val ss = bytes(p0 + 1 + 2 * ns) & 0xFF
              val se = bytes(p0 + 2 + 2 * ns) & 0xFF
              val ahal = bytes(p0 + 3 + 2 * ns) & 0xFF
              val ah = ahal >> 4; val al = ahal & 0x0F
              if (ss > se || se > 63 || al > 13) return None
              // T.81 G.1: a progressive DC scan is exactly [0, 0];
              // AC scans start past DC and never interleave
              if (ss == 0 && se != 0) return None
              if (ss > 0 && ns != 1) return None
              nextI = decodeProgressiveScan(bytes, pEnd, coefs, nc,
                samp, mcusX, nMcus, padW, bwArr, bhArr,
                scanComps, scanDc, scanAc, dcTabs, acTabs, ss, se, ah, al)
            case _ => // APPn / COM: skip
          }
          i = nextI
        }
      }
      if (coefs == null) return None
      val cq = Array.tabulate(nc) { c =>
        val q = qtabs(compQ(c)); if (q == null) throw new JpegDecodeErr; q
      }
      // interleave back to MCU order (h×v blocks per component) for
      // the shared pixel assembly
      val blocksPerMcu = samp.map { case (hc, vc) => hc * vc }.sum
      val blocks = new Array[Array[Int]](nMcus * blocksPerMcu)
      var bi = 0
      var m2 = 0
      while (m2 < nMcus) {
        val mx = m2 % mcusX; val my = m2 / mcusX
        var c = 0
        while (c < nc) {
          val (hc, vc) = samp(c)
          var by = 0
          while (by < vc) {
            var bx = 0
            while (bx < hc) {
              blocks(bi) = coefs(c)((my * vc + by) * padW(c) + (mx * hc + bx))
              bi += 1; bx += 1
            }
            by += 1
          }
          c += 1
        }
        m2 += 1
      }
      Some((w, h, nc, samp, cq, blocks))
    } catch {
      case _: JpegDecodeErr => None
      case _: ArrayIndexOutOfBoundsException => None
    }
  }

  /** One progressive scan (T.81 G.1.2): mutates the coefficient
    * state, returns the byte offset of the next marker.
    */
  private def decodeProgressiveScan(bytes: Array[Byte], start: Int,
      coefs: Array[Array[Array[Int]]], nc: Int,
      samp: Array[(Int, Int)], mcusX: Int, nMcus: Int,
      padW: Array[Int], bw: Array[Int], bh: Array[Int],
      scanComps: Array[Int], scanDc: Array[Int], scanAc: Array[Int],
      dcTabs: Array[JpegHuff], acTabs: Array[JpegHuff],
      ss: Int, se: Int, ah: Int, al: Int): Int = {
    var pos = start
    var acc = 0; var nBits = 0
    def nextBit(): Int = {
      if (nBits == 0) {
        if (pos >= bytes.length) throw new JpegDecodeErr
        val b = bytes(pos) & 0xFF; pos += 1
        if (b == 0xFF) {
          val b2 = if (pos < bytes.length) bytes(pos) & 0xFF else -1
          if (b2 == 0x00) pos += 1
          else throw new JpegDecodeErr // marker mid-scan
        }
        acc = b; nBits = 8
      }
      nBits -= 1
      (acc >>> nBits) & 1
    }
    def receive(n: Int): Int = {
      var v = 0; var k = 0
      while (k < n) { v = (v << 1) | nextBit(); k += 1 }
      v
    }
    def receiveExtend(s: Int): Int = {
      if (s == 0) return 0
      val v = receive(s)
      if (v < (1 << (s - 1))) v - (1 << s) + 1 else v
    }
    var eobrun = 0
    if (ss == 0) {
      // DC scan. ns > 1: interleaved over MCUs, h×v data units per
      // scan component; ns == 1: non-interleaved over the component's
      // real block grid (T.81 A.2.2)
      val dcPred = new Array[Int](nc)
      def dcUnit(ci: Int, zz: Array[Int]): Unit =
        if (ah == 0) {
          val t = dcTabs(scanDc(ci))
          if (t == null) throw new JpegDecodeErr
          val s = t.decode(nextBit)
          if (s > 11) throw new JpegDecodeErr
          dcPred(ci) += receiveExtend(s)
          zz(0) = dcPred(ci) << al
        } else {
          if (nextBit() == 1) zz(0) |= (1 << al)
        }
      if (scanComps.length > 1) {
        var m2 = 0
        while (m2 < nMcus) {
          val mx = m2 % mcusX; val my = m2 / mcusX
          var c = 0
          while (c < scanComps.length) {
            val ci = scanComps(c)
            val (hc, vc) = samp(ci)
            var by = 0
            while (by < vc) {
              var bx = 0
              while (bx < hc) {
                dcUnit(ci,
                  coefs(ci)((my * vc + by) * padW(ci) + (mx * hc + bx)))
                bx += 1
              }
              by += 1
            }
            c += 1
          }
          m2 += 1
        }
      } else {
        val ci = scanComps(0)
        val nBlk = bw(ci) * bh(ci)
        var m2 = 0
        while (m2 < nBlk) {
          dcUnit(ci, coefs(ci)((m2 / bw(ci)) * padW(ci) + m2 % bw(ci)))
          m2 += 1
        }
      }
    } else {
      // AC scan — single component (T.81 G: AC scans never
      // interleave), traversed over the component's real block grid
      if (scanComps.length != 1) throw new JpegDecodeErr
      val ci = scanComps(0)
      val acT = acTabs(scanAc(ci))
      if (acT == null) throw new JpegDecodeErr
      val p1 = 1 << al; val n1 = -1 << al
      val nBlk = bw(ci) * bh(ci)
      var m2 = 0
      while (m2 < nBlk) {
        val zz = coefs(ci)((m2 / bw(ci)) * padW(ci) + m2 % bw(ci))
        if (ah == 0) {
          // first scan in this band: values at precision Al, EOB runs
          if (eobrun > 0) eobrun -= 1
          else {
            var k = ss
            var open = true
            while (open && k <= se) {
              val rs = acT.decode(nextBit)
              val r = rs >> 4; val s = rs & 0x0F
              if (s == 0) {
                if (r < 15) { eobrun = (1 << r) - 1 + receive(r); open = false }
                else k += 16 // ZRL
              } else {
                k += r
                if (k > se) throw new JpegDecodeErr
                zz(k) = receiveExtend(s) << al
                k += 1
              }
            }
          }
        } else {
          // refinement: correction bits for already-significant
          // coefficients, ±1<<Al placements for newly-significant ones
          var k = ss
          if (eobrun == 0) {
            var open = true
            while (open && k <= se) {
              val rs = acT.decode(nextBit)
              var r = rs >> 4; val s = rs & 0x0F
              var newval = 0
              if (s == 0) {
                if (r < 15) { eobrun = (1 << r) + receive(r); open = false }
                // r == 15: ZRL — skip 16 zero-history coefficients
              } else {
                if (s != 1) throw new JpegDecodeErr
                newval = if (nextBit() == 1) p1 else n1
              }
              if (open) {
                var placed = false
                while (!placed && k <= se) {
                  val v = zz(k)
                  if (v != 0) {
                    if (nextBit() == 1 && (v & p1) == 0)
                      zz(k) = if (v >= 0) v + p1 else v + n1
                  } else {
                    if (r == 0) { if (s != 0) zz(k) = newval; placed = true }
                    else r -= 1
                  }
                  k += 1
                }
              }
            }
          }
          if (eobrun > 0) {
            // EOB processing still refines the remaining
            // already-significant coefficients of the band
            while (k <= se) {
              val v = zz(k)
              if (v != 0) {
                if (nextBit() == 1 && (v & p1) == 0)
                  zz(k) = if (v >= 0) v + p1 else v + n1
              }
              k += 1
            }
            eobrun -= 1
          }
        }
        m2 += 1
      }
    }
    // advance to the next marker (skip padding and stuffed bytes)
    while (pos + 1 < bytes.length &&
        !((bytes(pos) & 0xFF) == 0xFF && (bytes(pos + 1) & 0xFF) != 0x00
          && (bytes(pos + 1) & 0xFF) != 0xFF)) pos += 1
    pos
  }

  /** FULL JPEG pixel decode, pure JVM: huffman entropy decode →
    * dequantize → 8×8 inverse DCT → level shift, per T.81's baseline
    * sequential process (SOF0) or the progressive multi-scan process
    * (SOF2, [[decodeJpegProgressiveCoefficients]]). Closes the last
    * media-format pixel gap (PNG and WAV decode landed in round 5;
    * baseline JPEG in round 6; progressive in round 7).
    */
  def decodeJpegPixels(bytes: Array[Byte]): Option[JpegPixels] =
    decodeJpegCoefficients(bytes)
      .orElse(decodeJpegProgressiveCoefficients(bytes))
      .map { case (w, h, nc, samp, cq, blocks) =>
      val hMax = samp.map(_._1).max; val vMax = samp.map(_._2).max
      val mcusX = (w + 8 * hMax - 1) / (8 * hMax)
      val mcuComp = samp.zipWithIndex
        .flatMap { case ((hc, vc), c) => Seq.fill(hc * vc)(c) }
      // block offset of component c within an MCU, and the within-
      // component block index of each MCU-block position
      val compBase = samp.scanLeft(0) { case (a, (hc, vc)) => a + hc * vc }
      // decode each block into its COMPONENT plane (ceil-divided
      // dims), then upsample by replication into the pixel plane
      val planes = Array.tabulate(nc) { c =>
        val (hc, vc) = samp(c)
        val fx = hMax / hc; val fy = vMax / vc
        val cw = mcusX * hc * 8 // block-grid width (≥ plane width)
        val chh = ((h + fy - 1) / fy + 8 * vc - 1) / (8 * vc) * (8 * vc)
        new Array[Byte](cw * chh)
      }
      var bi = 0
      while (bi < blocks.length) {
        val pos = bi % mcuComp.length
        val mcu = bi / mcuComp.length
        val c = mcuComp(pos)
        val (hc, vc) = samp(c)
        val bIdx = pos - compBase(c) // 0 .. hc*vc-1, raster
        val bx = bIdx % hc; val by = bIdx / hc
        val mx = mcu % mcusX; val my = mcu / mcusX
        val zz = blocks(bi); val q = cq(c)
        val coef = new Array[Double](64)
        var k = 0
        while (k < 64) {
          val nat = Zigzag(k)
          coef(nat) = zz(k).toDouble * q(nat)
          k += 1
        }
        val sp = idct(coef)
        val plane = planes(c)
        val pw = mcusX * hc * 8
        val ox = (mx * hc + bx) * 8; val oy = (my * vc + by) * 8
        var i = 0
        while (i < 64) {
          val x = ox + i % 8; val y = oy + i / 8
          if (x < pw && (y * pw + x) < plane.length) {
            val v = Math.round(sp(i) + 128.0).toInt
            plane(y * pw + x) =
              (if (v < 0) 0 else if (v > 255) 255 else v).toByte
          }
          i += 1
        }
        bi += 1
      }
      // assemble interleaved pixels: component value at (x, y) comes
      // from its plane at (x/fx, y/fy) — replication upsample
      val px = new Array[Byte](w * h * nc)
      var c = 0
      while (c < nc) {
        val (hc, vc) = samp(c)
        val fx = hMax / hc; val fy = vMax / vc
        val pw = mcusX * hc * 8
        val plane = planes(c)
        var y = 0
        while (y < h) {
          val py = y / fy
          var x = 0
          while (x < w) {
            px((y * w + x) * nc + c) = plane(py * pw + x / fx)
            x += 1
          }
          y += 1
        }
        c += 1
      }
      JpegPixels(w, h, nc, px)
    }

  /** JPEG SOF parse: walk the marker segments from SOI to the first
    * SOFn (C0-C3, C5-C7, C9-CB, CD-CF — progressive SOF2 included)
    * and read precision / height / width / component count.
    */
  def parseJpeg(bytes: Array[Byte]): Option[MediaMeta] = {
    if (bytes.length < 4 || (bytes(0) & 0xFF) != 0xFF
        || (bytes(1) & 0xFF) != 0xD8) return None
    var i = 2
    while (i + 3 < bytes.length) {
      if ((bytes(i) & 0xFF) != 0xFF) return None // desynced
      val marker = bytes(i + 1) & 0xFF
      if (marker == 0xFF) { i += 1 } // fill byte
      else if (marker == 0xD8 || (marker >= 0xD0 && marker <= 0xD7)) i += 2
      else if (marker == 0xD9) return None // EOI before SOF
      else {
        val len = ((bytes(i + 2) & 0xFF) << 8) | (bytes(i + 3) & 0xFF)
        if (len < 2 || i + 2 + len > bytes.length) return None
        val isSof = marker >= 0xC0 && marker <= 0xCF &&
          marker != 0xC4 && marker != 0xC8 && marker != 0xCC
        if (isSof) {
          if (len < 8) return None
          val depth = bytes(i + 4) & 0xFF
          val h = ((bytes(i + 5) & 0xFF) << 8) | (bytes(i + 6) & 0xFF)
          val w = ((bytes(i + 7) & 0xFF) << 8) | (bytes(i + 8) & 0xFF)
          val nc = bytes(i + 9) & 0xFF
          if (w == 0 || h == 0 || nc == 0) return None
          return Some(MediaMeta("jpeg", Some(w), Some(h), Some(depth),
            Some(nc), None))
        }
        if (marker == 0xDA) return None // SOS reached without SOF
        i += 2 + len
      }
    }
    None
  }

  // ------------------------------------------------------------- WAV

  private def le16(v: Int) = Array(v.toByte, (v >>> 8).toByte)
  private def le32(v: Int) = Array(v.toByte, (v >>> 8).toByte,
    (v >>> 16).toByte, (v >>> 24).toByte)

  /** A complete PCM WAV file: RIFF/WAVE header, fmt chunk, data chunk
    * with deterministic 16-bit samples.
    */
  def buildWav(sampleRate: Int, channels: Int, nSamples: Int, seed: Int): Array[Byte] = {
    require(sampleRate > 0 && channels > 0 && nSamples >= 0)
    val bits = 16
    val blockAlign = channels * bits / 8
    val data = new Array[Byte](nSamples * blockAlign)
    var i = 0
    while (i < data.length) { data(i) = ((i * 131 + seed) & 0xFF).toByte; i += 1 }
    val fmt = le16(1) ++ le16(channels) ++ le32(sampleRate) ++
      le32(sampleRate * blockAlign) ++ le16(blockAlign) ++ le16(bits)
    ("RIFF".getBytes("US-ASCII") ++ le32(4 + 8 + fmt.length + 8 + data.length) ++
      "WAVE".getBytes("US-ASCII") ++
      "fmt ".getBytes("US-ASCII") ++ le32(fmt.length) ++ fmt ++
      "data".getBytes("US-ASCII") ++ le32(data.length) ++ data)
  }

  /** WAV fmt parse: RIFF/WAVE check, then walk chunks to `fmt ` and
    * read channels / sample rate / bits per sample.
    */
  def parseWav(bytes: Array[Byte]): Option[MediaMeta] = {
    def ascii(off: Int, s: String): Boolean =
      off + s.length <= bytes.length &&
        s.indices.forall(k => bytes(off + k) == s.charAt(k).toByte)
    if (bytes.length < 44 || !ascii(0, "RIFF") || !ascii(8, "WAVE")) return None
    var i = 12
    while (i + 8 <= bytes.length) {
      val size = readLe32(bytes, i + 4)
      // same hostile-length guard as decodeWavSamples: a negative
      // size would advance `i` backwards and loop forever
      if (size < 0 || i + 8 + size > bytes.length) return None
      if (ascii(i, "fmt ")) {
        if (size < 16 || i + 8 + 16 > bytes.length) return None
        val channels = readLe16(bytes, i + 10)
        val rate = readLe32(bytes, i + 12)
        val bits = readLe16(bytes, i + 22)
        if (channels <= 0 || rate <= 0) return None
        return Some(MediaMeta("wav", None, None, Some(bits),
          Some(channels), Some(rate.toInt)))
      }
      i += 8 + size.toInt + (size.toInt & 1) // chunks are word-aligned
    }
    None
  }

  private def readLe16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8)
  private def readLe32(b: Array[Byte], off: Int): Long =
    (b(off) & 0xFFL) | ((b(off + 1) & 0xFFL) << 8) |
      ((b(off + 2) & 0xFFL) << 16) | ((b(off + 3) & 0xFFL) << 24)

  /** Decoded PCM samples from the WAV data chunk (16-bit LE PCM —
    * the format [[buildWav]] writes and fmt declares). Sample decode
    * for audio needs no codec at all: RIFF's data chunk IS the PCM.
    */
  def decodeWavSamples(bytes: Array[Byte]): Option[Array[Short]] = {
    if (parseWav(bytes).isEmpty) return None
    if (readLe16(bytes, 34) != 16) return None // bits per sample
    // walk RIFF chunks from offset 12 to the data chunk
    var off = 12
    while (off + 8 <= bytes.length) {
      val id = new String(bytes, off, 4, "US-ASCII")
      val len = readLe32(bytes, off + 4)
      // validate BEFORE advancing: a hostile RIFF length would move
      // `off` backwards (negative after toInt) and loop forever
      if (len < 0 || off + 8 + len > bytes.length) return None
      if (id == "data") {
        val n = (len / 2).toInt
        val out = new Array[Short](n)
        var i = 0
        while (i < n) {
          out(i) = ((bytes(off + 8 + 2 * i) & 0xFF) |
            (bytes(off + 9 + 2 * i) << 8)).toShort
          i += 1
        }
        return Some(out)
      }
      off += 8 + len.toInt + (len.toInt & 1) // chunks are word-aligned
    }
    None
  }

  /** Dispatch on magic bytes. */
  def parse(bytes: Array[Byte]): Option[MediaMeta] =
    if (bytes.length >= 2 && (bytes(0) & 0xFF) == 0x89) parsePng(bytes)
    else if (bytes.length >= 2 && (bytes(0) & 0xFF) == 0xFF) parseJpeg(bytes)
    else if (bytes.length >= 4 && bytes(0) == 'R') parseWav(bytes)
    else None
}
