package graft

import graft.functions.MediaCodecs
import graft.operators.MediaOps

class MediaOpsSpec extends SparkSpec {

  /** Decoded APNG frames: each a full pixel plane. */
  private case class ApngFrames(width: Int, height: Int, channels: Int,
      frames: Vector[Array[Byte]])

  /** Reference full APNG decode: demux the per-frame streams, then
    * inflate + unfilter each with the still-PNG decode core.
    */
  private def decodeApngFrames(bytes: Array[Byte]): Option[ApngFrames] = {
    val meta = MediaCodecs.parsePng(bytes).getOrElse(return None)
    if (!meta.bitDepth.contains(8)) return None
    val bpp = (bytes(25) & 0xFF) match {
      case 0 => 1
      case 2 => 3
      case 6 => 4
      case _ => return None
    }
    val w = meta.width.get; val h = meta.height.get
    val streams = MediaCodecs.apngFrameStreams(bytes).getOrElse(return None)
    val planes = streams.map(z =>
      MediaCodecs.inflateUnfilter(z, w, h, bpp).getOrElse(return None))
    Some(ApngFrames(w, h, bpp, planes))
  }

  test("header parse recovers exactly what the builders wrote (property)") {
    val rnd = new scala.util.Random(7)
    (1 to 60).foreach { k =>
      val w = 1 + rnd.nextInt(300)
      val h = 1 + rnd.nextInt(200)
      val colorType = Array(0, 2, 6)(rnd.nextInt(3))
      val png = MediaCodecs.parsePng(MediaCodecs.buildPng(w, h, colorType, k)).get
      assert(png.fmt == "png" && png.width.contains(w) && png.height.contains(h)
        && png.bitDepth.contains(8)
        && png.channels.contains(Map(0 -> 1, 2 -> 3, 6 -> 4)(colorType)), s"png $w x $h")

      // dims capped now that buildJpeg really DCT-encodes every block
      // (the 16-bit extremes are covered by the targeted case below)
      val nc = if (rnd.nextBoolean()) 1 else 3
      val jw = 1 + rnd.nextInt(120); val jh = 1 + rnd.nextInt(120)
      val jpg = MediaCodecs.parseJpeg(MediaCodecs.buildJpeg(jw, jh, nc, k)).get
      assert(jpg.fmt == "jpeg" && jpg.width.contains(jw) && jpg.height.contains(jh)
        && jpg.bitDepth.contains(8) && jpg.channels.contains(nc), s"jpeg $jw x $jh")

      val rate = 4000 + rnd.nextInt(44100); val ch = 1 + rnd.nextInt(2)
      val wav = MediaCodecs.parseWav(
        MediaCodecs.buildWav(rate, ch, rnd.nextInt(500), k)).get
      assert(wav.fmt == "wav" && wav.sampleRate.contains(rate)
        && wav.channels.contains(ch) && wav.bitDepth.contains(16), s"wav $rate/$ch")
    }
  }

  test("parse rejects corrupt and foreign bytes instead of misreading") {
    assert(MediaCodecs.parse(Array.emptyByteArray).isEmpty)
    assert(MediaCodecs.parse(Array.fill(64)(0x41.toByte)).isEmpty)
    val png = MediaCodecs.buildPng(10, 10, 2, 1)
    png(14) = 'X'.toByte // break the IHDR tag
    assert(MediaCodecs.parsePng(png).isEmpty)
    val jpg = MediaCodecs.buildJpeg(10, 10, 3, 1)
    // truncate before SOF0: walker must give up, not read junk
    assert(MediaCodecs.parseJpeg(java.util.Arrays.copyOf(jpg, 8)).isEmpty)
  }

  test("feature extraction decodes real header values, distributed") {
    val media = MediaOps.syntheticMedia(spark, 40).repartition(4)
    val feats = MediaOps.extractFeatures(media)
    assert(feats.schema == MediaOps.featureSchema)
    val rows = feats.collect()
    assert(rows.length == 40)
    rows.foreach { r =>
      val f = r.getSeq[Float](r.fieldIndex("feature"))
      assert(f.length == 8)
      assert(math.abs(f.sum - 1.0f) < 1e-3, "byte-bucket histogram sums to 1")
      // every payload must parse — the synthetic files are valid
      assert(r.getString(r.fieldIndex("fmt")) != null, s"unparsed: $r")
    }
    // decoded dimensions come from the BYTES and must equal the
    // metadata columns the builder recorded
    val joined = feats.as("f")
      .join(media.select("media_id", "width", "height").as("m"), "media_id")
    val mismatched = joined.filter(
      "(m.width IS DISTINCT FROM f.width) OR (m.height IS DISTINCT FROM f.height)")
    assert(mismatched.count() == 0, mismatched.collect().mkString("\n"))
    // determinism across runs
    val again = MediaOps.extractFeatures(media).collect()
    assert(rows.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  test("png pixel decode round-trips every filter type and color type") {
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 30; ct <- Seq(0, 2, 6); filtered <- Seq(false, true)) {
      val w = 1 + rnd.nextInt(40)
      val h = 1 + rnd.nextInt(40)
      val seed = rnd.nextInt(1 << 20)
      val png = MediaCodecs.buildPng(w, h, ct, seed, filtered)
      val px = MediaCodecs.decodePngPixels(png)
        .getOrElse(fail(s"decode failed w=$w h=$h ct=$ct filtered=$filtered"))
      val bpp = Seq(1, -1, 3, -1, -1, -1, 4)(ct)
      assert(px.width == w && px.height == h && px.channels == bpp)
      // decoded plane must equal the deterministic builder formula —
      // filtered rows prove Sub/Up/Average/Paeth reversal, byte for byte
      var y = 0
      while (y < h) {
        var i = 0
        while (i < w * bpp) {
          assert(px.pixels(y * w * bpp + i) == MediaCodecs.pngPixelByte(i, y, seed),
            s"pixel ($i,$y) w=$w h=$h ct=$ct filtered=$filtered")
          i += 1
        }
        y += 1
      }
    }
  }

  test("png pixel decode handles split IDAT, rejects truncated streams") {
    val png = MediaCodecs.buildPng(16, 16, 2, seed = 5, filtered = true)
    // split the single IDAT chunk into two consecutive IDAT chunks
    def be32(v: Int) = Array((v >>> 24).toByte, (v >>> 16).toByte,
      (v >>> 8).toByte, v.toByte)
    def chunk(typ: String, data: Array[Byte]) = {
      val crc = new java.util.zip.CRC32
      val t = typ.getBytes("US-ASCII")
      crc.update(t); crc.update(data)
      be32(data.length) ++ t ++ data ++ be32(crc.getValue.toInt)
    }
    val len = ((png(33) & 0xFF) << 24) | ((png(34) & 0xFF) << 16) |
      ((png(35) & 0xFF) << 8) | (png(36) & 0xFF)
    val data = java.util.Arrays.copyOfRange(png, 41, 41 + len)
    val head = java.util.Arrays.copyOfRange(png, 0, 33)
    val tail = java.util.Arrays.copyOfRange(png, 41 + len + 4, png.length)
    val cut = data.length / 3
    val split = head ++ chunk("IDAT", data.take(cut)) ++
      chunk("IDAT", data.drop(cut)) ++ tail
    val one = MediaCodecs.decodePngPixels(png).get
    val two = MediaCodecs.decodePngPixels(split).get
    assert(java.util.Arrays.equals(one.pixels, two.pixels))
    // truncated deflate stream → None, not garbage
    val trunc = head ++ chunk("IDAT", data.take(data.length / 2)) ++ tail
    assert(MediaCodecs.decodePngPixels(trunc).isEmpty)
  }

  test("jpeg entropy decode is BIT-EXACT at the coefficient level") {
    // huffman coding is lossless: the decoder's quantized coefficient
    // blocks must equal the encoder's truth exactly — this pins the
    // whole entropy layer (bit reader, FF unstuffing, canonical table
    // reconstruction from DHT, DC prediction, run-length/EOB/ZRL)
    val rnd = new scala.util.Random(31)
    for (k <- 1 to 12; nc <- Seq(1, 3)) {
      val w = 1 + rnd.nextInt(60); val h = 1 + rnd.nextInt(60)
      val seed = rnd.nextInt(1 << 20)
      val bytes = MediaCodecs.buildJpeg(w, h, nc, seed)
      val (dw, dh, dnc, _, _, blocks) = MediaCodecs.decodeJpegCoefficients(bytes)
        .getOrElse(fail(s"no decode w=$w h=$h nc=$nc seed=$seed"))
      assert(dw == w && dh == h && dnc == nc)
      val want = MediaCodecs.jpegReferenceCoefficients(w, h, nc, seed)
      assert(blocks.length == want.length, s"block count w=$w h=$h nc=$nc")
      blocks.indices.foreach { b =>
        assert(java.util.Arrays.equals(blocks(b), want(b)),
          s"block $b w=$w h=$h nc=$nc seed=$seed")
      }
    }
  }

  test("jpeg 4:2:0 subsampling round-trips: exact coefficients, bounded pixels") {
    for (seed <- Seq(3, 19); (w, h) <- Seq((64, 48), (33, 17), (16, 16), (7, 5))) {
      val bytes = MediaCodecs.buildJpeg420(w, h, seed)
      assert(MediaCodecs.parseJpeg(bytes).exists(m =>
        m.width.contains(w) && m.height.contains(h) && m.channels.contains(3)))
      // entropy layer bit-exact, now over the 4-luma + 2-chroma MCU
      // layout (block order, per-component DC prediction, chroma
      // box-mean downsample all covered by the equality)
      val (dw, dh, dnc, samp, _, blocks) =
        MediaCodecs.decodeJpegCoefficients(bytes)
          .getOrElse(fail(s"no 420 decode w=$w h=$h"))
      assert(dw == w && dh == h && dnc == 3)
      assert(samp.toSeq == Seq((2, 2), (1, 1), (1, 1)))
      val want = MediaCodecs.jpegReferenceCoefficients420(w, h, seed)
      assert(blocks.length == want.length, s"blocks w=$w h=$h")
      blocks.indices.foreach { b =>
        assert(java.util.Arrays.equals(blocks(b), want(b)), s"block $b w=$w h=$h")
      }
      // pixels: luma against the source, chroma against the local
      // 2×2-box-mean-then-replicate model — both within DCT
      // quantization error
      val px = MediaCodecs.decodeJpegPixels(bytes).get
      assert(px.width == w && px.height == h && px.channels == 3)
      def chromaRef(x: Int, y: Int, c: Int): Int = {
        val cx = x / 2; val cy = y / 2
        var s = 0
        for (dy <- 0 until 2; dx <- 0 until 2)
          s += MediaCodecs.jpegSampleAt(math.min(cx * 2 + dx, w - 1),
            math.min(cy * 2 + dy, h - 1), c, seed)
        (s + 2) / 4
      }
      var sumY = 0L; var maxY = 0; var sumC = 0L; var maxC = 0
      for (y <- 0 until h; x <- 0 until w) {
        val ey = math.abs((px.pixels((y * w + x) * 3) & 0xFF)
          - MediaCodecs.jpegSampleAt(x, y, 0, seed))
        sumY += ey; maxY = math.max(maxY, ey)
        for (c <- 1 to 2) {
          val ec = math.abs((px.pixels((y * w + x) * 3 + c) & 0xFF)
            - chromaRef(x, y, c))
          sumC += ec; maxC = math.max(maxC, ec)
        }
      }
      assert(sumY.toDouble / (w * h) <= 6.0 && maxY <= 40,
        s"luma err mean=${sumY.toDouble / (w * h)} max=$maxY w=$w h=$h")
      assert(sumC.toDouble / (2 * w * h) <= 8.0 && maxC <= 48,
        s"chroma err mean=${sumC.toDouble / (2 * w * h)} max=$maxC w=$w h=$h")
    }
  }

  test("progressive jpeg: multi-scan decode recovers the exact coefficients") {
    // the successive-approximation + spectral-selection layers are
    // lossless end-to-end: after all six scans the decoder's blocks
    // must equal the SAME quantized truth the baseline encoder uses —
    // this pins DC first/refine, AC first (EOB runs, ZRL, Al point
    // transform) and the AC refinement walk (correction bits, sign
    // placement, EOB-run refinement of trailing coefficients)
    val rnd = new scala.util.Random(47)
    for (k <- 1 to 10; nc <- Seq(1, 3)) {
      val w = 1 + rnd.nextInt(60); val h = 1 + rnd.nextInt(60)
      val seed = rnd.nextInt(1 << 20)
      val bytes = MediaCodecs.buildJpegProgressive(w, h, nc, seed)
      // header parse sees a SOF2 frame with the right dims
      assert(MediaCodecs.parseJpeg(bytes).exists(m =>
        m.width.contains(w) && m.height.contains(h) && m.channels.contains(nc)))
      // the baseline path must refuse it (no wrong pixels), the
      // progressive path must decode it
      assert(MediaCodecs.decodeJpegCoefficients(bytes).isEmpty)
      val (dw, dh, dnc, _, _, blocks) =
        MediaCodecs.decodeJpegProgressiveCoefficients(bytes)
          .getOrElse(fail(s"no progressive decode w=$w h=$h nc=$nc seed=$seed"))
      assert(dw == w && dh == h && dnc == nc)
      val want = MediaCodecs.jpegReferenceCoefficients(w, h, nc, seed)
      assert(blocks.length == want.length, s"block count w=$w h=$h nc=$nc")
      blocks.indices.foreach { b =>
        assert(java.util.Arrays.equals(blocks(b), want(b)),
          s"block $b w=$w h=$h nc=$nc seed=$seed")
      }
    }
  }

  test("progressive jpeg pixels match the baseline decode exactly") {
    // same quantized coefficients + same IDCT ⇒ progressive pixel
    // output must be IDENTICAL to the baseline encoding's, and
    // therefore inherits its bounded-error-vs-source guarantee
    for (seed <- Seq(5, 23); nc <- Seq(1, 3); (w, h) <- Seq((64, 48), (33, 17))) {
      val prog = MediaCodecs.decodeJpegPixels(
        MediaCodecs.buildJpegProgressive(w, h, nc, seed))
        .getOrElse(fail(s"no progressive pixel decode w=$w h=$h nc=$nc"))
      val base = MediaCodecs.decodeJpegPixels(
        MediaCodecs.buildJpeg(w, h, nc, seed)).get
      assert(prog.width == w && prog.height == h && prog.channels == nc)
      assert(java.util.Arrays.equals(prog.pixels, base.pixels),
        s"pixel mismatch w=$w h=$h nc=$nc seed=$seed")
    }
  }

  test("progressive 4:2:0 jpeg: coefficients exact on the component grids") {
    // subsampled progressive: non-interleaved scans cover each
    // component's OWN block grid (T.81 A.2.2), so real-grid blocks
    // must equal the encoder's quantized truth bit-for-bit while
    // MCU-pad blocks (luma positions past ceil(compW/8)/ceil(compH/8))
    // carry exactly the interleaved DC scans' value and zero AC
    val rnd = new scala.util.Random(53)
    for (k <- 1 to 8) {
      val w = 1 + rnd.nextInt(60); val h = 1 + rnd.nextInt(60)
      val seed = rnd.nextInt(1 << 20)
      val bytes =
        MediaCodecs.buildJpegProgressive(w, h, 3, seed, subsample = true)
      assert(MediaCodecs.decodeJpegCoefficients(bytes).isEmpty)
      val (dw, dh, dnc, samp, _, blocks) =
        MediaCodecs.decodeJpegProgressiveCoefficients(bytes)
          .getOrElse(fail(s"no progressive 4:2:0 decode w=$w h=$h seed=$seed"))
      assert(dw == w && dh == h && dnc == 3)
      assert(samp.toSeq == Seq((2, 2), (1, 1), (1, 1)))
      val want = MediaCodecs.jpegReferenceCoefficients420(w, h, seed)
      assert(blocks.length == want.length, s"block count w=$w h=$h")
      val mcusX = (w + 15) / 16; val mcusY = (h + 15) / 16
      var bi = 0
      for (my <- 0 until mcusY; mx <- 0 until mcusX; c <- 0 until 3) {
        val (hc, vc) = samp(c)
        val fx = 2 / hc; val fy = 2 / vc
        val bwC = ((w + fx - 1) / fx + 7) / 8
        val bhC = ((h + fy - 1) / fy + 7) / 8
        for (by <- 0 until vc; bx <- 0 until hc) {
          if (mx * hc + bx < bwC && my * vc + by < bhC)
            assert(java.util.Arrays.equals(blocks(bi), want(bi)),
              s"real block $bi c=$c w=$w h=$h seed=$seed")
          else {
            assert(blocks(bi)(0) == want(bi)(0),
              s"pad DC block $bi c=$c w=$w h=$h seed=$seed")
            assert(blocks(bi).drop(1).forall(_ == 0),
              s"pad AC block $bi c=$c w=$w h=$h seed=$seed")
          }
          bi += 1
        }
      }
    }
  }

  test("progressive 4:2:0 pixels match the baseline 4:2:0 decode exactly") {
    // pad blocks differ from baseline (AC-zero vs coded) but the
    // pixel assembly never reads them — output must be IDENTICAL
    for (seed <- Seq(5, 23); (w, h) <- Seq((64, 48), (33, 17), (8, 8))) {
      val prog = MediaCodecs.decodeJpegPixels(
        MediaCodecs.buildJpegProgressive(w, h, 3, seed, subsample = true))
        .getOrElse(fail(s"no progressive 4:2:0 pixel decode w=$w h=$h"))
      val base = MediaCodecs.decodeJpegPixels(
        MediaCodecs.buildJpeg420(w, h, seed)).get
      assert(prog.width == w && prog.height == h && prog.channels == 3)
      assert(java.util.Arrays.equals(prog.pixels, base.pixels),
        s"pixel mismatch w=$w h=$h seed=$seed")
    }
  }

  test("jpeg pixel decode reconstructs the source within quantization error") {
    // DCT quantization is the ONLY lossy stage; on the low-slope
    // triangle-wave source the Annex K tables keep the error small.
    // The bounds are deterministic (fixed seeds) and generous vs the
    // observed error — they catch wrong-stage bugs (zigzag mixups,
    // wrong table, off-by-one in prediction), not rounding drift.
    for (seed <- Seq(1, 7, 42); nc <- Seq(1, 3); (w, h) <- Seq((64, 48), (33, 17))) {
      val px = MediaCodecs.decodeJpegPixels(MediaCodecs.buildJpeg(w, h, nc, seed))
        .getOrElse(fail(s"no pixel decode w=$w h=$h nc=$nc"))
      assert(px.width == w && px.height == h && px.channels == nc)
      assert(px.pixels.length == w * h * nc)
      var sumErr = 0L; var maxErr = 0
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          var c = 0
          while (c < nc) {
            val got = px.pixels((y * w + x) * nc + c) & 0xFF
            val want = MediaCodecs.jpegSampleAt(x, y, c, seed)
            val e = math.abs(got - want)
            sumErr += e; if (e > maxErr) maxErr = e
            c += 1
          }
          x += 1
        }
        y += 1
      }
      val mean = sumErr.toDouble / (w * h * nc)
      assert(mean <= 6.0, s"mean abs error $mean w=$w h=$h nc=$nc seed=$seed")
      assert(maxErr <= 40, s"max abs error $maxErr w=$w h=$h nc=$nc seed=$seed")
    }
  }

  test("jpeg decode handles the 16-bit dimension extremes and rejects junk") {
    // one giant-but-thin image exercises the full 16-bit SOF fields
    val wide = MediaCodecs.buildJpeg(65535, 1, 1, 3)
    val meta = MediaCodecs.parseJpeg(wide).get
    assert(meta.width.contains(65535) && meta.height.contains(1))
    val px = MediaCodecs.decodeJpegPixels(wide).get
    assert(px.width == 65535 && px.height == 1)
    // truncated scan → None, not garbage or a hang
    val jpg = MediaCodecs.buildJpeg(40, 40, 3, 5)
    assert(MediaCodecs.decodeJpegPixels(
      java.util.Arrays.copyOf(jpg, jpg.length * 2 / 3)).isEmpty)
    // progressive SOF2 → honest None from the pixel decoder (the
    // header parser still reads metadata)
    val prog = jpg.clone()
    // find the FFC0 marker and rewrite to FFC2
    val sofAt = prog.indices.dropRight(1)
      .find(i => (prog(i) & 0xFF) == 0xFF && (prog(i + 1) & 0xFF) == 0xC0).get
    prog(sofAt + 1) = 0xC2.toByte
    assert(MediaCodecs.parseJpeg(prog).exists(_.fmt == "jpeg"))
    assert(MediaCodecs.decodeJpegPixels(prog).isEmpty)
  }

  test("wav sample decode recovers the exact PCM the builder wrote") {
    val rnd = new scala.util.Random(23)
    (1 to 20).foreach { _ =>
      val sr = 8000 + rnd.nextInt(8000)
      val ch = 1 + rnd.nextInt(2)
      val n = rnd.nextInt(300)
      val seed = rnd.nextInt(1 << 20)
      val wav = MediaCodecs.buildWav(sr, ch, n, seed)
      val got = MediaCodecs.decodeWavSamples(wav).getOrElse(fail("no decode"))
      assert(got.length == n * ch)
      got.indices.foreach { s =>
        val lo = (2 * s * 131 + seed) & 0xFF
        val hi = ((2 * s + 1) * 131 + seed) & 0xFF
        assert(got(s) == ((lo | (hi << 8)).toShort), s"sample $s")
      }
    }
  }

  test("hostile RIFF chunk length terminates instead of looping") {
    val wav = MediaCodecs.buildWav(8000, 1, 10, 7)
    // splice a junk chunk declaring length -8 between fmt and data:
    // the unvalidated walk advanced off by 8 + (-8) = 0 and spun
    // forever; it must return None instead
    val head = java.util.Arrays.copyOfRange(wav, 0, 36)
    val tail = java.util.Arrays.copyOfRange(wav, 36, wav.length)
    val junk = "junk".getBytes("US-ASCII") ++
      Array[Byte](-8, -1, -1, -1) // 0xFFFFFFF8 LE
    val bad = head ++ junk ++ tail
    assert(MediaCodecs.decodeWavSamples(bad).isEmpty)
    // a hostile chunk BEFORE fmt must not hang parseWav either
    val junkFirst = java.util.Arrays.copyOfRange(wav, 0, 12) ++ junk ++
      java.util.Arrays.copyOfRange(wav, 12, wav.length)
    assert(MediaCodecs.parseWav(junkFirst).isEmpty)
  }

  test("zlib FDICT IDAT returns None instead of spinning") {
    val png = MediaCodecs.buildPng(8, 8, 2, seed = 3, filtered = false)
    def be32(v: Int) = Array((v >>> 24).toByte, (v >>> 16).toByte,
      (v >>> 8).toByte, v.toByte)
    def chunk(typ: String, data: Array[Byte]) = {
      val crc = new java.util.zip.CRC32
      val t = typ.getBytes("US-ASCII")
      crc.update(t); crc.update(data)
      be32(data.length) ++ t ++ data ++ be32(crc.getValue.toInt)
    }
    val len = ((png(33) & 0xFF) << 24) | ((png(34) & 0xFF) << 16) |
      ((png(35) & 0xFF) << 8) | (png(36) & 0xFF)
    val head = java.util.Arrays.copyOfRange(png, 0, 33)
    val tail = java.util.Arrays.copyOfRange(png, 41 + len + 4, png.length)
    // 0x78 0x20 is a valid zlib header (check % 31 == 0) with FDICT
    // set — Inflater stalls on needsDictionary, never needsInput
    val fdict = Array[Byte](0x78, 0x20, 1, 2, 3, 4)
    val bad = head ++ chunk("IDAT", fdict) ++ tail
    assert(MediaCodecs.decodePngPixels(bad).isEmpty)
  }

  test("extractFeatures pixel stats match a local decode of the same bytes") {
    val media = MediaOps.syntheticMedia(spark, 30).repartition(3)
    val feats = MediaOps.extractFeatures(media).collect()
      .map(r => r.getLong(0) -> r).toMap
    MediaOps.syntheticMedia(spark, 30).collect().foreach { m =>
      val id = m.getLong(0)
      val payload = m.getAs[Array[Byte]]("payload")
      val r = feats(id)
      def optLong(name: String): Option[Long] =
        if (r.isNullAt(r.fieldIndex(name))) None else Some(r.getLong(r.fieldIndex(name)))
      m.getString(1) match {
        case "image/png" =>
          val px = MediaCodecs.decodePngPixels(payload).get
          val want = px.pixels.map(_ & 0xFF)
          assert(optLong("px_count").contains(want.length.toLong))
          assert(optLong("px_sum").contains(want.map(_.toLong).sum))
        case "audio/wav" =>
          val ss = MediaCodecs.decodeWavSamples(payload).get
          assert(optLong("px_count").contains(ss.length.toLong))
          assert(optLong("px_sum").contains(ss.map(_.toLong).sum))
        case "image/jpeg" => // huffman + dequant + IDCT, round 6
          val px = MediaCodecs.decodeJpegPixels(payload).get
          val want = px.pixels.map(_ & 0xFF)
          assert(optLong("px_count").contains(want.length.toLong))
          assert(optLong("px_sum").contains(want.map(_.toLong).sum))
        case _ => // video/apng: stats come from frame 0 (the IDAT)
          val px = MediaCodecs.decodePngPixels(payload).get
          val f0 = decodeApngFrames(payload).get.frames(0)
          assert(java.util.Arrays.equals(px.pixels, f0))
          assert(optLong("px_count").contains(px.pixels.length.toLong))
      }
    }
  }

  test("apng round-trips every frame and demuxes to standalone stills") {
    for (ct <- Seq(0, 2, 6); n <- Seq(1, 4)) {
      val w = 20; val h = 11; val seed = 77 + ct + n
      val apng = MediaCodecs.buildApng(w, h, ct, n, seed)
      // a still-PNG reader sees frame 0
      assert(MediaCodecs.parsePng(apng).exists(_.width.contains(w)))
      assert(MediaCodecs.apngFrameCount(apng).contains(n))
      val bpp = Seq(1, -1, 3, -1, -1, -1, 4)(ct)
      val frames = decodeApngFrames(apng).get
      assert(frames.width == w && frames.height == h
        && frames.channels == bpp && frames.frames.length == n)
      for (f <- 0 until n; y <- 0 until h; i <- 0 until w * bpp)
        assert(frames.frames(f)(y * w * bpp + i) ==
          MediaCodecs.apngPixelByte(i, y, f, seed), s"f=$f y=$y i=$i")
      // each demuxed stream re-wraps as a valid standalone PNG whose
      // pixels ARE that frame
      val streams = MediaCodecs.apngFrameStreams(apng).get
      streams.zipWithIndex.foreach { case (st, f) =>
        val still = MediaCodecs.frameAsPng(apng, st)
        val px = MediaCodecs.decodePngPixels(still).get
        assert(java.util.Arrays.equals(px.pixels, frames.frames(f)), s"still $f")
      }
      // a still PNG is NOT an animation
      assert(MediaCodecs.apngFrameCount(
        MediaCodecs.buildPng(w, h, ct, seed)).isEmpty)
    }
  }

  test("frame sampling really demuxes apng animation frames") {
    val media = MediaOps.syntheticMedia(spark, 8) // ids 3, 7 are apng
    val frames = MediaOps.sampleFrames(media, 4).collect()
    assert(frames.length == 32)
    val byId = frames.groupBy(_.getLong(0))
    val src = MediaOps.syntheticMedia(spark, 8).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("payload")).toMap
    Seq(3L, 7L).foreach { id =>
      val want = decodeApngFrames(src(id)).get
      val got = byId(id).sortBy(_.getInt(2))
      assert(got.length == 4)
      got.foreach { r =>
        val idx = r.getInt(2)
        val fi = idx * want.frames.length / 4
        val px = MediaCodecs.decodePngPixels(r.getAs[Array[Byte]]("frame")).get
        assert(java.util.Arrays.equals(px.pixels, want.frames(fi)),
          s"media $id sample $idx (frame $fi)")
      }
    }
  }

  test("frame sampling explodes to n rows per media") {
    val media = MediaOps.syntheticMedia(spark, 6)
    val frames = MediaOps.sampleFrames(media, 4)
    assert(frames.count() == 24)
    assert(frames.columns.contains("frame_idx") && frames.columns.contains("frame"))
  }
}
