package graft.multimodal

import graft.etl.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("binary media pipeline: schema, batching, deterministic features") {
    val media = Multimodal.syntheticMedia(spark, sf)
    val feats = Multimodal.extractFeatures(media)
    val df = feats.toDF()
    assert(df.schema("byte_histogram").dataType.typeName == "array")
    assert(df.schema("content_hash").dataType.typeName == "long")

    val n = media.count()
    assert(feats.count() == n) // one feature row per media record

    // histogram is a distribution (sums to ~1) for every record
    val badHist = df.filter(
      abs(expr("aggregate(byte_histogram, 0D, (a, x) -> a + x)") - 1.0) > 1e-9).count()
    assert(badHist == 0)

    // deterministic across runs
    val h1 = feats.select("media_id", "content_hash").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val h2 = Multimodal.extractFeatures(Multimodal.syntheticMedia(spark, sf))
      .select("media_id", "content_hash").collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(h1.toSeq == h2.toSeq)

    // modality semantics of the stub decode
    val img = df.filter(col("kind") === "image")
    assert(img.filter(col("duration_ms") =!= 0).count() == 0)
    assert(img.filter(col("width") === 0).count() == 0)
    val audio = df.filter(col("kind") === "audio")
    assert(audio.filter(col("width") =!= 0).count() == 0)
  }

  test("feature summary groups per (modality, container)") {
    val s = Multimodal.featureSummary(spark, sf)
    val rows = s.collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows == Seq(("audio", "wav"), ("image", "bmp"), ("image", "gif"),
      ("image", "jpeg"), ("image", "png"), ("video", "mp4"), ("video", "unknown")))
    // pixel decode is REAL exactly for the decodable containers, and
    // every built container is sniffed (only the raw-byte video rows
    // fall to the pseudo path)
    val byFormat = s.collect().map(r =>
      r.getString(1) -> (r.getLong(r.fieldIndex("n_pixels_real")),
        r.getLong(r.fieldIndex("n_sniffed")),
        r.getLong(r.fieldIndex("n_media")))).toMap
    for (f <- Seq("bmp", "png", "jpeg", "gif")) {
      val (preal, sniffed, n) = byFormat(f)
      assert(preal == n && sniffed == n && n > 0, s"$f: $preal/$sniffed/$n")
    }
    for (f <- Seq("wav", "mp4")) {
      val (preal, sniffed, n) = byFormat(f)
      assert(preal == 0 && sniffed == n && n > 0, s"$f: $preal/$sniffed/$n")
    }
    assert(byFormat("unknown")._1 == 0 && byFormat("unknown")._2 == 0)
  }

  test("MediaCodec parses real container headers (PNG/JPEG/GIF/BMP/WAV)") {
    import MediaCodec._
    // PNG: signature + IHDR 640×480
    val png = Array[Int](0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A,
      0, 0, 0, 13, 'I', 'H', 'D', 'R',
      0, 0, 2, 0x80, 0, 0, 1, 0xE0, 8, 6, 0, 0, 0).map(_.toByte)
    assert(sniffImage(png).contains(ImageInfo("png", 640, 480)))
    // JPEG: SOI, APP0 (16 bytes), SOF0 with height 333 width 444
    val jpg = (Array[Int](0xFF, 0xD8,
      0xFF, 0xE0, 0x00, 0x10) ++ Array.fill(14)(0) ++
      Array[Int](0xFF, 0xC0, 0x00, 0x11, 8, 0x01, 0x4D, 0x01, 0xBC, 3) ++
      Array.fill(10)(0)).map(_.toByte)
    assert(sniffImage(jpg).contains(ImageInfo("jpeg", 444, 333)))
    // GIF 89a 320×200
    val gif = ("GIF89a".getBytes("US-ASCII") ++
      Array[Int](0x40, 0x01, 0xC8, 0x00, 0, 0, 0, 0).map(_.toByte))
    assert(sniffImage(gif).contains(ImageInfo("gif", 320, 200)))
    // builders round-trip through the sniffers
    val bmp = buildBmp(31, 17, "payload".getBytes)
    assert(sniffImage(bmp).contains(ImageInfo("bmp", 31, 17)))
    val wav = buildWav(8000, 4000, "audio".getBytes)
    assert(sniffWav(wav).contains(AudioInfo("wav", 500, 8000, 1))) // 4000/8000 s
    // non-media bytes sniff as nothing
    assert(sniffImage("just text".getBytes).isEmpty)
    assert(sniffWav("just text".getBytes).isEmpty)
  }

  test("extracted features carry REAL header dimensions and durations") {
    val df = Multimodal.extractFeatures(Multimodal.syntheticMedia(spark, sf)).toDF()
    // every image record: dims match the deterministic construction
    val imgs = df.filter(col("kind") === "image")
      .select("media_id", "format", "width", "height").collect()
    assert(imgs.nonEmpty)
    imgs.foreach { r =>
      val id = r.getLong(0)
      val wantFormat = (id / 3) % 4 match {
        case 0 => "png"; case 1 => "bmp"; case 2 => "jpeg"; case _ => "gif"
      }
      assert(r.getString(1) == wantFormat, s"id $id format")
      assert(r.getInt(2) == 16 + (id % 32).toInt, s"id $id width")
      assert(r.getInt(3) == 12 + (id % 24).toInt, s"id $id height")
    }
    // every audio record: duration = nSamples / 8000 Hz
    val auds = df.filter(col("kind") === "audio")
      .select("media_id", "format", "duration_ms").collect()
    assert(auds.nonEmpty)
    auds.foreach { r =>
      val id = r.getLong(0)
      val nSamples = 2000 + (id % 6000).toInt * 8
      assert(r.getString(1) == "wav")
      assert(r.getInt(2) == (nSamples.toLong * 1000 / 8000).toInt, s"id $id duration")
    }
    // video: MP4 records ((id/3) even) carry REAL mvhd duration and
    // tkhd dims recomputed from the construction formulas; raw-byte
    // records stay on the declared pseudo path
    val vids = df.filter(col("kind") === "video")
      .select("media_id", "format", "width", "height", "duration_ms").collect()
    assert(vids.nonEmpty)
    vids.foreach { r =>
      val id = r.getLong(0)
      if ((id / 3) % 2 == 0) {
        assert(r.getString(1) == "mp4", s"id $id format")
        assert(r.getInt(2) == 160 + (id % 8).toInt * 16, s"id $id width")
        assert(r.getInt(3) == 96 + (id % 6).toInt * 16, s"id $id height")
        assert(r.getInt(4) == 3000 + (id % 9000).toInt, s"id $id duration")
      } else assert(r.getString(1) == "unknown", s"id $id pseudo path")
    }
  }

  test("MP4 sniffing parses an INDEPENDENTLY written container (v1 mvhd, free box, trak-first)") {
    // hand-rolled writer, deliberately different from buildMp4: moov
    // children in trak-then-mvhd order, a free box padding the top
    // level, and a VERSION 1 mvhd (64-bit times, timescale 90000)
    def be32(v: Int): Array[Byte] =
      Array(((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte, ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    def box(typ: String, body: Array[Byte]): Array[Byte] =
      be32(8 + body.length) ++ typ.getBytes("US-ASCII") ++ body
    val tkhdBody = new Array[Byte](96) // version 1 body
    tkhdBody(0) = 1
    System.arraycopy(be32(1280 << 16), 0, tkhdBody, 88, 4)
    System.arraycopy(be32(720 << 16), 0, tkhdBody, 92, 4)
    val mvhdBody = new Array[Byte](112) // version 1 body
    mvhdBody(0) = 1
    System.arraycopy(be32(90000), 0, mvhdBody, 20, 4) // timescale
    // duration = 90000 * 7.5 s = 675000 ticks (64-bit: high word 0)
    System.arraycopy(be32(0), 0, mvhdBody, 24, 4)
    System.arraycopy(be32(675000), 0, mvhdBody, 28, 4)
    val mp4 = box("ftyp", "isom".getBytes ++ be32(512) ++ "mp42".getBytes) ++
      box("free", new Array[Byte](13)) ++
      box("moov", box("trak", box("tkhd", tkhdBody)) ++ box("mvhd", mvhdBody)) ++
      box("mdat", Array[Byte](1, 2, 3))
    val info = MediaCodec.sniffMp4(mp4)
    assert(info.contains(MediaCodec.VideoInfo("mp4", 7500, 1280, 720)))
    // non-MP4 bytes (no leading ftyp) must not sniff
    assert(MediaCodec.sniffMp4("this is not an mp4 file at all....".getBytes).isEmpty)
    assert(MediaCodec.sniffMp4(box("moov", mvhdBody)).isEmpty)
  }

  test("buildMp4 round-trips through sniffMp4 with the closed-form size") {
    val b = MediaCodec.buildMp4(4321, 320, 240, 777, "payload".getBytes)
    assert(b.length == 244 + 777)
    assert(MediaCodec.sniffMp4(b).contains(MediaCodec.VideoInfo("mp4", 4321, 320, 240)))
  }

  // --- pixel-level decode (real PNG/BMP decoders, pure JDK) ---

  /** Independent chunk writer so the decoder isn't tested against its
    * own builder's framing. */
  private def chunk(typ: String, body: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(java.nio.ByteBuffer.allocate(4).putInt(body.length).array())
    out.write(typ.getBytes("US-ASCII"))
    out.write(body)
    val crc = new java.util.zip.CRC32()
    crc.update(typ.getBytes("US-ASCII")); crc.update(body)
    out.write(java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array())
    out.toByteArray
  }

  private def deflate(raw: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(raw); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end(); out.toByteArray
  }

  private def pngFile(w: Int, h: Int, colorType: Int, plte: Option[Array[Byte]],
                      scanlines: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte))
    out.write(chunk("IHDR", java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h).put(8.toByte).put(colorType.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array()))
    plte.foreach(p => out.write(chunk("PLTE", p)))
    out.write(chunk("IDAT", deflate(scanlines)))
    out.write(chunk("IEND", Array.emptyByteArray))
    out.toByteArray
  }

  test("PNG pixel decode: round-trip through deflate + all five filters") {
    import MediaCodec._
    // height 7 → builder's filter cycle 0,1,2,3,4,0,1 — every
    // unfilter branch runs; expectation recomputed from the
    // construction formula, not from the decoder
    val payload = "The quick brown fox jumps over the lazy dog 0123456789".getBytes
    val (w, h) = (19, 7)
    val img = decodePngPixels(buildPng(w, h, payload))
      .getOrElse(fail("png did not decode"))
    assert(img.width == w && img.height == h)
    val expected = Array.tabulate(w * h * 3)(i => payload(i % payload.length) & 0xFF)
    assert(img.rgb.map(_ & 0xFF).toSeq == expected.toSeq)
  }

  test("PNG pixel decode: grayscale, palette, and RGBA color types") {
    import MediaCodec._
    // gray 2×2 (type 0): values 10,20 / 30,40 → replicated to RGB
    val gray = pngFile(2, 2, 0, None,
      Array[Byte](0, 10, 20, 0, 30, 40))
    assert(decodePngPixels(gray).map(_.rgb.map(_ & 0xFF).toSeq).contains(
      Seq(10, 10, 10, 20, 20, 20, 30, 30, 30, 40, 40, 40)))
    // palette 2×1 (type 3): PLTE [(255,0,0),(0,0,255)], indices 1,0
    val pal = pngFile(2, 1, 3,
      Some(Array[Byte](255.toByte, 0, 0, 0, 0, 255.toByte)),
      Array[Byte](0, 1, 0))
    assert(decodePngPixels(pal).map(_.rgb.map(_ & 0xFF).toSeq).contains(
      Seq(0, 0, 255, 255, 0, 0)))
    // RGBA 1×2 (type 6): alpha dropped
    val rgba = pngFile(1, 2, 6, None,
      Array[Byte](0, 1, 2, 3, 99.toByte, 0, 4, 5, 6, 7))
    assert(decodePngPixels(rgba).map(_.rgb.map(_ & 0xFF).toSeq).contains(
      Seq(1, 2, 3, 4, 5, 6)))
    // unsupported (16-bit depth) falls back to None, not garbage
    val deep = pngFile(1, 1, 2, None, Array[Byte](0, 0, 1, 0, 2, 0, 3))
    val patched = deep.clone(); patched(24) = 16.toByte // bit depth byte
    assert(decodePngPixels(patched).isEmpty)
  }

  test("BMP pixel decode: bottom-up BGR rows with padding") {
    import MediaCodec._
    val payload = Array.tabulate(97)(i => (i * 7 + 3).toByte)
    val (w, h) = (5, 4) // rowBytes 16 ≠ 15 → padding exercised
    val img = decodeBmpPixels(buildBmp(w, h, payload))
      .getOrElse(fail("bmp did not decode"))
    assert(img.width == w && img.height == h)
    val rowBytes = (w * 3 + 3) & ~3
    // builder writes payload cyclically over the padded file rows,
    // bottom-up; recompute the expected top-down RGB independently
    val expected = for {
      imgY <- 0 until h; x <- 0 until w; ch <- 0 until 3
    } yield {
      val fileY = h - 1 - imgY
      val srcIdx = fileY * rowBytes + x * 3 + (2 - ch) // BGR → RGB
      payload(srcIdx % payload.length) & 0xFF
    }
    assert(img.rgb.map(_ & 0xFF).toSeq == expected)
  }

  test("GIF pixel decode: LZW round-trip with clear codes, grayscale palette") {
    import MediaCodec._
    val payload = "lorem ipsum dolor sit amet, consectetur adipiscing elit".getBytes
    val (w, h) = (23, 17) // 391 pixels → crosses a clear-code boundary
    val img = decodeGifPixels(buildGif(w, h, payload))
      .getOrElse(fail("gif did not decode"))
    assert(img.width == w && img.height == h)
    // grayscale palette: index i → (i, i, i)
    val expected = (0 until w * h).flatMap { k =>
      val v = payload(k % payload.length) & 0xFF
      Seq(v, v, v)
    }
    assert(img.rgb.map(_ & 0xFF).toSeq == expected)
    // sniffer + feature path agree
    assert(sniffImage(buildGif(w, h, payload)).contains(ImageInfo("gif", w, h)))
  }

  test("GIF pixel decode: KwKwK (code == next) LZW case") {
    import MediaCodec._
    // hand-built 3×1 GIF, min code size 2: codes [clear=4, 0, 6, eoi=5]
    // — 6 == next exercises the string(prev)+first(prev) special case;
    // expected pixels: 0, 0, 0 (palette entry 0 = black)
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    out.write(Array[Int](3, 0, 1, 0, 0xF1, 0, 0).map(_.toByte)) // LSD: 3×1, GCT 4 entries
    out.write(Array[Int](10, 10, 10, 60, 60, 60, 110, 110, 110, 160, 160, 160).map(_.toByte))
    out.write(Array[Int](0x2C, 0, 0, 0, 0, 3, 0, 1, 0, 0).map(_.toByte)) // descriptor
    // min code 2; 3-bit codes 4,0,6,5 packed LSB-first = 0x84, 0x0B
    out.write(Array[Int](2, 2, 0x84, 0x0B, 0, 0x3B).map(_.toByte))
    val img = decodeGifPixels(out.toByteArray).getOrElse(fail("kwkwk gif did not decode"))
    assert(img.width == 3 && img.height == 1)
    assert(img.rgb.map(_ & 0xFF).toSeq == Seq(10, 10, 10, 10, 10, 10, 10, 10, 10))
  }

  test("image records carry real mean-RGB/luma for png, bmp, and jpeg") {
    import spark.implicits._
    val df = Multimodal.extractFeatures(Multimodal.syntheticMedia(spark, sf)).toDF()
    val imgs = df.filter(col("kind") === "image")
      .select("media_id", "format", "pixels_real", "mean_r", "mean_g", "mean_b", "mean_luma")
      .collect()
    assert(imgs.nonEmpty)
    imgs.foreach { r =>
      assert(r.getBoolean(2), s"id ${r.getLong(0)} (${r.getString(1)}) not pixel-decoded")
      val (mr, mg, mb, ml) = (r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))
      assert(mr >= 0 && mr <= 255 && mg >= 0 && mg <= 255 && mb >= 0 && mb <= 255)
      assert(math.abs(ml - (0.299 * mr + 0.587 * mg + 0.114 * mb)) < 1e-9)
      assert(ml > 0, "text-derived pixels cannot be all black")
    }
    // independent value check for one PNG record: recompute the mean
    // from the construction formula (payload = utf-8 text, cyclic)
    val one = Multimodal.syntheticMedia(spark, sf)
      .filter(m => m.kind == "image" && (m.media_id / 3) % 3 == 0)
      .head()
    val doc = graft.Tables.load(spark, sf, "documents")
      .filter(col("doc_id") === one.media_id).select("text").as[String].head()
    val payload = doc.getBytes("UTF-8")
    val (w, h) = (16 + (one.media_id % 32).toInt, 12 + (one.media_id % 24).toInt)
    val n = w * h
    val mean = Array(0, 1, 2).map(ch =>
      (0 until n).map(k => payload((k * 3 + ch) % payload.length) & 0xFF).sum.toDouble / n)
    val feat = Multimodal.decodeRecord(one)
    assert(feat.format == "png" && feat.pixels_real)
    assert(math.abs(feat.mean_r - mean(0)) < 1e-9)
    assert(math.abs(feat.mean_g - mean(1)) < 1e-9)
    assert(math.abs(feat.mean_b - mean(2)) < 1e-9)
  }

  test("JPEG decode: block-constant fixture reconstructs every pixel exactly") {
    // buildJpeg emits DC-only blocks with flat Q=1 tables, so the
    // decode must reproduce each block's (rounded) Y/Cb/Cr EXACTLY;
    // the expectation below recomputes the whole forward+inverse
    // path independently of the codec
    val colors = (bx: Int, by: Int) => ((bx * 40 + by * 3) % 256, (200 - bx * 9 + 256) % 256, (by * 55 + 7) % 256)
    val (w, h) = (27, 19) // non-multiples of 8: exercises the crop
    val img = MediaCodec.decodeJpegPixels(MediaCodec.buildJpeg(w, h, colors)).get
    assert(img.width == w && img.height == h)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = colors(x / 8, y / 8)
      val yy = math.round(0.299 * r + 0.587 * g + 0.114 * b).toInt.min(255).max(0)
      val cb = math.round(128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b).toInt.min(255).max(0)
      val cr = math.round(128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b).toInt.min(255).max(0)
      def cl(d: Double) = math.round(d).toInt.min(255).max(0)
      val er = cl(yy + 1.402 * (cr - 128))
      val eg = cl(yy - 0.344136 * (cb - 128) - 0.714136 * (cr - 128))
      val eb = cl(yy + 1.772 * (cb - 128))
      val o = (y * w + x) * 3
      assert((img.rgb(o) & 0xFF, img.rgb(o + 1) & 0xFF, img.rgb(o + 2) & 0xFF) == ((er, eg, eb)),
        s"pixel ($x,$y)")
    }
  }

  test("Progressive JPEG decode: five-scan SOF2 fixture matches baseline pixel-for-pixel") {
    // same block-constant contract as buildJpeg, spread over DC-first
    // (Al=1) + per-component AC-first EOB-run scans + DC refinement;
    // the accumulated coefficients must equal the baseline's exactly,
    // so the decoded RGB must be bit-identical
    val colors = (bx: Int, by: Int) =>
      ((bx * 40 + by * 3) % 256, (200 - bx * 9 + 256) % 256, (by * 55 + 7) % 256)
    for ((w, h) <- Seq((27, 19), (8, 8), (48, 40), (129, 17))) {
      val base = MediaCodec.decodeJpegPixels(MediaCodec.buildJpeg(w, h, colors)).get
      val prog = MediaCodec.decodeJpegPixels(MediaCodec.buildProgressiveJpeg(w, h, colors)).get
      assert(prog.width == w && prog.height == h, s"dims ${w}x$h")
      assert(java.util.Arrays.equals(prog.rgb, base.rgb), s"pixels ${w}x$h")
    }
  }

  test("JPEG decode: AC coefficients, 4:2:0 subsampling, and restart markers") {
    // independently written single-component JPEG: one 8x8 block with
    // a known DC + one AC coefficient, checked against a from-scratch
    // float IDCT
    def be16(v: Int) = Array((v >> 8).toByte, (v & 0xFF).toByte)
    def seg(m: Int, body: Array[Byte]) =
      Array(0xFF.toByte, m.toByte) ++ be16(body.length + 2) ++ body
    val dqt = seg(0xDB, Array[Byte](0) ++ Array.fill[Byte](64)(2)) // flat Q=2
    val sof = seg(0xC0, Array[Byte](8) ++ be16(8) ++ be16(8) ++
      Array[Byte](1, 1, 0x11, 0))
    // DC table: cats 0..11 at 4 bits; AC: EOB and 0x01 (run 0, size 1)
    val dhtDc = seg(0xC4, Array[Byte](0x00) ++
      Array[Byte](0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0) ++
      (0 to 11).map(_.toByte).toArray)
    val dhtAc = seg(0xC4, Array[Byte](0x10) ++
      Array[Byte](0, 2, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0) ++
      Array[Byte](0x00, 0x01)) // EOB='00', (0,1)='01'
    val sos = seg(0xDA, Array[Byte](1, 1, 0x00, 0, 63, 0))
    // scan bits: DC cat 5 ('0101') value 24 ('11000'); AC (0,1)='01'
    // value 1 ('1'); EOB '00' → 0101_1100_0011_00 + pad 11
    val scan = Array(Integer.parseInt("01011100", 2).toByte,
      Integer.parseInt("00110011", 2).toByte)
    val bytes = Array(0xFF.toByte, 0xD8.toByte) ++ dqt ++ sof ++ dhtDc ++ dhtAc ++
      sos ++ scan ++ Array(0xFF.toByte, 0xD9.toByte)
    val img = MediaCodec.decodeJpegPixels(bytes).get
    // expected: IDCT of F(0,0)=24*2=48, F(u=1,v=0)=1*2=2 (zigzag 1)
    for (y <- 0 until 8; x <- 0 until 8) {
      def c(u: Int) = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
      def cos(p: Int, f: Int) = math.cos((2 * p + 1) * f * math.Pi / 16.0)
      val acc = c(0) * c(0) * 48.0 + c(1) * c(0) * 2.0 * cos(x, 1)
      val want = math.round(acc / 4.0 + 128.0).toInt.min(255).max(0)
      assert((img.rgb((y * 8 + x) * 3) & 0xFF) == want, s"pixel ($x,$y)")
    }

    // 4:2:0 with restart markers: hand-assembled two-MCU gray image
    // (Y 2x2 blocks + Cb + Cr per MCU), DRI=1 → RST0 between MCUs
    val sof420 = seg(0xC0, Array[Byte](8) ++ be16(16) ++ be16(32) ++
      Array[Byte](3, 1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0))
    val dqt1 = seg(0xDB, Array[Byte](0) ++ Array.fill[Byte](64)(1))
    val dri = seg(0xDD, be16(1))
    val sos3 = seg(0xDA, Array[Byte](3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0))
    // per MCU: 6 blocks (4 Y + Cb + Cr), all DC diff 0 + EOB =
    // '0000'+'00' ×6 = 36 bits → bytes 00 00 00 00 + pad '1111'
    val mcuBits = Array[Byte](0, 0, 0, 0, 0x0F.toByte)
    val bytes420 = Array(0xFF.toByte, 0xD8.toByte) ++ dqt1 ++ sof420 ++ dhtDc ++
      dhtAc ++ dri ++ sos3 ++
      mcuBits ++ Array(0xFF.toByte, 0xD0.toByte) ++ mcuBits ++
      Array(0xFF.toByte, 0xD9.toByte)
    val img420 = MediaCodec.decodeJpegPixels(bytes420).get
    assert(img420.width == 32 && img420.height == 16)
    // all DC=0 → Y=128, Cb=Cr=128 → neutral gray 128 everywhere
    assert(img420.rgb.forall(b => (b & 0xFF) == 128))
  }

  test("WAV PCM decode: 8-bit samples centered, features match hand computation") {
    val payload = Array[Byte](0, 127.toByte, 128.toByte, 255.toByte, 100, 200.toByte)
    val wav = MediaCodec.buildWav(8000, 6, payload)
    val pcm = MediaCodec.decodeWavSamples(wav).get
    assert(pcm.sampleRate == 8000 && pcm.channels == 1 && pcm.bitsPerSample == 8)
    // centered: unsigned byte − 128
    assert(pcm.samples.toSeq == Seq(-128, -1, 0, 127, -28, 72))
    // sign-change crossings: (-128,-1) no, (-1,0) yes, (0,127) no,
    // (127,-28) yes, (-28,72) yes
    val zc = pcm.samples.sliding(2).count(p => (p(0) < 0) != (p(1) < 0))
    assert(zc == 3)
  }

  test("WAV PCM decode: 16-bit little-endian signed, stereo interleave") {
    // hand-build a 16-bit stereo RIFF: samples L=-2, R=300, L=32767, R=-32768
    val bb = java.nio.ByteBuffer.allocate(44 + 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(36 + 8).put("WAVE".getBytes)
    bb.put("fmt ".getBytes).putInt(16).putShort(1).putShort(2)
      .putInt(44100).putInt(44100 * 4).putShort(4).putShort(16)
    bb.put("data".getBytes).putInt(8)
    Seq(-2, 300, 32767, -32768).foreach(s => bb.putShort(s.toShort))
    val pcm = MediaCodec.decodeWavSamples(bb.array()).get
    assert(pcm.bitsPerSample == 16 && pcm.channels == 2)
    assert(pcm.samples.toSeq == Seq(-2, 300, 32767, -32768))
    // float PCM (format 3) must be rejected, not misread
    val bad = bb.array().clone()
    bad(20) = 3 // fmt code LE16 at offset 20
    assert(MediaCodec.decodeWavSamples(bad).isEmpty)
  }

  test("m03 audio summary is integer-exact and every synthetic WAV decodes") {
    val out = graft.SparkEntry.queries("m03_audio_features")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(r.fieldIndex("n_audio")) == r.getLong(r.fieldIndex("n_pcm_real")))
      val meanAbs = r.getDouble(r.fieldIndex("mean_abs"))
      val peak = r.getLong(r.fieldIndex("peak"))
      assert(meanAbs > 0 && meanAbs <= peak.toDouble)
    }
  }

  test("JPEG decode: progressive and truncated streams fall back to None") {
    def be16(v: Int) = Array((v >> 8).toByte, (v & 0xFF).toByte)
    def seg(m: Int, body: Array[Byte]) =
      Array(0xFF.toByte, m.toByte) ++ be16(body.length + 2) ++ body
    // SOF2 (progressive) must be rejected, not misdecoded
    val prog = Array(0xFF.toByte, 0xD8.toByte) ++
      seg(0xC2, Array[Byte](8) ++ be16(8) ++ be16(8) ++ Array[Byte](1, 1, 0x11, 0))
    assert(MediaCodec.decodeJpegPixels(prog).isEmpty)
    // truncated entropy stream must not throw out of the decoder
    val ok = MediaCodec.buildJpeg(16, 16, (_, _) => (10, 20, 30))
    assert(MediaCodec.decodeJpegPixels(ok.take(ok.length - 6)).isEmpty)
  }

  test("frame sampling reads real mdat bytes at the computed offsets") {
    import spark.implicits._
    val payload = "abcdefghij".getBytes("UTF-8")
    val mp4 = MediaCodec.buildMp4(8000, 160, 96, 25, payload)
    // mdat payload = payload cycled over 25 bytes
    val (off, len) = MediaCodec.mdatRange(mp4).get
    assert(len == 25)
    val ds = spark.createDataset(Seq(Multimodal.MediaRecord(7L, "video", mp4, "s")))
    val rows = Multimodal.frameSamples(ds, nFrames = 4).collect().sortBy(_.frame_idx)
    assert(rows.length == 4)
    assert(rows.map(_.ts_ms).toSeq == Seq(0L, 2000L, 4000L, 6000L))
    assert(rows.map(_.byte_off).toSeq == Seq(0L, 6L, 12L, 18L))
    // byte at offset o is payload(o % 10) — real container read
    assert(rows.map(_.sample_byte).toSeq ==
      Seq(0, 6, 12, 18).map(o => payload(o % 10).toLong))
    // a raw-bytes (non-container) video yields no samples, not a crash
    val raw = spark.createDataset(Seq(Multimodal.MediaRecord(8L, "video", payload, "s")))
    assert(Multimodal.frameSamples(raw, 4).collect().isEmpty)
  }

  test("MJPEG-in-MP4: sample tables locate every frame, pixels decode exactly") {
    import spark.implicits._
    val frames = (0 until 3).map(fi =>
      MediaCodec.buildJpeg(24, 16, (bx, by) => ((fi * 50 + bx * 9) % 256, (by * 40) % 256, 77)))
    val mp4 = MediaCodec.buildMjpegMp4(24, 16, 120, frames)

    // demux via the real stsd/stts/stsz/stco walk
    val samples = MediaCodec.mjpegSamples(mp4).get
    assert(samples.length == 3)
    assert(samples.map(_.tsMs) == Seq(0L, 120L, 240L))
    assert(samples.map(_.size) == frames.map(_.length))
    // each extracted sample decodes to EXACTLY the pixels of the
    // directly-decoded source JPEG
    samples.zipWithIndex.foreach { case (s, fi) =>
      val cut = java.util.Arrays.copyOfRange(mp4, s.offset, s.offset + s.size)
      val got = MediaCodec.decodeJpegPixels(cut).get
      val want = MediaCodec.decodeJpegPixels(frames(fi)).get
      assert(got.width == 24 && got.height == 16)
      assert(java.util.Arrays.equals(got.rgb, want.rgb), s"frame $fi pixels differ")
    }
    // the container also still sniffs as a plain MP4 (mvhd/tkhd real)
    val info = MediaCodec.sniffMp4(mp4).get
    assert(info.durationMs == 360 && info.width == 24 && info.height == 16)

    // corrupt table / non-container bytes: no samples, no crash
    assert(MediaCodec.mjpegSamples("not an mp4".getBytes).isEmpty)
    val ds = spark.createDataset(Seq(Multimodal.MediaRecord(1L, "video", mp4, "s")))
    val px = Multimodal.framePixels(ds).collect().sortBy(_.frame_idx)
    assert(px.length == 3 && px.forall(_.pixels_real))
    assert(px.forall(_.n_pixels == 24L * 16))
  }

  test("m07 frame-pixel summary: every MJPEG frame decodes for real") {
    val rows = Multimodal.framePixelSummary(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // n_real == n_frames: no frame fell back
      assert(r.getLong(2) == r.getLong(3), s"fallback frames in $r")
      assert(r.getLong(5) > 0) // n_pixels
    }
    // frame_idx 0..2 exist for every source (every video has ≥3 frames)
    val idx = rows.map(_.getLong(1)).distinct.sorted
    assert(idx.take(3).toSeq == Seq(0L, 1L, 2L))
  }

  test("m05 pixel stats cover all four decoders with consistent totals") {
    val rows = Multimodal.pixelStatSummary(spark, sf).collect()
    val formats = rows.map(_.getString(1)).distinct.sorted
    assert(formats.toSeq == Seq("bmp", "gif", "jpeg", "png"), s"got ${formats.toSeq}")
    rows.foreach { r =>
      val (n, np, sl) = (r.getLong(2), r.getLong(3), r.getLong(7))
      assert(n > 0 && np > 0 && sl > 0)
      // integer luma is bounded by the channel sums it derives from
      assert(sl <= ((77L * r.getLong(4) + 150L * r.getLong(5) + 29L * r.getLong(6)) >> 8))
    }
    // pixel totals must equal the construction dims Σ w·h per format
    import spark.implicits._
    val expect = graft.Tables.load(spark, sf, "documents").select("doc_id").as[Long]
      .collect().filter(_ % 3 == 0)
      .groupBy(id => (id / 3) % 4 match {
        case 0 => "png"; case 1 => "bmp"; case 2 => "jpeg"; case _ => "gif" })
      .view.mapValues(_.map(id => (16 + id % 32) * (12 + id % 24)).sum).toMap
    val got = rows.groupBy(_.getString(1)).view
      .mapValues(_.map(_.getLong(3)).sum).toMap
    assert(got == expect, s"got $got expect $expect")
  }
}
