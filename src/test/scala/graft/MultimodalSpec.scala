package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ext.Multimodal

class MultimodalSpec extends AnyFunSuite with SparkTestSupport {

  private def media = {
    val s = spark
    import s.implicits._
    Multimodal.mediaFromDocuments(
      Seq((1L, "hello world"), (2L, "x" * 2000)).toDF("doc_id", "text"))
  }

  test("decode: binary → typed metadata via the stubbed decoder") {
    val metas = Multimodal.decode(spark, media).collect()
      .map(m => m.media_id -> m).toMap
    assert(metas(1L).n_bytes == 11L)
    val (w, h, c) = Multimodal.decodeDims(11L)
    assert(metas(1L).width == w && metas(1L).height == h && metas(1L).channels == c)
    assert(metas(2L).n_bytes == 2000L)
  }

  test("decodeMeta expression fast-path ≡ partition-batched decode") {
    val viaExpr = Multimodal.decodeMeta(media).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getInt(3), r.getInt(4), r.getInt(5))).toSet
    val viaBatch = Multimodal.decode(spark, media).collect()
      .map(m => (m.media_id, m.kind, m.n_bytes, m.width, m.height,
        m.channels)).toSet
    assert(viaExpr == viaBatch)
  }

  // A REAL 69-byte PNG file (5×3, 8-bit RGBA, one zlib-compressed IDAT):
  // signature + IHDR + IDAT + IEND, CRCs valid.
  private val realPng: Array[Byte] = Array(
    0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A, 0x00, 0x00, 0x00, 0x0D,
    0x49, 0x48, 0x44, 0x52, 0x00, 0x00, 0x00, 0x05, 0x00, 0x00, 0x00, 0x03,
    0x08, 0x06, 0x00, 0x00, 0x00, 0x5B, 0x36, 0xC5, 0xF8, 0x00, 0x00, 0x00,
    0x0C, 0x49, 0x44, 0x41, 0x54, 0x78, 0x9C, 0x63, 0x60, 0xA0, 0x08, 0x00,
    0x00, 0x00, 0x3F, 0x00, 0x01, 0x1C, 0xD6, 0x77, 0x91, 0x00, 0x00, 0x00,
    0x00, 0x49, 0x45, 0x4E, 0x44, 0xAE, 0x42, 0x60, 0x82).map(_.toByte)

  // A JPEG header stream: SOI, APP0(JFIF), DQT (skipped segment), then the
  // SOF0 frame header carrying height=7, width=11, 3 components.
  private val realJpegHeader: Array[Byte] = (Array(
    0xFF, 0xD8,
    0xFF, 0xE0, 0x00, 0x10) ++ "JFIF".getBytes.map(_.toInt) ++ Array(
    0x00, 0x01, 0x01, 0x00, 0x00, 0x01, 0x00, 0x01, 0x00, 0x00,
    0xFF, 0xDB, 0x00, 0x43, 0x00) ++ Array.fill(64)(0x10) ++ Array(
    0xFF, 0xC0, 0x00, 0x11, 0x08, 0x00, 0x07, 0x00, 0x0B, 0x03,
    0x01, 0x22, 0x00, 0x02, 0x11, 0x01, 0x03, 0x11, 0x01,
    0xFF, 0xD9)).map(_.toByte)

  test("MediaFixtures blobs decode to their oracle-pinned dimensions") {
    // q_multimodal_decode_real's oracle hard-codes exactly these values.
    assert(graft.ext.MediaFixtures.png1x1.length == 67)
    assert(Multimodal.imageDims(graft.ext.MediaFixtures.png1x1)
      .contains((1, 1, 4)))
    assert(graft.ext.MediaFixtures.jpeg4x2.length == 41)
    assert(Multimodal.imageDims(graft.ext.MediaFixtures.jpeg4x2)
      .contains((4, 2, 3)))
  }

  test("pngPixels round-trips all five PNG row filters through a real zlib stream") {
    // One column per filter kernel: rows filtered None/Sub/Up/Average/
    // Paeth by the encoder must reconstruct to the original bytes.
    val rows = Seq(
      Seq(7, 200, 13), Seq(9, 100, 255), Seq(0, 50, 128),
      Seq(77, 78, 79), Seq(254, 1, 127))
    val png = graft.ext.MediaFixtures.buildPng(3, 5, 0, rows,
      filters = Seq(0, 1, 2, 3, 4))
    val img = Multimodal.pngPixels(png).get
    assert((img.width, img.height, img.channels) == (3, 5, 1))
    assert(img.pixels.map(_ & 0xFF).toSeq == rows.flatten)
    // RGBA path: the canonical 1×1 transparent PNG decodes to 4 zero bytes.
    val tiny = Multimodal.pngPixels(graft.ext.MediaFixtures.png1x1).get
    assert((tiny.width, tiny.height, tiny.channels) == (1, 1, 4))
    assert(tiny.pixels.toSeq == Seq[Byte](0, 0, 0, 0))
    // Non-PNG blobs are rejected, not mis-decoded.
    assert(Multimodal.pngPixels(graft.ext.MediaFixtures.jpeg4x2).isEmpty)
    assert(Multimodal.pngPixels("text".getBytes).isEmpty)
  }

  test("pngPixels decodes palette and sub-byte depths; ImageIO agrees exactly") {
    // palette (type 3, depth 2): PLTE lookup → RGB
    val pal = Multimodal.pngPixels(graft.ext.MediaFixtures.pngPalette4x2).get
    assert((pal.width, pal.height, pal.channels) == ((4, 2, 3)))
    val expectPal = Seq(0, 1, 2, 3, 3, 2, 1, 0).flatMap(i =>
      Seq((10, 20, 30), (40, 50, 60), (70, 80, 90), (200, 210, 220))(i)
        .productIterator.map(_.asInstanceOf[Int]))
    assert(pal.pixels.map(_ & 0xFF).toSeq == expectPal)
    // 1-bit gray mask with padded row tails: 0/1 scale to 0/255
    val mask = Multimodal.pngPixels(
      graft.ext.MediaFixtures.pngGray1bit10x2).get
    assert((mask.width, mask.height, mask.channels) == ((10, 2, 1)))
    for (i <- 0 until 20)
      assert((mask.pixels(i) & 0xFF) ==
        (if ((i % 2 + i / 10) % 2 == 1) 255 else 0), s"mask[$i]")
    // the JDK's independent codec reads the same bytes identically
    val jp = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      graft.ext.MediaFixtures.pngPalette4x2))
    assert(jp != null && jp.getWidth == 4 && jp.getHeight == 2)
    for (y <- 0 until 2; x <- 0 until 4) {
      val i = Seq(0, 1, 2, 3, 3, 2, 1, 0)(y * 4 + x)
      val (r, g, b) = Seq((10, 20, 30), (40, 50, 60), (70, 80, 90),
        (200, 210, 220))(i)
      assert((jp.getRGB(x, y) & 0xFFFFFF) == ((r << 16) | (g << 8) | b))
    }
    val jm = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      graft.ext.MediaFixtures.pngGray1bit10x2))
    assert(jm != null)
    for (y <- 0 until 2; x <- 0 until 10) {
      // the JDK reads 1-bit gray as raw 0/1 samples; ours scales to
      // the 8-bit range — same bit, two conventions
      val bit = jm.getRaster.getSample(x, y, 0)
      assert(bit * 255 == (mask.pixels(y * 10 + x) & 0xFF),
        s"jdk mask ($x,$y)")
    }
    // reverse direction: a JDK-written indexed PNG decodes here exactly
    val img = new java.awt.image.BufferedImage(6, 5,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED)
    val rnd = new scala.util.Random(5)
    for (y <- 0 until 5; x <- 0 until 6)
      img.setRGB(x, y, (rnd.nextInt(256) << 16) | (rnd.nextInt(256) << 8)
        | rnd.nextInt(256))
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", baos))
    val bytes = baos.toByteArray
    val mine = Multimodal.pngPixels(bytes)
      .getOrElse(fail("pngPixels rejected JDK indexed PNG"))
    val jdk = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    assert((mine.width, mine.height, mine.channels) == ((6, 5, 3)))
    for (y <- 0 until 5; x <- 0 until 6; (sh, ch) <- Seq((16, 0), (8, 1),
        (0, 2)))
      assert((mine.pixels((y * 6 + x) * 3 + ch) & 0xFF) ==
        ((jdk.getRGB(x, y) >> sh) & 0xFF), s"indexed ($x,$y,$ch)")
  }

  test("pngPixels de-interlaces Adam7 (all passes, pass-local filters); ImageIO agrees") {
    // 9×7 gray: odd dims exercise every pass-edge; filters cycle all
    // five kernels pass-locally (the encoder applies them per-pass,
    // which is exactly the contract the decoder must invert).
    val expG = for (y <- 0 until 7; x <- 0 until 9)
      yield (3 * y + 5 * x + 7) % 256
    val g = Multimodal.pngPixels(
      graft.ext.MediaFixtures.pngInterlacedGray9x7).get
    assert((g.width, g.height, g.channels) == ((9, 7, 1)))
    assert(g.pixels.map(_ & 0xFF).toSeq == expG)
    val jg = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      graft.ext.MediaFixtures.pngInterlacedGray9x7))
    assert(jg != null)
    for (y <- 0 until 7; x <- 0 until 9)
      assert(jg.getRaster.getSample(x, y, 0) == expG(y * 9 + x),
        s"jdk interlaced gray ($x,$y)")
    // 5×5 RGB: single-pixel-wide passes, Paeth/Average filters
    val expC = for (y <- 0 until 5; x <- 0 until 5; c <- 0 until 3)
      yield (y * 31 + x * 17 + c * 11) % 256
    val cI = Multimodal.pngPixels(
      graft.ext.MediaFixtures.pngInterlacedRgb5x5).get
    assert((cI.width, cI.height, cI.channels) == ((5, 5, 3)))
    assert(cI.pixels.map(_ & 0xFF).toSeq == expC)
    val jc = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      graft.ext.MediaFixtures.pngInterlacedRgb5x5))
    assert(jc != null)
    for (y <- 0 until 5; x <- 0 until 5; ch <- 0 until 3)
      assert(jc.getRaster.getSample(x, y, ch) == expC((y * 5 + x) * 3 + ch),
        s"jdk interlaced rgb ($x,$y,$ch)")
    // reverse direction: the JDK's own Adam7 writer (progressive mode)
    // produces bytes this decoder reads back pixel-exactly
    val img = new java.awt.image.BufferedImage(23, 17,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 17; x <- 0 until 23)
      img.setRGB(x, y, (((x * 13 + y * 7) % 256) << 16) |
        (((x * 5 + y * 11) % 256) << 8) | ((x * 3 + y * 17) % 256))
    val baos = new java.io.ByteArrayOutputStream()
    val wr = javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
    wr.setOutput(ios)
    val param = wr.getDefaultWriteParam
    param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    wr.write(null, new javax.imageio.IIOImage(img, null, null), param)
    ios.close(); wr.dispose()
    val pbytes = baos.toByteArray
    assert((pbytes(28) & 0xFF) == 1, "JDK progressive PNG is Adam7")
    val mine = Multimodal.pngPixels(pbytes)
      .getOrElse(fail("pngPixels rejected JDK Adam7 PNG"))
    assert((mine.width, mine.height, mine.channels) == ((23, 17, 3)))
    for (y <- 0 until 17; x <- 0 until 23; (sh, ch) <- Seq((16, 0),
        (8, 1), (0, 2)))
      assert((mine.pixels((y * 23 + x) * 3 + ch) & 0xFF) ==
        ((img.getRGB(x, y) >> sh) & 0xFF), s"jdk-adam7 ($x,$y,$ch)")
    // an undefined interlace method is rejected, not mis-decoded
    val bad = graft.ext.MediaFixtures.pngInterlacedGray9x7.clone()
    bad(28) = 2 // IHDR interlace byte (CRC now wrong too — either gate)
    assert(Multimodal.pngPixels(bad).isEmpty)
  }

  test("pngPixels reduces 16-bit samples to their high byte; ImageIO raster agrees") {
    // 4×3 gray16, filters None/Sub/Up at bpp=2: high bytes are 1..12
    val g16 = Multimodal.pngPixels(
      graft.ext.MediaFixtures.pngGray16bit4x3).get
    assert((g16.width, g16.height, g16.channels) == ((4, 3, 1)))
    assert(g16.pixels.map(_ & 0xFF).toSeq == (1 to 12))
    val j16 = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      graft.ext.MediaFixtures.pngGray16bit4x3))
    assert(j16 != null)
    for (y <- 0 until 3; x <- 0 until 4)
      assert(j16.getRaster.getSample(x, y, 0) ==
        (((y * 4 + x + 1) << 8) | 0x40), s"jdk gray16 ($x,$y)")
    // 2×2 rgb16 with Paeth at bpp=6
    val expR = (0 until 12).map(i => math.min(240, 20 * (i + 1)))
    val r16 = Multimodal.pngPixels(
      graft.ext.MediaFixtures.pngRgb16bit2x2).get
    assert((r16.width, r16.height, r16.channels) == ((2, 2, 3)))
    assert(r16.pixels.map(_ & 0xFF).toSeq == expR)
    val jr = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      graft.ext.MediaFixtures.pngRgb16bit2x2))
    assert(jr != null)
    for (y <- 0 until 2; x <- 0 until 2; ch <- 0 until 3)
      assert(jr.getRaster.getSample(x, y, ch) >> 8 ==
        expR((y * 2 + x) * 3 + ch), s"jdk rgb16 ($x,$y,$ch)")
    // reverse direction: a JDK-written 16-bit gray PNG decodes here to
    // the JDK raster's high bytes
    val img = new java.awt.image.BufferedImage(6, 4,
      java.awt.image.BufferedImage.TYPE_USHORT_GRAY)
    val wrRaster = img.getRaster
    for (y <- 0 until 4; x <- 0 until 6)
      wrRaster.setSample(x, y, 0, (x * 9181 + y * 12289) % 65536)
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", baos))
    val mine = Multimodal.pngPixels(baos.toByteArray)
      .getOrElse(fail("pngPixels rejected JDK 16-bit PNG"))
    assert((mine.width, mine.height, mine.channels) == ((6, 4, 1)))
    for (y <- 0 until 4; x <- 0 until 6)
      assert((mine.pixels(y * 6 + x) & 0xFF) ==
        ((x * 9181 + y * 12289) % 65536) >> 8, s"jdk16 ($x,$y)")
  }

  test("tiffPixels decodes both byte orders, strips, WhiteIsZero; ImageIO agrees") {
    // big-endian WhiteIsZero gray in 2-row strips: decode inverts back
    val expG = for (y <- 0 until 4; x <- 0 until 5) yield 7 * y + 3 * x
    val g = Multimodal.tiffPixels(graft.ext.MediaFixtures.tiffGrayBe5x4).get
    assert((g.width, g.height, g.channels) == ((5, 4, 1)))
    assert(g.pixels.map(_ & 0xFF).toSeq == expG)
    // dims fast path parses the same IFD
    assert(Multimodal.imageDims(graft.ext.MediaFixtures.tiffGrayBe5x4)
      .contains((5, 4, 1)))
    // little-endian RGB single-strip
    val expC = for (y <- 0 until 3; x <- 0 until 3; c <- 0 until 3)
      yield 10 * y + 20 * x + 5 * c
    val cT = Multimodal.tiffPixels(graft.ext.MediaFixtures.tiffRgbLe3x3).get
    assert((cT.width, cT.height, cT.channels) == ((3, 3, 3)))
    assert(cT.pixels.map(_ & 0xFF).toSeq == expC)
    // the JDK's independent TIFF plugin reads our fixtures identically
    val jg = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      graft.ext.MediaFixtures.tiffGrayBe5x4))
    assert(jg != null, "JDK TIFF reader rejected the gray fixture")
    for (y <- 0 until 4; x <- 0 until 5)
      assert(jg.getRaster.getSample(x, y, 0) == expG(y * 5 + x),
        s"jdk tiff gray ($x,$y)")
    val jc = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      graft.ext.MediaFixtures.tiffRgbLe3x3))
    assert(jc != null)
    for (y <- 0 until 3; x <- 0 until 3; ch <- 0 until 3)
      assert(jc.getRaster.getSample(x, y, ch) == expC((y * 3 + x) * 3 + ch),
        s"jdk tiff rgb ($x,$y,$ch)")
    // reverse direction: a JDK-written uncompressed TIFF decodes here
    val img = new java.awt.image.BufferedImage(11, 6,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 6; x <- 0 until 11)
      img.setRGB(x, y, (((x * 19 + y * 3) % 256) << 16) |
        (((x * 7 + y * 13) % 256) << 8) | ((x * 29 + y * 5) % 256))
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "tiff", baos))
    val mine = Multimodal.tiffPixels(baos.toByteArray)
      .getOrElse(fail("tiffPixels rejected JDK-written TIFF"))
    assert((mine.width, mine.height, mine.channels) == ((11, 6, 3)))
    for (y <- 0 until 6; x <- 0 until 11; (sh, ch) <- Seq((16, 0),
        (8, 1), (0, 2)))
      assert((mine.pixels((y * 11 + x) * 3 + ch) & 0xFF) ==
        ((img.getRGB(x, y) >> sh) & 0xFF), s"jdk-tiff ($x,$y,$ch)")
    // imagePixels dispatch includes TIFF; non-TIFF rejected by signature
    assert(Multimodal.imagePixels(graft.ext.MediaFixtures.tiffRgbLe3x3)
      .exists(_.channels == 3))
    assert(Multimodal.tiffPixels(graft.ext.MediaFixtures.pngRgb2x2).isEmpty)
  }

  test("tiffPixels handles Deflate + predictor and PackBits; ImageIO round-trips") {
    // Deflate strips with horizontal differencing (libtiff's photo
    // layout): decode inverts the predictor per row after inflate
    val expD = for (y <- 0 until 4; x <- 0 until 4; c <- 0 until 3)
      yield 9 * y + 6 * x + 3 * c
    val d = Multimodal.tiffPixels(
      graft.ext.MediaFixtures.tiffRgbDeflatePred4x4).get
    assert((d.width, d.height, d.channels) == ((4, 4, 3)))
    assert(d.pixels.map(_ & 0xFF).toSeq == expD)
    // PackBits runs
    val expP = Seq.fill(6)(40) ++ Seq.fill(6)(200) ++ Seq.fill(6)(40)
    val p = Multimodal.tiffPixels(
      graft.ext.MediaFixtures.tiffGrayPackBits6x3).get
    assert((p.width, p.height, p.channels) == ((6, 3, 1)))
    assert(p.pixels.map(_ & 0xFF).toSeq == expP)
    // the JDK's TIFF plugin reads both compressed fixtures identically
    for ((fix, w, h, ch, exp) <- Seq(
        (graft.ext.MediaFixtures.tiffRgbDeflatePred4x4, 4, 4, 3, expD),
        (graft.ext.MediaFixtures.tiffGrayPackBits6x3, 6, 3, 1, expP))) {
      val j = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(fix))
      assert(j != null, "JDK TIFF reader rejected a compressed fixture")
      for (y <- 0 until h; x <- 0 until w; c <- 0 until ch)
        assert(j.getRaster.getSample(x, y, c) == exp((y * w + x) * ch + c),
          s"jdk compressed tiff ($x,$y,$c)")
    }
    // reverse direction: JDK-written Deflate and PackBits TIFFs
    for (ctype <- Seq("Deflate", "PackBits")) {
      val img = new java.awt.image.BufferedImage(9, 5,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 5; x <- 0 until 9)
        img.setRGB(x, y, (((x * 11 + y * 23) % 256) << 16) |
          (((x * 17 + y * 7) % 256) << 8) | ((x * 5 + y * 31) % 256))
      val baos = new java.io.ByteArrayOutputStream()
      val wr = javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
      val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
      wr.setOutput(ios)
      val param = wr.getDefaultWriteParam
      param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      param.setCompressionType(ctype)
      wr.write(null, new javax.imageio.IIOImage(img, null, null), param)
      ios.close(); wr.dispose()
      val mine = Multimodal.tiffPixels(baos.toByteArray)
        .getOrElse(fail(s"tiffPixels rejected JDK $ctype TIFF"))
      assert((mine.width, mine.height, mine.channels) == ((9, 5, 3)))
      for (y <- 0 until 5; x <- 0 until 9; (sh, c) <- Seq((16, 0),
          (8, 1), (0, 2)))
        assert((mine.pixels((y * 9 + x) * 3 + c) & 0xFF) ==
          ((img.getRGB(x, y) >> sh) & 0xFF), s"jdk-$ctype ($x,$y,$c)")
    }
  }

  test("tiffPixels decodes LZW; ImageIO both directions across width bumps") {
    // our LZW+predictor fixture decodes to the declared ramp
    val expL = for (y <- 0 until 5; x <- 0 until 7) yield 5 * y + 2 * x
    val l = Multimodal.tiffPixels(
      graft.ext.MediaFixtures.tiffGrayLzwPred7x5).get
    assert((l.width, l.height, l.channels) == ((7, 5, 1)))
    assert(l.pixels.map(_ & 0xFF).toSeq == expL)
    // the JDK's independent LZW implementation reads the same fixture
    val j = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      graft.ext.MediaFixtures.tiffGrayLzwPred7x5))
    assert(j != null, "JDK TIFF reader rejected the LZW fixture")
    for (y <- 0 until 5; x <- 0 until 7)
      assert(j.getRaster.getSample(x, y, 0) == expL(y * 7 + x),
        s"jdk lzw ($x,$y)")
    // deterministic LCG noise: incompressible, so a 96×80 gray plane
    // (7680 bytes) drives the string table through the 9→10→11-bit
    // early-change bumps, and 256×256 RGB (196 608 bytes) through
    // repeated 12-bit table-full Clears
    var seed = 12345L
    def nextByte(): Int = {
      seed = seed * 1103515245L + 12345L; ((seed >> 16) & 0xFF).toInt
    }
    // direction 1: OUR encoder (boundary-crossing single strip) read
    // back by BOTH decoders
    val noise = Seq.fill(96 * 80)(nextByte())
    val ours = graft.ext.MediaFixtures.buildTiff(96, 80, 1,
      photometric = 1, samples = noise, littleEndian = true,
      stripRows = 80, compression = 5)
    val mine = Multimodal.tiffPixels(ours).get
    assert(mine.pixels.map(_ & 0xFF).toSeq == noise)
    val jn = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(ours))
    assert(jn != null, "JDK rejected our boundary-crossing LZW stream")
    for (y <- 0 until 80; x <- 0 until 96)
      assert(jn.getRaster.getSample(x, y, 0) == noise(y * 96 + x),
        s"jdk read of our lzw ($x,$y)")
    // direction 2: a JDK-written LZW TIFF (table-full scale) decodes
    // here bit-exactly
    val img = new java.awt.image.BufferedImage(256, 256,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 256; x <- 0 until 256)
      img.setRGB(x, y,
        (nextByte() << 16) | (nextByte() << 8) | nextByte())
    val baos = new java.io.ByteArrayOutputStream()
    val wr = javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
    wr.setOutput(ios)
    val param = wr.getDefaultWriteParam
    param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionType("LZW")
    wr.write(null, new javax.imageio.IIOImage(img, null, null), param)
    ios.close(); wr.dispose()
    val big = Multimodal.tiffPixels(baos.toByteArray)
      .getOrElse(fail("tiffPixels rejected JDK LZW TIFF"))
    assert((big.width, big.height, big.channels) == ((256, 256, 3)))
    for (y <- 0 until 256 by 7; x <- 0 until 256; (sh, c) <- Seq((16, 0),
        (8, 1), (0, 2)))
      assert((big.pixels((y * 256 + x) * 3 + c) & 0xFF) ==
        ((img.getRGB(x, y) >> sh) & 0xFF), s"jdk-lzw ($x,$y,$c)")
  }

  test("decodePixelStats: real per-blob statistics; non-PNG blobs gated out") {
    val s = spark
    import s.implicits._
    val got = Multimodal.decodePixelStats(s, Seq(
        (2L, graft.ext.MediaFixtures.pngRgb2x2),
        (3L, graft.ext.MediaFixtures.pngGray3x2),
        (4L, graft.ext.MediaFixtures.jpeg4x2))
      .toDF("media_id", "content")).collect()
      .map(p => p.media_id ->
        (p.width, p.height, p.channels, p.n_px_bytes, p.px_sum,
          p.px_min, p.px_max)).toMap
    assert(got.keySet == Set(2L, 3L)) // the JPEG is not a decodable PNG
    assert(got(2L) == (2, 2, 3, 12L, 66L, 0, 11))
    assert(got(3L) == (3, 2, 1, 6L, 105L, 5, 30))
  }

  test("imageDims parses real PNG and JPEG headers; rejects other blobs") {
    assert(Multimodal.imageDims(realPng).contains((5, 3, 4)))
    assert(Multimodal.imageDims(realJpegHeader).contains((11, 7, 3)))
    assert(Multimodal.imageDims(graft.ext.MediaFixtures.gifTwoFrames)
      .contains((4, 2, 3))) // GIF logical screen, LE u16 dims
    assert(Multimodal.imageDims("plain text".getBytes).isEmpty)
    assert(Multimodal.imageDims(Array[Byte]()).isEmpty)
    // truncated PNG signature only — too short for an IHDR
    assert(Multimodal.imageDims(realPng.take(12)).isEmpty)
  }

  test("decode uses the real header parse for image blobs, stub otherwise") {
    val s = spark
    import s.implicits._
    val mixed = Seq(
      (1L, "image", realPng),
      (2L, "image", realJpegHeader),
      (3L, "image", "not an image".getBytes))
      .toDF("media_id", "kind", "content")
    val metas = Multimodal.decode(spark, mixed).collect()
      .map(m => m.media_id -> m).toMap
    assert((metas(1L).width, metas(1L).height, metas(1L).channels) == ((5, 3, 4)))
    assert((metas(2L).width, metas(2L).height, metas(2L).channels) == ((11, 7, 3)))
    val (w, h, c) = Multimodal.decodeDims(12L)
    assert((metas(3L).width, metas(3L).height, metas(3L).channels) == ((w, h, c)))
  }

  test("resizePlan preserves aspect and never upscales") {
    val s = spark
    import s.implicits._
    val meta = Seq((1L, 2000, 1000), (2L, 100, 50)).toDF("media_id", "width", "height")
    val got = Multimodal.resizePlan(meta, 512).collect()
      .map(r => r.getLong(0) ->
        ((r.getAs[Int]("out_width"), r.getAs[Int]("out_height")))).toMap
    assert(got(1L) == ((512, 256)))
    assert(got(2L) == ((100, 50)))
  }

  test("sampleFrames: every stride-th frame with timestamps") {
    val s = spark
    import s.implicits._
    val meta = Seq((1L, 2.0)).toDF("media_id", "duration_sec")
    val frames = Multimodal.sampleFrames(meta, fps = 10, stride = 5)
      .select("frame_index", "ts_sec").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(frames == Seq((0L, 0.0), (5L, 0.5), (10L, 1.0), (15L, 1.5)))
  }

  // ---------------------------------------------- baseline JPEG codec

  test("jpegPixels decodes the constant-block fixtures exactly") {
    val g = Multimodal.jpegPixels(graft.ext.MediaFixtures.jpegGray8x8).get
    assert((g.width, g.height, g.channels) == ((8, 8, 1)))
    assert(g.pixels.forall(p => (p & 0xFF) == 100))
    val two = Multimodal.jpegPixels(graft.ext.MediaFixtures.jpegGray16x8).get
    assert((two.width, two.height, two.channels) == ((16, 8, 1)))
    for (y <- 0 until 8; x <- 0 until 16)
      assert((two.pixels(y * 16 + x) & 0xFF) == (if (x < 8) 50 else 200))
    val odd = Multimodal.jpegPixels(graft.ext.MediaFixtures.jpegGray10x6).get
    assert((odd.width, odd.height, odd.channels) == ((10, 6, 1)))
    assert(odd.pixels.length == 60 && odd.pixels.forall(p => (p & 0xFF) == 77))
    val c = Multimodal.jpegPixels(graft.ext.MediaFixtures.jpegColor8x8).get
    assert((c.width, c.height, c.channels) == ((8, 8, 3)))
    assert(c.pixels.forall(p => (p & 0xFF) == 200))
    // header-only marker stream (no SOS/scan) is rejected, not mis-decoded
    assert(Multimodal.jpegPixels(graft.ext.MediaFixtures.jpeg4x2).isEmpty)
    assert(Multimodal.jpegPixels("plain text".getBytes).isEmpty)
    // truncated scan: drop the EOI and half the entropy bytes
    val trunc = graft.ext.MediaFixtures.jpegGray16x8
    assert(Multimodal.jpegPixels(trunc.take(trunc.length - 12)).isEmpty)
  }

  test("buildJpeg bytes are decoded identically by the JDK's independent codec") {
    // ImageIO is a JPEG implementation this repo did not write: it
    // accepting the stream pins the encoder's DQT/DHT/SOF/SOS/bitstream
    // as spec-valid, and the pixel values pin the FDCT/quantization.
    for ((fix, w, h, expect) <- Seq(
        (graft.ext.MediaFixtures.jpegGray8x8, 8, 8, (_: Int, _: Int) => 100),
        (graft.ext.MediaFixtures.jpegGray10x6, 10, 6, (_: Int, _: Int) => 77),
        (graft.ext.MediaFixtures.jpegGray16x8, 16, 8,
          (x: Int, _: Int) => if (x < 8) 50 else 200))) {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(fix))
      assert(img != null && img.getWidth == w && img.getHeight == h)
      for (y <- 0 until h; x <- 0 until w)
        assert(img.getRaster.getSample(x, y, 0) == expect(x, y),
          s"ImageIO pixel ($x,$y)")
    }
    // neutral-chroma color: every RGB channel is exactly the Y value
    val c = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      graft.ext.MediaFixtures.jpegColor8x8))
    assert(c != null && c.getWidth == 8 && c.getHeight == 8)
    for (y <- 0 until 8; x <- 0 until 8)
      assert((c.getRGB(x, y) & 0xFFFFFF) == 0xC8C8C8) // (200,200,200)
  }

  test("jpegPixels matches the JDK codec on ImageIO-encoded images within ±1") {
    // The reverse direction: arbitrary gray images encoded by ImageIO's
    // own writer (its tables, its FDCT) must decode here to the same
    // pixels the JDK decoder reads back. The JPEG spec does not mandate
    // a bit-exact IDCT, so the bound is ±1 per pixel (IEEE 1180 regime).
    val rnd = new scala.util.Random(42)
    for ((w, h) <- Seq((8, 8), (16, 16), (10, 6), (24, 17))) {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until h; x <- 0 until w)
        img.getRaster.setSample(x, y, 0, rnd.nextInt(256))
      val baos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "jpg", baos))
      val bytes = baos.toByteArray
      val mine = Multimodal.jpegPixels(bytes)
        .getOrElse(fail(s"jpegPixels rejected ImageIO output at ${w}x$h"))
      assert((mine.width, mine.height, mine.channels) == ((w, h, 1)))
      val jdk = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      for (y <- 0 until h; x <- 0 until w) {
        val a = mine.pixels(y * w + x) & 0xFF
        val b = jdk.getRaster.getSample(x, y, 0)
        assert(math.abs(a - b) <= 1, s"pixel ($x,$y) at ${w}x$h: $a vs $b")
      }
    }
  }

  test("jpegPixels decodes 4:2:0 / 4:2:2 fixtures exactly") {
    // quadrant luma, neutral chroma: RGB == Y per quadrant, exactly
    val q = Multimodal.jpegPixels(
      graft.ext.MediaFixtures.jpeg420Quad16x16).get
    assert((q.width, q.height, q.channels) == ((16, 16, 3)))
    for (y <- 0 until 16; x <- 0 until 16; ch <- 0 until 3) {
      val expect = (if (x < 8) 0 else 50) + (if (y < 8) 40 else 140)
      assert((q.pixels((y * 16 + x) * 3 + ch) & 0xFF) == expect,
        s"quad pixel ($x,$y,$ch)")
    }
    // constant non-neutral chroma: the hand-derived (151, 114, 70)
    val c = Multimodal.jpegPixels(
      graft.ext.MediaFixtures.jpeg420Color16x16).get
    assert((c.width, c.height, c.channels) == ((16, 16, 3)))
    for (y <- 0 until 16; x <- 0 until 16) {
      val o = (y * 16 + x) * 3
      assert(((c.pixels(o) & 0xFF, c.pixels(o + 1) & 0xFF,
        c.pixels(o + 2) & 0xFF)) == ((151, 114, 70)), s"color ($x,$y)")
    }
    // odd dims: crop + subsampled index map
    val odd = Multimodal.jpegPixels(
      graft.ext.MediaFixtures.jpeg420Gray10x6).get
    assert((odd.width, odd.height, odd.channels) == ((10, 6, 3)))
    assert(odd.pixels.length == 180 &&
      odd.pixels.forall(p => (p & 0xFF) == 77))
    // 4:2:2: horizontal-only subsampling
    val h2 = Multimodal.jpegPixels(
      graft.ext.MediaFixtures.jpeg422Gray16x8).get
    assert((h2.width, h2.height, h2.channels) == ((16, 8, 3)))
    for (y <- 0 until 8; x <- 0 until 16; ch <- 0 until 3)
      assert((h2.pixels((y * 16 + x) * 3 + ch) & 0xFF) ==
        (if (x < 8) 60 else 210), s"422 pixel ($x,$y,$ch)")
  }

  test("ImageIO decodes the 4:2:0 fixture bytes identically") {
    // the JDK codec accepting buildJpegSampled's stream pins the
    // subsampled SOF/MCU interleave as spec-valid; neutral-chroma
    // pixels are exact in any decoder, non-neutral chroma within ±1
    // (color-transform rounding differs between implementations)
    val q = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      graft.ext.MediaFixtures.jpeg420Quad16x16))
    assert(q != null && q.getWidth == 16 && q.getHeight == 16)
    for (y <- 0 until 16; x <- 0 until 16) {
      val expect = (if (x < 8) 0 else 50) + (if (y < 8) 40 else 140)
      val rgb = q.getRGB(x, y)
      for (sh <- Seq(16, 8, 0))
        assert(((rgb >> sh) & 0xFF) == expect, s"ImageIO quad ($x,$y)")
    }
    val c = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      graft.ext.MediaFixtures.jpeg420Color16x16))
    assert(c != null)
    for (y <- 0 until 16; x <- 0 until 16) {
      val rgb = c.getRGB(x, y)
      for ((sh, want) <- Seq((16, 151), (8, 114), (0, 70)))
        assert(math.abs(((rgb >> sh) & 0xFF) - want) <= 1,
          s"ImageIO color ($x,$y): ${(rgb >> sh) & 0xFF} vs $want")
    }
  }

  test("jpegPixels matches the JDK codec on ImageIO-encoded 4:2:0 color images within ±1") {
    // The reverse direction at the REAL corpus layout: the JDK writer
    // emits 4:2:0 for RGB by default. Gray-valued color content keeps
    // the chroma field constant (R=G=B → Cb=Cr=128), so the two
    // decoders' different chroma upsampling filters agree exactly and
    // the bound is the usual ±1 luma IDCT skew.
    val rnd = new scala.util.Random(7)
    for ((w, h) <- Seq((16, 16), (24, 17), (10, 6))) {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      for (y <- 0 until h; x <- 0 until w) {
        val g = rnd.nextInt(256)
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val baos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "jpg", baos))
      val bytes = baos.toByteArray
      // the stream really is 4:2:0 (keeps this test meaningful if the
      // JDK's default ever changes): find SOF0, check Y factors 0x22
      val sof = (2 until bytes.length - 1).find(i =>
        (bytes(i) & 0xFF) == 0xFF && (bytes(i + 1) & 0xFF) == 0xC0).get
      assert((bytes(sof + 11) & 0xFF) == 0x22, "JDK writer not 4:2:0")
      val mine = Multimodal.jpegPixels(bytes)
        .getOrElse(fail(s"jpegPixels rejected 4:2:0 at ${w}x$h"))
      assert((mine.width, mine.height, mine.channels) == ((w, h, 3)))
      val jdk = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      for (y <- 0 until h; x <- 0 until w; (sh, ch) <- Seq((16, 0),
          (8, 1), (0, 2))) {
        val a = mine.pixels((y * w + x) * 3 + ch) & 0xFF
        val b = (jdk.getRGB(x, y) >> sh) & 0xFF
        assert(math.abs(a - b) <= 1,
          s"pixel ($x,$y,$ch) at ${w}x$h: $a vs $b")
      }
    }
  }

  test("restart-marker (DRI/RSTn) stream decodes exactly; ImageIO agrees") {
    val fix = graft.ext.MediaFixtures.jpegRestart32x8
    // the stream really carries DRI and at least one RSTn
    assert((2 until fix.length - 1).exists(i =>
      (fix(i) & 0xFF) == 0xFF && (fix(i + 1) & 0xFF) == 0xDD))
    assert((2 until fix.length - 1).exists(i =>
      (fix(i) & 0xFF) == 0xFF && (fix(i + 1) & 0xFF) >= 0xD0 &&
        (fix(i + 1) & 0xFF) <= 0xD7))
    def expect(x: Int): Int = Seq(40, 90, 140, 190)(x / 8)
    val mine = Multimodal.jpegPixels(fix).get
    assert((mine.width, mine.height, mine.channels) == ((32, 8, 1)))
    for (y <- 0 until 8; x <- 0 until 32)
      assert((mine.pixels(y * 32 + x) & 0xFF) == expect(x), s"($x,$y)")
    val jdk = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(fix))
    assert(jdk != null && jdk.getWidth == 32 && jdk.getHeight == 8)
    for (y <- 0 until 8; x <- 0 until 32)
      assert(jdk.getRaster.getSample(x, y, 0) == expect(x),
        s"ImageIO ($x,$y)")
  }

  test("jpegPixels decodes the progressive fixtures exactly; ImageIO agrees") {
    // our spectral-selection progressive bytes (SOF2, DC scan + per-
    // component AC scans), DC-only content → exact in any decoder
    val g = Multimodal.jpegPixels(
      graft.ext.MediaFixtures.jpegProgGray16x8).get
    assert((g.width, g.height, g.channels) == ((16, 8, 1)))
    for (y <- 0 until 8; x <- 0 until 16)
      assert((g.pixels(y * 16 + x) & 0xFF) == (if (x < 8) 50 else 200))
    val q = Multimodal.jpegPixels(
      graft.ext.MediaFixtures.jpegProg420Quad16x16).get
    assert((q.width, q.height, q.channels) == ((16, 16, 3)))
    for (y <- 0 until 16; x <- 0 until 16; ch <- 0 until 3)
      assert((q.pixels((y * 16 + x) * 3 + ch) & 0xFF) ==
        (if (x < 8) 0 else 50) + (if (y < 8) 40 else 140),
        s"prog quad ($x,$y,$ch)")
    // the JDK's independent codec accepts and agrees on the same bytes
    val jg = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      graft.ext.MediaFixtures.jpegProgGray16x8))
    assert(jg != null && jg.getWidth == 16 && jg.getHeight == 8)
    for (y <- 0 until 8; x <- 0 until 16)
      assert(jg.getRaster.getSample(x, y, 0) == (if (x < 8) 50 else 200))
    val jq = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      graft.ext.MediaFixtures.jpegProg420Quad16x16))
    assert(jq != null && jq.getWidth == 16 && jq.getHeight == 16)
    for (y <- 0 until 16; x <- 0 until 16) {
      val expect = (if (x < 8) 0 else 50) + (if (y < 8) 40 else 140)
      for (sh <- Seq(16, 8, 0))
        assert(((jq.getRGB(x, y) >> sh) & 0xFF) == expect,
          s"ImageIO prog quad ($x,$y)")
    }
  }

  test("jpegPixels matches the JDK codec on ImageIO-written PROGRESSIVE images within ±1") {
    // The JDK progressive writer uses the IJG progression script —
    // spectral selection AND successive approximation, including DC
    // refinement and AC refinement scans (T.81 G.1.2.3) — so this
    // exercises all four progressive block decoders on independently
    // produced bytes. Gray-valued color content keeps the chroma field
    // constant (upsampling-filter-proof), as in the 4:2:0 test.
    def writeProgressive(img: java.awt.image.BufferedImage): Array[Byte] = {
      val writer = javax.imageio.ImageIO
        .getImageWritersByFormatName("jpg").next()
      val param = writer.getDefaultWriteParam
      param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
      val baos = new java.io.ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(baos)
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
      ios.close(); writer.dispose()
      baos.toByteArray
    }
    val rnd = new scala.util.Random(11)
    for ((w, h, color) <- Seq((16, 16, false), (24, 17, false),
        (16, 16, true), (10, 6, true))) {
      val img = new java.awt.image.BufferedImage(w, h,
        if (color) java.awt.image.BufferedImage.TYPE_3BYTE_BGR
        else java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until h; x <- 0 until w) {
        val g = rnd.nextInt(256)
        if (color) img.setRGB(x, y, (g << 16) | (g << 8) | g)
        else img.getRaster.setSample(x, y, 0, g)
      }
      val bytes = writeProgressive(img)
      // really progressive: SOF2 present
      assert((2 until bytes.length - 1).exists(i =>
        (bytes(i) & 0xFF) == 0xFF && (bytes(i + 1) & 0xFF) == 0xC2),
        "JDK writer did not emit SOF2")
      val mine = Multimodal.jpegPixels(bytes).getOrElse(
        fail(s"jpegPixels rejected JDK progressive at ${w}x$h color=$color"))
      val jdk = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      val nc = if (color) 3 else 1
      assert((mine.width, mine.height, mine.channels) == ((w, h, nc)))
      for (y <- 0 until h; x <- 0 until w; ch <- 0 until nc) {
        val a = mine.pixels((y * w + x) * nc + ch) & 0xFF
        val b = if (color) (jdk.getRGB(x, y) >> (16 - 8 * ch)) & 0xFF
          else jdk.getRaster.getSample(x, y, 0)
        assert(math.abs(a - b) <= 1,
          s"pixel ($x,$y,$ch) at ${w}x$h color=$color: $a vs $b")
      }
    }
  }

  test("decodePixelStats gates JPEG blobs through the real pixel decoder") {
    val s = spark
    import s.implicits._
    val got = Multimodal.decodePixelStats(s, Seq(
        (1L, graft.ext.MediaFixtures.jpegGray16x8),
        (2L, graft.ext.MediaFixtures.pngGray3x2), // PNG path still live
        (3L, graft.ext.MediaFixtures.jpeg4x2))    // header-only: dropped
      .toDF("media_id", "content")).collect()
      .map(p => p.media_id ->
        (p.width, p.height, p.channels, p.n_px_bytes, p.px_sum,
          p.px_min, p.px_max)).toMap
    assert(got.keySet == Set(1L, 2L))
    assert(got(1L) == (16, 8, 1, 128L, 16000L, 50, 200))
    assert(got(2L) == (3, 2, 1, 6L, 105L, 5, 30))
  }

  // ------------------------------------------------- GIF frame decode

  test("gifFrames decodes the two-frame fixture exactly") {
    val frames = Multimodal.gifFrames(graft.ext.MediaFixtures.gifTwoFrames).get
    assert(frames.length == 2)
    val f0 = frames(0)
    assert((f0.index, f0.left, f0.top, f0.width, f0.height, f0.delay_cs) ==
      ((0, 0, 0, 4, 2, 10)))
    assert(f0.pixels.length == 24 && f0.pixels.forall(p => (p & 0xFF) == 100))
    val f1 = frames(1)
    assert((f1.index, f1.left, f1.top, f1.width, f1.height, f1.delay_cs) ==
      ((1, 1, 1, 2, 1, 20)))
    assert(f1.pixels.map(_ & 0xFF).toSeq == Seq(10, 20, 30, 255, 0, 0))
    // rejections: truncated stream, non-GIF blobs
    val t = graft.ext.MediaFixtures.gifTwoFrames
    assert(Multimodal.gifFrames(t.take(t.length - 2)).isEmpty)
    assert(Multimodal.gifFrames(graft.ext.MediaFixtures.png1x1).isEmpty)
    assert(Multimodal.gifFrames("not a gif".getBytes).isEmpty)
  }

  test("gifFrames honors a LOCAL color table overriding the global one") {
    // frame 0 uses the global palette; frame 1 carries its own table
    // mapping the same indices to different colors
    val gif = graft.ext.MediaFixtures.buildGif(2, 1,
      graft.ext.MediaFixtures.gifPalette,
      frames = Seq((0, 0, 2, 1, 0, Seq(2, 2)), (0, 0, 2, 1, 0, Seq(2, 2))),
      localPalettes = Seq(None,
        Some(Seq((1, 2, 3), (4, 5, 6), (7, 8, 9), (0, 0, 0)))))
    val frames = Multimodal.gifFrames(gif).get
    assert(frames.length == 2)
    assert(frames(0).pixels.map(_ & 0xFF).toSeq ==
      Seq(100, 100, 100, 100, 100, 100)) // global entry 2
    assert(frames(1).pixels.map(_ & 0xFF).toSeq ==
      Seq(7, 8, 9, 7, 8, 9)) // local entry 2
    // the JDK reader agrees on both frames
    val rd = javax.imageio.ImageIO.getImageReadersBySuffix("gif").next()
    rd.setInput(javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(gif)))
    assert((rd.read(0).getRGB(0, 0) & 0xFFFFFF) == 0x646464)
    assert((rd.read(1).getRGB(0, 0) & 0xFFFFFF) == 0x070809)
  }

  test("buildGif bytes are decoded identically by the JDK's independent codec") {
    val rd = javax.imageio.ImageIO.getImageReadersBySuffix("gif").next()
    rd.setInput(javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(graft.ext.MediaFixtures.gifTwoFrames)))
    assert(rd.getNumImages(true) == 2)
    val f0 = rd.read(0)
    assert(f0.getWidth == 4 && f0.getHeight == 2)
    for (y <- 0 until 2; x <- 0 until 4)
      assert((f0.getRGB(x, y) & 0xFFFFFF) == 0x646464) // (100,100,100)
    val f1 = rd.read(1)
    // ImageIO reads the frame's own rectangle (2×1 patch)
    assert(f1.getWidth == 2 && f1.getHeight == 1)
    assert((f1.getRGB(0, 0) & 0xFFFFFF) == 0x0A141E) // (10,20,30)
    assert((f1.getRGB(1, 0) & 0xFFFFFF) == 0xFF0000)
  }

  test("gifFrames inverts ImageIO-encoded GIFs back to the source image exactly") {
    // ImageIO's writer emits REAL LZW (growing code widths, KwKwK
    // sequences) and INTERLACED row order, exercising the full decoder;
    // GIF is lossless over an indexed image, so decoding the writer's
    // bytes must reproduce the SOURCE image bit-exactly. (The ground
    // truth is the source image, not ImageIO's reader: the JDK reader
    // itself mis-deinterlaces very short images — at 256×3 its row 1
    // matches no source row while the stored stream is the correct
    // [0, 2, 1] interlace order; verified during this test's
    // development. Our decoder must be right even where the JDK reader
    // is not.)
    val rnd = new scala.util.Random(11)
    for ((w, h) <- Seq((8, 8), (37, 23), (256, 3))) {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_INDEXED)
      for (y <- 0 until h; x <- 0 until w)
        img.getRaster.setSample(x, y, 0, rnd.nextInt(256))
      val baos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "gif", baos))
      val bytes = baos.toByteArray
      val frames = Multimodal.gifFrames(bytes)
        .getOrElse(fail(s"gifFrames rejected ImageIO output at ${w}x$h"))
      assert(frames.length == 1)
      val fr = frames.head
      assert((fr.width, fr.height) == ((w, h)))
      for (y <- 0 until h; x <- 0 until w) {
        val o = (y * w + x) * 3
        val mine = ((fr.pixels(o) & 0xFF) << 16) |
          ((fr.pixels(o + 1) & 0xFF) << 8) | (fr.pixels(o + 2) & 0xFF)
        assert(mine == (img.getRGB(x, y) & 0xFFFFFF),
          s"pixel ($x,$y) at ${w}x$h")
      }
    }
  }

  test("decodeFrameStats explodes multi-frame blobs; non-GIF gated out") {
    val s = spark
    import s.implicits._
    val got = Multimodal.decodeFrameStats(s, Seq(
        (1L, graft.ext.MediaFixtures.gifTwoFrames),
        (2L, graft.ext.MediaFixtures.png1x1))
      .toDF("media_id", "content")).collect()
      .map(f => (f.media_id, f.frame_index) -> f).toMap
    assert(got.keySet == Set((1L, 0), (1L, 1)))
    val f0 = got((1L, 0))
    assert((f0.n_px_bytes, f0.px_sum, f0.px_min, f0.px_max, f0.delay_cs) ==
      ((24L, 2400L, 100, 100, 10)))
    val f1 = got((1L, 1))
    assert((f1.n_px_bytes, f1.px_sum, f1.px_min, f1.px_max, f1.delay_cs) ==
      ((6L, 315L, 0, 255, 20)))
  }

  test("imagePixels dispatches PNG, JPEG and GIF (first frame)") {
    assert(Multimodal.imagePixels(graft.ext.MediaFixtures.pngGray3x2)
      .exists(i => (i.width, i.height, i.channels) == ((3, 2, 1))))
    assert(Multimodal.imagePixels(graft.ext.MediaFixtures.jpegGray8x8)
      .exists(i => (i.width, i.height, i.channels) == ((8, 8, 1))))
    val gif = Multimodal.imagePixels(graft.ext.MediaFixtures.gifTwoFrames)
    assert(gif.exists(i => (i.width, i.height, i.channels) == ((4, 2, 3))))
    assert(gif.get.pixels.forall(p => (p & 0xFF) == 100))
    assert(Multimodal.imagePixels("junk".getBytes).isEmpty)
  }

  test("imageFeatures: real per-channel sums and intensity histogram") {
    val s = spark
    import s.implicits._
    val got = Multimodal.imageFeatures(s, Seq(
        (1L, graft.ext.MediaFixtures.pngRgb2x2),
        (4L, graft.ext.MediaFixtures.jpegGray16x8),
        (7L, graft.ext.MediaFixtures.jpeg4x2))
      .toDF("media_id", "content"), bins = 8).collect()
      .map(f => f.media_id -> f).toMap
    assert(got.keySet == Set(1L, 4L))
    assert(got(1L).ch_sums_csv == "18,22,26")
    assert(got(1L).hist_csv == "12,0,0,0,0,0,0,0")
    assert(got(4L).ch_sums_csv == "16000")
    assert(got(4L).hist_csv == "0,64,0,0,0,0,64,0")
  }

  test("bmpPixels round-trips the fixture and the JDK codec both directions") {
    val img = Multimodal.bmpPixels(graft.ext.MediaFixtures.bmp3x2).get
    assert((img.width, img.height, img.channels) == ((3, 2, 3)))
    assert(img.pixels.map(_ & 0xFF).toSeq == (10 until 28))
    assert(Multimodal.imageDims(graft.ext.MediaFixtures.bmp3x2)
      .contains((3, 2, 3)))
    // JDK reads our bytes
    val jdk = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(graft.ext.MediaFixtures.bmp3x2))
    for (y <- 0 until 2; x <- 0 until 3) {
      val o = (y * 3 + x) * 3
      val want = ((10 + o) << 16) | ((11 + o) << 8) | (12 + o)
      assert((jdk.getRGB(x, y) & 0xFFFFFF) == want, s"jdk pixel ($x,$y)")
    }
    // we read the JDK writer's bytes (lossless, exact)
    val rnd = new scala.util.Random(5)
    for ((w, h) <- Seq((7, 4), (16, 9))) {
      val src = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        src.setRGB(x, y, rnd.nextInt(1 << 24))
      val baos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(src, "bmp", baos))
      val mine = Multimodal.bmpPixels(baos.toByteArray)
        .getOrElse(fail(s"bmpPixels rejected ImageIO output at ${w}x$h"))
      for (y <- 0 until h; x <- 0 until w) {
        val o = (y * w + x) * 3
        val got = ((mine.pixels(o) & 0xFF) << 16) |
          ((mine.pixels(o + 1) & 0xFF) << 8) | (mine.pixels(o + 2) & 0xFF)
        assert(got == (src.getRGB(x, y) & 0xFFFFFF), s"pixel ($x,$y)")
      }
    }
    // rejections: truncated pixel data, non-BMP
    val t = graft.ext.MediaFixtures.bmp3x2
    assert(Multimodal.bmpPixels(t.take(t.length - 5)).isEmpty)
    assert(Multimodal.bmpPixels("BMnope".getBytes).isEmpty)
  }

  test("resizeNearest executes the plan's box: halves 16x8, passes small through") {
    val s = spark
    import s.implicits._
    val got = Multimodal.resizeNearest(s, Seq(
        (1L, graft.ext.MediaFixtures.jpegGray16x8),
        (2L, graft.ext.MediaFixtures.pngGray3x2))
      .toDF("media_id", "content"), maxSide = 8).collect()
      .map(r => r.media_id -> r).toMap
    val big = got(1L)
    assert((big.out_width, big.out_height) == ((8, 4)))
    // columns 0..3 sample the 50-block, 4..7 the 200-block, 4 rows
    assert((big.px_sum, big.px_min, big.px_max) == ((4000L, 50, 200)))
    val small = got(2L)
    assert((small.out_width, small.out_height) == ((3, 2))) // no upscale
    assert(small.px_sum == 105L)
  }

  test("contentFingerprint: identical pixels across re-encodings share a digest") {
    val s = spark
    import s.implicits._
    // different FILE bytes (different row filters), same content
    assert(!java.util.Arrays.equals(graft.ext.MediaFixtures.pngGray3x2,
      graft.ext.MediaFixtures.pngGray3x2Alt))
    val got = Multimodal.contentFingerprint(s, Seq(
        (1L, graft.ext.MediaFixtures.pngGray3x2),
        (2L, graft.ext.MediaFixtures.pngGray3x2Alt),
        (3L, graft.ext.MediaFixtures.jpegGray8x8))
      .toDF("media_id", "content")).collect()
      .map(c => c.media_id -> c.px_md5).toMap
    assert(got(1L) == got(2L))
    assert(got(1L) != got(3L))
    assert(got(1L) == "b1fc786764a0dc4775ffff09e9fd4b04") // md5(000301 ++ px)
  }

  test("AVIF: ispe geometry parses; coding stays unsupported (r18 #7)") {
    val avif = graft.ext.MediaFixtures.buildAvifStub(9, 6)
    assert(Multimodal.isAvif(avif))
    assert(Multimodal.imageDims(avif).contains((9, 6, 3)))
    assert(Multimodal.sniffFormat(avif).contains("avif"))
    val (status, img) = Multimodal.decodeStatus(avif)
    assert(status == "unsupported" && img.isEmpty)
    // damaged box walk: geometry fails soft, classification holds
    assert(Multimodal.imageDims(avif.take(20)).isEmpty)
    assert(Multimodal.isAvif(avif.take(20)))
    // an ISOBMFF file with a non-AVIF brand is not claimed
    val mp4 = avif.clone()
    System.arraycopy("mp42".getBytes("ISO-8859-1"), 0, mp4, 8, 4)
    assert(!Multimodal.isAvif(mp4) && Multimodal.sniffFormat(mp4).isEmpty)
  }

  test("a TIFF strip table whose count outruns the file is rejected unallocated") {
    // little-endian header + one IFD: 1x1, then StripOffsets (LONG)
    // claiming 2^31-1 values at offset 8 — 8 GB of table in a 50-byte
    // file. The count must be checked against the bytes before any
    // count-sized table exists.
    val buf = java.nio.ByteBuffer.allocate(50)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("II".getBytes("ISO-8859-1")).putShort(42.toShort).putInt(8)
    buf.putShort(3.toShort)
    def entry(tag: Int, ftype: Int, count: Int, value: Int): Unit =
      buf.putShort(tag.toShort).putShort(ftype.toShort).putInt(count)
        .putInt(value)
    entry(256, 3, 1, 1)
    entry(257, 3, 1, 1)
    entry(273, 4, Int.MaxValue, 8)
    buf.putInt(0) // no next IFD
    val tiff = buf.array()
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    val before = mx.getThreadAllocatedBytes(tid)
    assert(Multimodal.imageDims(tiff).isEmpty)
    assert(Multimodal.tiffPixels(tiff).isEmpty)
    val allocated = mx.getThreadAllocatedBytes(tid) - before
    assert(allocated < (16L << 20), s"decode allocated $allocated bytes")
  }

  test("decoders never throw on adversarial bytes: fuzz + bit-flipped fixtures") {
    // the ingest-gate contract: corrupt content (not just corrupt
    // structure) must yield None, never an exception that kills the
    // executor task — e.g. a poisoned deflate stream or a lying segment
    // length. Deterministic RNG; each decoder sees random blobs and
    // mutations of every real fixture.
    val fixtures = Seq(
      graft.ext.MediaFixtures.png1x1, graft.ext.MediaFixtures.pngRgb2x2,
      graft.ext.MediaFixtures.pngGray3x2,
      graft.ext.MediaFixtures.pngPalette4x2,
      graft.ext.MediaFixtures.pngGray1bit10x2,
      graft.ext.MediaFixtures.pngInterlacedGray9x7, // Adam7 passes
      graft.ext.MediaFixtures.pngInterlacedRgb5x5,
      graft.ext.MediaFixtures.pngGray16bit4x3,      // 16-bit reduction
      graft.ext.MediaFixtures.pngRgb16bit2x2,
      graft.ext.MediaFixtures.jpegGray8x8,
      graft.ext.MediaFixtures.jpegGray16x8,
      graft.ext.MediaFixtures.jpegColor8x8,
      graft.ext.MediaFixtures.jpeg420Quad16x16,  // subsampled MCU path
      graft.ext.MediaFixtures.jpegProg420Quad16x16, // progressive scans
      graft.ext.MediaFixtures.jpegProgGray16x8,
      graft.ext.MediaFixtures.jpegRestart32x8,
      graft.ext.MediaFixtures.gifTwoFrames,
      graft.ext.MediaFixtures.bmp3x2,
      graft.ext.MediaFixtures.tiffGrayBe5x4, // IFD walk, both endians
      graft.ext.MediaFixtures.tiffRgbLe3x3,
      graft.ext.MediaFixtures.tiffRgbDeflatePred4x4, // deflate+predictor
      graft.ext.MediaFixtures.tiffGrayPackBits6x3,   // packbits RLE
      graft.ext.MediaFixtures.tiffGrayLzwPred7x5,    // LZW+predictor
      graft.ext.AudioFixtures.wavSquare,
      graft.ext.AudioFixtures.wavStereo8,
      graft.ext.AudioFixtures.wav24Mono,       // 24-bit depth
      graft.ext.AudioFixtures.wav32ExtStereo,  // extensible int32
      graft.ext.AudioFixtures.wavFloatMono,    // IEEE float
      graft.ext.AudioFixtures.wavFloatExt,
      graft.ext.AudioFixtures.wavUlaw,         // G.711 μ-law
      graft.ext.AudioFixtures.wavAlaw,         // G.711 A-law
      graft.ext.AudioFixtures.wavUlawExt,
      graft.ext.AudioFixtures.wavAdpcmMono,    // IMA ADPCM blocks
      graft.ext.AudioFixtures.wavAdpcmStereo)
    val rnd = new scala.util.Random(99)
    def decodeAll(b: Array[Byte]): Unit = {
      Multimodal.pngPixels(b); Multimodal.jpegPixels(b)
      Multimodal.gifFrames(b); Multimodal.bmpPixels(b)
      Multimodal.tiffPixels(b)
      Multimodal.imagePixels(b); Multimodal.imageDims(b)
      graft.ext.Audio.wavSamples(b)
      graft.streaming.MediaGate.probe(0L, b)
      ()
    }
    for (_ <- 0 until 200) {
      decodeAll(Array.fill(rnd.nextInt(200))(rnd.nextInt(256).toByte))
    }
    for (fix <- fixtures; _ <- 0 until 60) {
      val m = fix.clone()
      // 1-3 random byte corruptions, keeping the signature intact often
      for (_ <- 0 to rnd.nextInt(3))
        m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
      decodeAll(m)
      decodeAll(m.take(rnd.nextInt(m.length))) // truncations too
    }
    succeed // reaching here means no decoder threw
  }

  test("featureExtract: fixed-dim deterministic vectors") {
    val a = Multimodal.featureExtract(spark, media, dim = 8)
      .select("media_id", "features").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toMap
    val b = Multimodal.featureExtract(spark, media, dim = 8)
      .select("media_id", "features").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toMap
    assert(a(1L).length == 8)
    assert(a == b)
    assert(a.values.flatten.forall(v => v >= -1.0 && v <= 1.0))
  }
}
