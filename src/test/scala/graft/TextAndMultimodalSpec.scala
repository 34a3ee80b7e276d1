package graft

import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.text.TextAnalysis

class TextAndMultimodalSpec extends SparkTestBase {
  import spark.implicits._

  test("token / distinct / punct counts") {
    val df = Seq("The quick  brown fox, the fox!", "", "one").toDF("t").select(
      TextAnalysis.tokenCount($"t").as("n"),
      TextAnalysis.distinctTokenCount($"t").as("d"),
      TextAnalysis.punctCount($"t").as("p"))
    val r = df.as[(Long, Long, Long)].collect().toSeq
    assert(r == Seq((6L, 5L, 2L), (0L, 0L, 0L), (1L, 1L, 0L)))
  }

  test("subword count: letter runs, digit runs, punct pieces") {
    val n = Seq("abc12 de-f!").toDF("t")
      .select(TextAnalysis.subwordCount($"t")).first().getLong(0)
    // abc | 12 | de | - | f | !  = 6
    assert(n == 6L)
  }

  test("quality score in [0,1], favors diverse mid-length docs") {
    val r = Seq(
      ("a " * 200).trim,                       // long but zero diversity
      (1 to 120).map(i => s"w$i").mkString(" ") // long and diverse
    ).toDF("t").select(TextAnalysis.qualityScore($"t")).as[Double].collect()
    assert(r.forall(q => q >= 0.0 && q <= 1.0))
    assert(r(1) > r(0))
  }

  test("langId picks stopword-dominant language, und on no hits") {
    val r = Seq(
      "the cat and the dog is of to the house",
      "der hund und die katze ist das",
      "le chat et la maison est les",
      "xyzzy qwerty").toDF("t")
      .select(TextAnalysis.langId($"t")).as[String].collect().toSeq
    assert(r == Seq("en", "de", "fr", "und"))
  }

  test("docFingerprint invariant to case and whitespace") {
    val r = Seq(("Hello  World", "hello world"), ("a b", "a c")).toDF("x", "y")
      .select((TextAnalysis.docFingerprint($"x") === TextAnalysis.docFingerprint($"y")).as("eq"))
      .as[Boolean].collect().toSeq
    assert(r == Seq(true, false))
  }

  test("magic-byte sniffing detects png/jpeg/html/bin") {
    val png = Array[Byte](0x89.toByte, 0x50, 0x4E, 0x47, 0x0D)
    val jpg = Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xE0.toByte)
    val htm = "<html><body>x</body></html>".getBytes
    val bin = Array[Byte](0x00, 0x01, 0x02, 0x03)
    val r = Seq(png, jpg, htm, bin).toDF("b")
      .select(Multimodal.sniffFormat($"b")).as[String].collect().toSeq
    assert(r == Seq("png", "jpeg", "html", "bin"))
  }

  test("ImageHeader: real PNG/GIF/JPEG/BMP dimension decode; corrupt -> null") {
    import graft.multimodal.ImageHeader
    def be32(v: Int) = Array[Byte]((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def be16(v: Int) = Array[Byte]((v >> 8).toByte, v.toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)

    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A,
      0, 0, 0, 13) ++ "IHDR".getBytes ++ be32(640) ++ be32(481) ++ Array[Byte](8, 6, 0, 0, 0)
    assert(ImageHeader.parse(png) == ImageHeader.Meta("png", 640, 481))

    val gif = "GIF89a".getBytes ++ le16(320) ++ le16(200) ++ Array[Byte](0, 0, 0)
    assert(ImageHeader.parse(gif) == ImageHeader.Meta("gif", 320, 200))

    // JPEG: SOI, APP0 (skipped), then SOF0 with height 480 / width 640
    val jpeg = Array[Byte](0xFF.toByte, 0xD8.toByte) ++
      Array[Byte](0xFF.toByte, 0xE0.toByte) ++ be16(6) ++ "JFIF".getBytes ++
      Array[Byte](0xFF.toByte, 0xC0.toByte) ++ be16(11) ++
      Array[Byte](8) ++ be16(480) ++ be16(640) ++ Array[Byte](3, 0, 0, 0)
    assert(ImageHeader.parse(jpeg) == ImageHeader.Meta("jpeg", 640, 480))

    val bmp = "BM".getBytes ++ Array.fill[Byte](16)(0) ++ le32(101) ++ le32(-55) ++
      Array.fill[Byte](4)(0)
    assert(ImageHeader.parse(bmp) == ImageHeader.Meta("bmp", 101, 55)) // top-down abs

    // corrupt inputs: never throw, always null
    assert(ImageHeader.parse(null) == null)
    assert(ImageHeader.parse(Array[Byte]()) == null)
    assert(ImageHeader.parse(png.take(17)) == null)                    // truncated IHDR
    assert(ImageHeader.parse(Array[Byte](0xFF.toByte, 0xD8.toByte, 0x00, 0x00)) == null)
    assert(ImageHeader.parse("plain text bytes".getBytes) == null)
  }

  test("BmpAHash goldens: real pixel decode -> 8x8 mean-threshold hash") {
    import graft.multimodal.{BmpAHash, BmpSynth}
    // the three analytic oracle patterns, pinned to their closed-form hashes
    // (mirrors the reference's synthesized-image goldens,
    // processing_tests.rs:93-119)
    BmpSynth.OraclePatterns.zip(BmpSynth.OracleHashes).foreach { case (b, h) =>
      assert(BmpAHash.ahash(b) == h)
    }
    // kernel is invariant to the BMP container encoding: 32-bpp, top-down
    // row order, and non-8 dimensions (padded strides, box-mean cells) all
    // hash identically to the canonical 24-bpp bottom-up 8x8
    val leftRight: (Int, Int) => Int = (x, _) => if (x < 4) 0x000000 else 0xFFFFFF
    assert(BmpAHash.ahash(BmpSynth.bmp(8, 8, bpp = 32)(leftRight)) == 0x0F0F0F0F0F0F0F0FL)
    assert(BmpAHash.ahash(BmpSynth.bmp(8, 8, topDown = true)(leftRight)) == 0x0F0F0F0F0F0F0F0FL)
    val bigLeftRight = BmpSynth.bmp(100, 60)((x, _) => if (x < 50) 0x101010 else 0xF0F0F0)
    assert(BmpAHash.ahash(bigLeftRight) == 0x0F0F0F0F0F0F0F0FL) // odd stride: 100*3 pads to 304
    val tiny = BmpSynth.bmp(4, 4)((x, _) => if (x < 2) 0x000000 else 0xFFFFFF)
    assert(BmpAHash.ahash(tiny) == 0x0F0F0F0F0F0F0F0FL) // cells widen below 8px
    // a near-dup pair (one flipped cell) lands at Hamming 1 of each other
    val oneOff = BmpSynth.bmp(8, 8)((x, y) =>
      if (x == 7 && y == 7) 0x000000 else if (x < 4) 0x000000 else 0xFFFFFF)
    assert(java.lang.Long.bitCount(
      BmpAHash.ahash(oneOff) ^ 0x0F0F0F0F0F0F0F0FL) == 1)
    // corrupt-input contract: null, never throw
    val good = BmpSynth.OraclePatterns(0)
    assert(BmpAHash.ahash(null) == null)
    assert(BmpAHash.ahash(good.take(53)) == null)          // truncated header
    assert(BmpAHash.ahash(good.take(100)) == null)         // truncated pixels
    assert(BmpAHash.ahash("BM then garbage bytes here padded out to length".getBytes) == null)
    val rle = good.clone(); rle(30) = 1                    // BI_RLE8 compression
    assert(BmpAHash.ahash(rle) == null)
    val bpp16 = good.clone(); bpp16(28) = 16               // unsupported depth
    assert(BmpAHash.ahash(bpp16) == null)
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)
    assert(BmpAHash.ahash(png) == null)                    // BMP decoder: not its format
  }

  test("PngAHash goldens: real inflate + unfilter decode matches the pinned kernel") {
    import graft.multimodal.{BmpSynth, PngPixels, PngSynth}
    // the three analytic patterns are pixel-identical to the BMP goldens →
    // identical closed-form hashes
    PngSynth.OraclePatterns.zip(BmpSynth.OracleHashes).foreach { case (b, h) =>
      assert(PngPixels.ahash(b) == h)
    }
    val leftRight: (Int, Int) => Int = (x, _) => if (x < 4) 0x000000 else 0xFFFFFF
    // kernel is container-invariant: gray, RGBA, and palette color types all
    // hash identically to the canonical RGB encoding
    for (ct <- Seq(0, 2, 3, 6))
      assert(PngPixels.ahash(PngSynth.png(8, 8, colorType = ct)(leftRight)) ==
        0x0F0F0F0F0F0F0F0FL, s"colorType $ct")
    // ALL FIVE scanline filters (None/Sub/Up/Average/Paeth) round-trip: a
    // gradient encoded with each filter per row decodes to the same hash as
    // its filter-0 encoding
    val gradient: (Int, Int) => Int = (x, y) => {
      val v = (x * 13 + y * 29) % 256; (v << 16) | (v << 8) | v
    }
    val plain = PngPixels.ahash(PngSynth.png(40, 40)(gradient))
    for (f <- 1 to 4)
      assert(PngPixels.ahash(PngSynth.png(40, 40, filterFor = _ => f)(gradient)) ==
        plain, s"filter $f")
    assert(PngPixels.ahash(PngSynth.png(40, 40, filterFor = y => y % 5)(gradient)) ==
      plain, "mixed filters")
    // non-8 dims: box-mean cells widen/aggregate exactly like the BMP path
    val bigLeftRight = PngSynth.png(100, 60)((x, _) => if (x < 50) 0x101010 else 0xF0F0F0)
    assert(PngPixels.ahash(bigLeftRight) == 0x0F0F0F0F0F0F0F0FL)
    // corrupt-input contract: null, never throw
    val good = PngSynth.OraclePatterns(0)
    assert(PngPixels.ahash(null) == null)
    assert(PngPixels.ahash(good.take(20)) == null)           // truncated IHDR
    assert(PngPixels.ahash(good.dropRight(20)) == null)      // truncated IDAT
    val interlaced = good.clone(); interlaced(28) = 1        // Adam7: unsupported
    assert(PngPixels.ahash(interlaced) == null)
    val deep = good.clone(); deep(24) = 16                   // 16-bit: unsupported
    assert(PngPixels.ahash(deep) == null)
    val garbageIdat = good.clone()
    val idatData = good.indexOfSlice("IDAT".getBytes) + 4
    garbageIdat(idatData) = 0x55                             // invalid zlib header
    assert(PngPixels.ahash(garbageIdat) == null)
    assert(PngPixels.ahash("not a png at all, just text bytes".getBytes) == null)
    // decompression-bomb bound: a legal PNG describing > MaxPixels is refused
    val bombIhdr = good.clone()
    bombIhdr(16) = 0x7F.toByte // width = huge
    assert(PngPixels.ahash(bombIhdr) == null)
    // hostile FDICT stream: zlib header 0x78 0x20 (checksum-valid, FDICT bit
    // set) makes Inflater return 0 with needsDictionary() — PNG forbids
    // preset dictionaries, and an undecodable stream must return null in
    // bounded time, not spin the task at 100% CPU
    import org.scalatest.concurrent.TimeLimits.failAfter
    import org.scalatest.time.SpanSugar._
    val fdict = good.clone()
    fdict(idatData) = 0x78.toByte
    fdict(idatData + 1) = 0x20.toByte
    failAfter(10.seconds) { assert(PngPixels.ahash(fdict) == null) }
  }

  test("TiffAHash goldens: IFD walk + uncompressed strip decode matches the pinned kernel") {
    import graft.multimodal.{BmpSynth, TiffPixels, TiffSynth}
    // analytic patterns (LE RGB / BE RGB / gray) are pixel-identical to the
    // BMP goldens → identical closed-form hashes
    TiffSynth.OraclePatterns.zip(BmpSynth.OracleHashes).foreach { case (b, h) =>
      assert(TiffPixels.ahash(b) == h)
    }
    val leftRight: (Int, Int) => Int = (x, _) => if (x < 4) 0x000000 else 0xFFFFFF
    // kernel is container-invariant across byte order, photometric mode,
    // and strip organization
    assert(TiffPixels.ahash(TiffSynth.tiff(8, 8, littleEndian = false)(leftRight)) ==
      0x0F0F0F0F0F0F0F0FL)
    assert(TiffPixels.ahash(TiffSynth.tiff(8, 8, gray = true)(leftRight)) ==
      0x0F0F0F0F0F0F0F0FL)
    assert(TiffPixels.ahash(TiffSynth.tiff(8, 8, rowsPerStrip = 3)(leftRight)) ==
      0x0F0F0F0F0F0F0F0FL) // 3 strips of 3/3/2 rows
    val big = TiffSynth.tiff(100, 60, rowsPerStrip = 7)((x, _) =>
      if (x < 50) 0x101010 else 0xF0F0F0)
    assert(TiffPixels.ahash(big) == 0x0F0F0F0F0F0F0F0FL)
    // photometric 0 (WhiteIsZero) inverts samples: flip the tag on a gray
    // encoding and the decode must equal the color-swapped image
    def valueAt(b: Array[Byte], w: Int, h: Int, spp: Int, entryIdx: Int): Int =
      8 + w * h * spp + 2 + 12 * entryIdx + 8
    val gray = TiffSynth.tiff(8, 8, gray = true)(leftRight)
    val inverted = gray.clone()
    inverted(valueAt(inverted, 8, 8, 1, 4)) = 0 // tag 262 LE SHORT: 1 -> 0
    val swapped = TiffSynth.tiff(8, 8, gray = true)((x, _) =>
      if (x < 4) 0xFFFFFF else 0x000000)
    assert(TiffPixels.ahash(inverted) == TiffPixels.ahash(swapped))
    // compressed strips (Deflate and PackBits, each strip independently
    // encoded) decode to the same raster — and multi-strip + compression
    // compose
    val gradient: (Int, Int) => Int = (x, y) => {
      val v = (x * 13 + y * 29) % 256; (v << 16) | (v << 8) | v
    }
    val plainHash = TiffPixels.ahash(TiffSynth.tiff(40, 40)(gradient))
    for (comp <- Seq(8, 32773); strip <- Seq(Int.MaxValue, 7))
      assert(TiffPixels.ahash(
        TiffSynth.tiff(40, 40, rowsPerStrip = strip, compression = comp)(gradient))
        == plainHash, s"compression $comp rowsPerStrip $strip")
    assert(TiffPixels.ahash(TiffSynth.tiff(8, 8, gray = true, littleEndian = false,
      compression = 8)(leftRight)) == 0x0F0F0F0F0F0F0F0FL)
    // a corrupt Deflate strip nulls cleanly (and in bounded time — the
    // zero-progress inflater guard)
    val badZ = TiffSynth.tiff(8, 8, compression = 8)(leftRight)
    val zStart = 8 // first strip begins right after the header
    badZ(zStart) = 0x55
    assert(TiffPixels.ahash(badZ) == null)
    // header decode (any compression) vs pixel decode (supported set):
    // flipping tag 259 to LZW keeps dimensions but nulls the hash
    import graft.multimodal.ImageHeader
    val lzw = TiffSynth.OraclePatterns(0).clone()
    lzw(valueAt(lzw, 8, 8, 3, 3)) = 5 // tag 259 LE SHORT: 1 -> 5
    assert(ImageHeader.parse(lzw) == ImageHeader.Meta("tiff", 8, 8))
    assert(TiffPixels.ahash(lzw) == null)
    // corrupt-input contract: null, never throw
    val good = TiffSynth.OraclePatterns(0)
    assert(TiffPixels.ahash(null) == null)
    assert(TiffPixels.ahash(good.take(6)) == null)           // truncated header
    assert(TiffPixels.ahash(good.dropRight(10)) == null)     // truncated IFD tail
    // 16-bit samples refused (gray encoding: tag 258 is inline, count 1)
    val deep = gray.clone(); deep(valueAt(deep, 8, 8, 1, 2)) = 16
    assert(TiffPixels.ahash(deep) == null)
    val bomb = TiffSynth.tiff(8, 8)(leftRight).clone()
    bomb(valueAt(bomb, 8, 8, 3, 0)) = 0xFF.toByte // width LONG LE low byte
    bomb(valueAt(bomb, 8, 8, 3, 0) + 2) = 0x7F.toByte // width ≈ 2^23: over cap
    assert(TiffPixels.ahash(bomb) == null)
    assert(TiffPixels.ahash("II* but not really a tiff file".getBytes) == null)
    // big-endian goldens decode identically through ImageHeader too
    assert(ImageHeader.parse(TiffSynth.OraclePatterns(1)) ==
      ImageHeader.Meta("tiff", 8, 8))
  }

  test("GifAHash goldens: real LZW decode matches the pinned kernel") {
    import graft.multimodal.{BmpSynth, GifPixels, GifSynth}
    GifSynth.OraclePatterns.zip(BmpSynth.OracleHashes).foreach { case (b, h) =>
      assert(GifPixels.ahash(b) == h)
    }
    val leftRight: (Int, Int) => Int = (x, _) => if (x < 4) 0x000000 else 0xFFFFFF
    // interlaced encoding decodes to the same raster (de-interlace map)
    val topBottom: (Int, Int) => Int = (_, y) => if (y < 20) 0x000000 else 0xFFFFFF
    assert(GifPixels.ahash(GifSynth.gif(40, 40)(topBottom)) ==
      GifPixels.ahash(GifSynth.gif(40, 40, interlacedFlag = true)(topBottom)))
    // >254-literal streams exercise the mid-stream CLEAR handling
    val big = GifSynth.gif(100, 60)((x, _) => if (x < 50) 0x101010 else 0xF0F0F0)
    assert(GifPixels.ahash(big) == 0x0F0F0F0F0F0F0F0FL)
    // many-color image exercises dictionary growth across code widths
    val gradient = GifSynth.gif(64, 64)((x, y) => { val v = (x * 4 + y) % 256; (v << 16) | (v << 8) | v })
    assert(GifPixels.ahash(gradient) != null)
    // corrupt-input contract
    val good = GifSynth.OraclePatterns(0)
    assert(GifPixels.ahash(null) == null)
    assert(GifPixels.ahash(good.take(10)) == null)           // truncated descriptor
    assert(GifPixels.ahash(good.dropRight(10)) == null)      // truncated LZW data
    assert(GifPixels.ahash("GIF89a but then garbage follows here".getBytes) == null)
  }

  test("JpegAHash goldens: block-uniform baseline JPEGs decode exactly") {
    import graft.multimodal.{BmpSynth, JpegPixels, JpegSynth}
    // block-uniform blocks are DC-only with a flat-8 quant table, so the
    // lossy format round-trips these patterns EXACTLY — same closed forms
    JpegSynth.OraclePatterns.zip(BmpSynth.OracleHashes).foreach { case (b, h) =>
      assert(JpegPixels.ahash(b) == h)
    }
    // a REAL ImageIO-encoded color JPEG of block-aligned solid halves:
    // every 8x8 block is uniform -> AC-free -> only bounded uniform DC
    // shifts survive quantization, which the mean threshold ignores
    val im = new java.awt.image.BufferedImage(64, 64,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 64; x <- 0 until 64)
      im.setRGB(x, y, if (x < 32) 0x000000 else 0xFFFFFF)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(im, "jpg", bos))
    assert(JpegPixels.ahash(bos.toByteArray) == 0x0F0F0F0F0F0F0F0FL)
    // corrupt-input contract: never throw; un-decodable -> null. A scan
    // truncated AFTER the header decodes LENIENTLY (ImageIO fills the
    // missing tail) — the right posture for crawl fingerprinting: hash
    // what decoded, rather than refusing an image that is 95% present.
    val good = JpegSynth.OraclePatterns(0)
    assert(JpegPixels.ahash(null) == null)
    assert(JpegPixels.ahash(good.take(20)) == null)          // truncated header
    assert(JpegPixels.ahash(good.dropRight(30)) != null)     // truncated scan: lenient
    assert(JpegPixels.ahash(
      Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xE0.toByte)) == null)
  }

  test("PixelAHash dispatch: one expression, four container formats, same hash") {
    import graft.multimodal.{BmpSynth, GifSynth, JpegSynth, PixelAHash, PngSynth}
    for (i <- 0 until 3) {
      val expected = BmpSynth.OracleHashes(i)
      assert(PixelAHash.ahash(BmpSynth.OraclePatterns(i)) == expected)
      assert(PixelAHash.ahash(PngSynth.OraclePatterns(i)) == expected)
      assert(PixelAHash.ahash(GifSynth.OraclePatterns(i)) == expected)
      assert(PixelAHash.ahash(JpegSynth.OraclePatterns(i)) == expected)
    }
    assert(PixelAHash.ahash("no known magic bytes here".getBytes) == null)
    assert(PixelAHash.ahash(null) == null)
  }

  test("imageAHash Column expression: codegen path and null propagation") {
    import graft.multimodal.BmpSynth
    val rows = Seq(
      (0L, BmpSynth.OraclePatterns(0)),
      (1L, BmpSynth.OraclePatterns(1)),
      (2L, BmpSynth.OraclePatterns(2)),
      (3L, "not an image".getBytes))
    val out = rows.toDF("id", "blob")
      .select($"id", Multimodal.imageAHash($"blob").as("h"))
      .as[(Long, Option[Long])].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      (0L, Some(0x0F0F0F0F0F0F0F0FL)),
      (1L, Some(0x00000000FFFFFFFFL)),
      (2L, Some(0L)),
      (3L, None)))
  }

  test("withMeta prefers real decoded dimensions over the stand-in") {
    def be32(v: Int) = Array[Byte]((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A,
      0, 0, 0, 13) ++ "IHDR".getBytes ++ be32(777) ++ be32(333) ++ Array[Byte](8, 6, 0, 0, 0)
    val df = Seq((1L, png)).toDF("id", "blob")
    val row = Multimodal.withMeta(df, "id", "blob").first()
    assert(row.getString(2) == "png")
    val m = row.getStruct(3)
    assert(m.getLong(0) == 777L && m.getLong(1) == 333L)
  }

  test("extractor strategies: html drops chrome, plaintext only normalizes") {
    import graft.fingerprint.{Fingerprints => FP}
    val html = "<html><body><nav>menu</nav><p>Hello   world</p></body></html>"
      .getBytes("UTF-8")
    val plain = "Hello   world\n\tagain".getBytes("UTF-8")
    val df = Seq((html, plain)).toDF("h", "p").select(
      FP.extractorByName("html")($"h").as("eh"),
      FP.extractorByName("plaintext")($"p").as("ep"),
      FP.extractorByName("plaintext")($"h").as("eph"))
    val r = df.first()
    assert(r.getString(0) == "Hello world")          // nav chrome dropped
    assert(r.getString(1) == "Hello world again")    // ws collapsed only
    assert(r.getString(2).contains("<nav>"))         // plaintext keeps tags
    intercept[IllegalArgumentException](FP.extractorByName("exotic"))
  }

  test("fake decode meta + frame sampling plumbing") {
    val df = Seq((1L, ("x" * 600).getBytes)).toDF("id", "blob")
    val meta = Multimodal.withMeta(df, "id", "blob").first()
    assert(meta.getLong(1) == 600L)
    val m = meta.getStruct(3)
    assert(m.getLong(2) == 3L) // 600/250 + 1 frames
    val frames = Multimodal.sampleFrames(df, "id", "blob", everyNth = 2)
      .select("frame_idx").as[Long].collect().toSeq
    assert(frames == Seq(0L, 2L))
  }

  test("quality score: empty and blank docs score exactly 0") {
    // pre-fix, a contentless doc inherited the 0.1 no-punctuation bonus
    // and outscored all-punctuation text
    val r = Seq("", "   ", "\n\t ").toDF("t")
      .select(TextAnalysis.qualityScore($"t")).as[Double].collect().toSeq
    assert(r.forall(_ == 0.0))
  }

  test("langId counts adjacent stopwords fully") {
    // "le le the": fr must win 2-1 — the pre-fix split count saw only one
    // "le" (adjacent occurrences shared their boundary space) and the
    // en-first tiebreak mislabeled the doc. Second doc pins the symmetric
    // case: "the the" is 2 hits, tying fr and resolving to en by priority.
    val r = Seq("le le the", "the the le la maison").toDF("t")
      .select(TextAnalysis.langId($"t")).as[String].collect().toSeq
    assert(r == Seq("fr", "en"))
  }

  test("sniffFormat: null blob stays null, not 'bin'") {
    val r = Seq(Tuple1(null: Array[Byte]), Tuple1(Array[Byte](0, 1, 2, 3)))
      .toDF("b").select(Multimodal.sniffFormat($"b")).collect()
      .map(row => if (row.isNullAt(0)) null else row.getString(0)).toSeq
    assert(r == Seq(null, "bin"))
  }

  test("PngSynth: incompressible pixels still encode (growable deflate sink)") {
    import graft.multimodal.{PngPixels, PngSynth}
    // pseudo-random pixels deflate to MORE than scan.length once stored-
    // block overhead (5 bytes / 64 KB) exceeds the old fixed buffer's 64
    // spare bytes — the old drain loop then spun forever. 760×760 RGB is
    // ~1.7 MB of scanlines ≈ 141 overhead bytes.
    val noise: (Int, Int) => Int = (x, y) => {
      var h = x * 2654435761L + y * 40503L + 0x9E3779B9L
      h ^= h >>> 16; h *= 0x85EBCA6BL; h ^= h >>> 13
      (h & 0xFFFFFF).toInt
    }
    val png = PngSynth.png(760, 760)(noise)
    assert(PngPixels.ahash(png) != null) // full decode round-trips
  }

  test("two image_ahash calls fuse into one codegen scope (fresh locals)") {
    import graft.multimodal.{BmpSynth, Multimodal}
    // coalesce(col, lit) is NON-nullable, so nullSafeCodeGen emits the
    // fragment unguarded (no block scope): a fixed local name would be
    // redeclared by the second call and Janino would reject the stage —
    // fallback=false turns that silent interpreter fallback into a failure
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val p = BmpSynth.OraclePatterns
      val r = Seq((p(0), p(1))).toDF("x", "y")
        .select(
          Multimodal.imageAHash(coalesce($"x", lit(p(0)))).as("hx"),
          Multimodal.imageAHash(coalesce($"y", lit(p(1)))).as("hy"))
        .as[(Long, Long)].head()
      assert(r == ((BmpSynth.OracleHashes(0), BmpSynth.OracleHashes(1))))
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }
}
