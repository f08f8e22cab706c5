package graft

import graft.engine.Multimodal
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq((0L, "abcdefgh"), (1L, "zzzz"), (2L, "a"))
    .toDF("doc_id", "text")

  test("asMedia: binary payload with cycling kind metadata") {
    val m = Multimodal.asMedia(docs, col("doc_id"), col("text"))
      .orderBy("media_id").collect()
    m.map(_.getString(1)) shouldBe Array("image", "audio", "video")
    new String(m(0).getAs[Array[Byte]](2)) shouldBe "abcdefgh"
  }

  test("extractFeatures: deterministic normalized histogram per payload") {
    val out = Multimodal.extractFeatures(
        Multimodal.asMedia(docs, col("doc_id"), col("text")))
      .orderBy("media_id").collect()
    out(0).getLong(2) shouldBe 8L // n_bytes
    val hist = out(0).getSeq[Double](3)
    hist.length shouldBe 8
    hist.sum shouldBe (1.0 +- 1e-4) // normalized
    // run twice → identical (stub is deterministic)
    val again = Multimodal.extractFeatures(
        Multimodal.asMedia(docs, col("doc_id"), col("text")))
      .orderBy("media_id").collect()
    again(0).getSeq[Double](3) shouldBe hist
  }

  test("extractFeatures: custom decoder flows through the same plumbing") {
    // stand-in for a real media decoder: kind-tagged length + first byte
    val decoder: Multimodal.Decoder = (kind, bytes) =>
      Array(kind.length.toDouble, bytes.length.toDouble,
        if (bytes.nonEmpty) (bytes(0) & 0xff).toDouble else -1.0)
    val out = Multimodal.extractFeatures(
        Multimodal.asMedia(docs, col("doc_id"), col("text")), decoder)
      .orderBy("media_id").collect()
    out(0).getSeq[Double](3) shouldBe Seq(5.0, 8.0, 'a'.toInt.toDouble)
    out(1).getSeq[Double](3) shouldBe Seq(5.0, 4.0, 'z'.toInt.toDouble)
    out.map(_.getLong(2)) shouldBe Array(8L, 4L, 1L) // n_bytes unchanged
  }

  // -- real decoders -------------------------------------------------------

  private def le16(v: Int): Array[Byte] = Array(v.toByte, (v >> 8).toByte)
  private def le32(v: Int): Array[Byte] =
    Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)

  /** Hand-built 2×2 24-bit BMP, bottom-up, rows padded to 4 bytes. */
  private def bmpBytes: Array[Byte] =
    "BM".getBytes ++ le32(70) ++ le32(0) ++ le32(54) ++ // file header
      le32(40) ++ le32(2) ++ le32(2) ++ le16(1) ++ le16(24) ++ le32(0) ++
      le32(16) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0) ++ // DIB header
      Array[Byte](10, 20, 30, 40, 50, 60, 0, 0, // bottom row (BGR) + pad
        70, 80, 90, 100.toByte, 110.toByte, 120.toByte, 0, 0) // top row + pad

  /** Hand-built PCM WAV: 8 kHz mono 16-bit, 4 samples of a ±0.5 square wave,
    * with an odd-sized junk chunk before `data` to exercise RIFF skipping. */
  private def wavBytes: Array[Byte] = {
    val fmt = "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(1) ++
      le32(8000) ++ le32(16000) ++ le16(2) ++ le16(16)
    val junk = "LIST".getBytes ++ le32(3) ++ Array[Byte](1, 2, 3, 0) // padded
    val data = "data".getBytes ++ le32(8) ++
      le16(16384) ++ le16(-16384 & 0xffff) ++ le16(16384) ++ le16(-16384 & 0xffff)
    val body = fmt ++ junk ++ data
    "RIFF".getBytes ++ le32(4 + body.length) ++ "WAVE".getBytes ++ body
  }

  test("Decoders.bmp24: real pixel parse — dimensions and channel means") {
    Multimodal.Decoders.bmp24(bmpBytes).toSeq shouldBe
      Seq(2.0, 2.0, 3.0, 75.0, 65.0, 55.0) // w, h, ch, meanR, meanG, meanB
    intercept[IllegalArgumentException] {
      Multimodal.Decoders.bmp24("not an image".getBytes)
    }
    intercept[IllegalArgumentException] { // truncated pixel data
      Multimodal.Decoders.bmp24(bmpBytes.dropRight(4))
    }
  }

  test("Decoders.wavPcm16: real sample parse — rate, channels, count, rms") {
    Multimodal.Decoders.wavPcm16(wavBytes).toSeq shouldBe
      Seq(8000.0, 1.0, 4.0, 0.5) // square wave at half amplitude → rms 0.5
    intercept[IllegalArgumentException] {
      Multimodal.Decoders.wavPcm16("RIFFxxxxJUNK".getBytes)
    }
  }

  test("extractFeatures end-to-end with the REAL media decoder") {
    val gif = Multimodal.Decoders.syntheticGif87(7L, nFrames = 3)
    val media = Seq(
      (1L, "image", bmpBytes),
      (2L, "audio", wavBytes),
      (3L, "video", gif)
    ).toDF("media_id", "kind", "payload")
    val out = Multimodal.extractFeatures(media, Multimodal.Decoders.media)
      .orderBy("media_id").collect()
    out(0).getSeq[Double](3) shouldBe Seq(2.0, 2.0, 3.0, 75.0, 65.0, 55.0)
    out(1).getSeq[Double](3) shouldBe Seq(8000.0, 1.0, 4.0, 0.5)
    // video decodes the REAL GIF: [nFrames, w, h, first-frame means]
    val vf = out(2).getSeq[Double](3)
    vf.take(3) shouldBe Seq(3.0, 4.0, 4.0)
    val f0 = Multimodal.Decoders.gif87Frames(gif).head
    val means = Seq(0, 1, 2).map(c =>
      BigDecimal(f0.pixels.indices.filter(_ % 3 == c)
          .map(i => (f0.pixels(i) & 0xff).toDouble).sum / 16)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    vf.drop(3) shouldBe means
    out.map(_.getLong(2)) shouldBe
      Array(bmpBytes.length.toLong, wavBytes.length.toLong, gif.length.toLong)
  }

  test("Decoders.resizeBmp24: NN downscale/upscale round-trips the decoder") {
    // 2×2 → 1×1 keeps the NN source pixel (0,0) in IMAGE coordinates: the
    // TOP-left, file-stored as the second row's BGR(70,80,90) → RGB
    // (90,80,70). (Through r10 this mapped raw file rows and kept the
    // bottom-left — the r11 top-anchor fix, caught by the row-order spec.)
    Multimodal.Decoders.bmp24(
      Multimodal.Decoders.resizeBmp24(bmpBytes, 1, 1)).toSeq shouldBe
      Seq(1.0, 1.0, 3.0, 90.0, 80.0, 70.0)
    // 2×2 → 4×4 replicates each pixel 4×: channel means are unchanged
    Multimodal.Decoders.bmp24(
      Multimodal.Decoders.resizeBmp24(bmpBytes, 4, 4)).toSeq shouldBe
      Seq(4.0, 4.0, 3.0, 75.0, 65.0, 55.0)
    // resize of a resize still parses (payload transforms compose)
    Multimodal.Decoders.bmp24(Multimodal.Decoders.resizeBmp24(
      Multimodal.Decoders.resizeBmp24(bmpBytes, 4, 4), 3, 2))(0) shouldBe 3.0
    intercept[IllegalArgumentException] {
      Multimodal.Decoders.resizeBmp24("junk".getBytes, 2, 2)
    }
  }

  test("Decoders.resizeBmp24: the 54 header bytes of a 3x2 output — file " +
    "size, pixel offset, DIB size, dims, planes, bpp, image size") {
    val out = Multimodal.Decoders.resizeBmp24(bmpBytes, 3, 2)
    // a 3-pixel row is 9 bytes, padded to 12
    out.length shouldBe 54 + 12 * 2
    out.take(54).toSeq shouldBe ("BM".getBytes ++
      le32(78) ++          // file size
      le32(0) ++           // reserved
      le32(54) ++          // pixel offset
      le32(40) ++          // DIB header size
      le32(3) ++ le32(2) ++ // width, height
      le16(1) ++           // planes
      le16(24) ++          // bits per pixel
      le32(0) ++           // compression: none
      le32(24) ++          // image size: padded rows x height
      new Array[Byte](16)).toSeq // resolution + palette counts: zero
    // the 3 padding bytes of each row are zero
    Seq(54 + 9, 54 + 10, 54 + 11, 66 + 9, 66 + 10, 66 + 11)
      .map(out(_)) shouldBe Seq.fill(6)(0.toByte)
  }

  test("syntheticBmp: valid, deterministic, survives resize+decode") {
    val b1 = Multimodal.Decoders.syntheticBmp(42L)
    b1.toSeq shouldBe Multimodal.Decoders.syntheticBmp(42L).toSeq
    Multimodal.Decoders.bmp24(b1)(0) shouldBe 2.0
    Multimodal.Decoders.bmp24(
      Multimodal.Decoders.resizeBmp24(b1, 3, 5)).take(2).toSeq shouldBe
      Seq(3.0, 5.0)
    // different seeds → different pixels
    b1.toSeq should not be Multimodal.Decoders.syntheticBmp(43L).toSeq
  }

  test("Decoders.media: unknown kinds fail loudly, not silently stubbed") {
    intercept[IllegalArgumentException] {
      Multimodal.Decoders.media("img", "abc".getBytes) // typo'd kind
    }.getMessage should include("unknown media kind")
  }

  test("decoders reject overflow-crafted headers (no Int wraparound)") {
    // BMP header claiming 65536x65536: rowSize*height wraps to 0 in Int —
    // the Long-arithmetic bound must reject it as truncated
    val huge = "BM".getBytes ++ le32(70) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(65536) ++ le32(65536) ++ le16(1) ++ le16(24) ++
      le32(0) ++ le32(16) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0) ++
      new Array[Byte](16)
    intercept[IllegalArgumentException] {
      Multimodal.Decoders.bmp24(huge)
    }.getMessage should include("truncated")
    // WAV chunk size near Int.MaxValue: off + 8 + size must not wrap
    val wav = "RIFF".getBytes ++ le32(Int.MaxValue - 4) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32(Int.MaxValue - 30) ++ new Array[Byte](40)
    intercept[IllegalArgumentException] {
      Multimodal.Decoders.wavPcm16(wav)
    }.getMessage should include("bad RIFF chunk")
  }

  test("resizeImages: images resized in place, other kinds untouched") {
    val media = Seq(
      (1L, "image", bmpBytes),
      (2L, "audio", wavBytes)
    ).toDF("media_id", "kind", "payload")
    val out = Multimodal.extractFeatures(
        Multimodal.resizeImages(media, 4, 4), Multimodal.Decoders.media)
      .orderBy("media_id").collect()
    out(0).getSeq[Double](3) shouldBe Seq(4.0, 4.0, 3.0, 75.0, 65.0, 55.0)
    out(1).getSeq[Double](3) shouldBe Seq(8000.0, 1.0, 4.0, 0.5) // untouched
  }

  test("gif87Frames: LZW decode of the synthetic stream matches the " +
    "seeded pixels exactly; deterministic; loud failures") {
    val gif = Multimodal.Decoders.syntheticGif87(42L, nFrames = 2)
    gif.toSeq shouldBe Multimodal.Decoders.syntheticGif87(42L, 2).toSeq
    val frames = Multimodal.Decoders.gif87Frames(gif)
    frames.length shouldBe 2
    val palette = Seq((0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255))
    for (f <- 0 until 2) {
      val fr = frames(f)
      (fr.width, fr.height) shouldBe ((4, 4))
      // the generator's pixel law, re-derived independently
      val want = (0 until 16).map { i =>
        palette((java.lang.Long.rotateLeft(
          42L * 0x9e3779b97f4a7c15L + f, i) & 3).toInt)
      }
      val got = (0 until 16).map(i => ((fr.pixels(3 * i) & 0xff),
        (fr.pixels(3 * i + 1) & 0xff), (fr.pixels(3 * i + 2) & 0xff)))
      got shouldBe want
    }
    intercept[IllegalArgumentException] {
      Multimodal.Decoders.gif87Frames("NOTAGIF-------".getBytes)
    }.getMessage should include("not a GIF")
    intercept[IllegalArgumentException] { // trailer chopped off
      Multimodal.Decoders.gif87Frames(gif.dropRight(2))
    }
  }

  test("gif87Frames: dictionary-growth LZW path (incl. the KwKwK case)") {
    // hand-built GIF: one 2×2 frame, pixels [1,1,1,1], encoded the way a
    // real compressor would — clear once, then grow the dictionary:
    // codes [clear=4, 1, 6(KwKwK: "11"), 1, end=5] at 3 bits
    def pack3(codes: Seq[Int]): Array[Byte] = {
      var acc = 0L; var nbits = 0
      val out = Array.newBuilder[Byte]
      codes.foreach { c =>
        acc |= c.toLong << nbits; nbits += 3
        while (nbits >= 8) { out += (acc & 0xff).toByte; acc >>= 8; nbits -= 8 }
      }
      if (nbits > 0) out += (acc & 0xff).toByte
      out.result()
    }
    val data = pack3(Seq(4, 1, 6, 1, 5))
    val gif = "GIF87a".getBytes ++ le16(2) ++ le16(2) ++
      Array[Byte](0x91.toByte, 0, 0) ++
      Array[Byte](0, 0, 0, -1, 0, 0, 0, -1, 0, 0, 0, -1) ++ // 4-color GCT
      Array[Byte](0x2c, 0, 0, 0, 0) ++ le16(2) ++ le16(2) ++
      Array[Byte](0, 2, data.length.toByte) ++ data ++
      Array[Byte](0, 0x3b)
    val f = Multimodal.Decoders.gif87Frames(gif).head
    (f.width, f.height) shouldBe ((2, 2))
    // all four pixels are palette index 1 = red
    (0 until 4).map(i => ((f.pixels(3 * i) & 0xff), (f.pixels(3 * i + 1) & 0xff),
      (f.pixels(3 * i + 2) & 0xff))) shouldBe Seq.fill(4)((255, 0, 0))
  }

  // spec-side PNG assembler, INDEPENDENT of the production generator:
  // hand-chosen filtered scanline bytes go in verbatim, so a shared
  // misunderstanding between syntheticPng's encoder and pngImage's decoder
  // (which are exact inverses by construction) cannot cancel out here
  private def pngOf(w: Int, h: Int, bitDepth: Int, colorType: Int,
                    interlace: Int, filtered: Array[Byte]): Array[Byte] =
    MediaTestFixtures.pngOf(w, h, bitDepth, colorType, interlace, filtered)

  test("Decoders.pngImage: hand-filtered scanlines reconstruct exactly — " +
    "all five predictors (None/Sub/Up/Average/Paeth)") {
    // 2×5 grayscale; target recon rows [10,20] [30,45] [40,60] [50,80]
    // [70,90]; filter bytes hand-derived per the PNG spec:
    //   row0 None: raw = pixels
    //   row1 Sub:  raw = [30, 45-30]
    //   row2 Up:   raw = [40-30, 60-45]
    //   row3 Avg:  raw = [50-floor((0+40)/2), 80-floor((50+60)/2)]
    //   row4 Paeth: a/b/c=(0,50,0)→pred 50; (70,80,50)→p=100→pred b=80
    val filtered = Array[Byte](
      0, 10, 20,
      1, 30, 15,
      2, 10, 15,
      3, 30, 25,
      4, 20, 10)
    val img = Multimodal.Decoders.pngImage(pngOf(2, 5, 8, 0, 0, filtered))
    (img.width, img.height, img.channels) shouldBe ((2, 5, 1))
    img.pixels.map(_ & 0xff).toSeq shouldBe
      Seq(10, 20, 30, 45, 40, 60, 50, 80, 70, 90)
    // feature wrapper: [w, h, channels, mean] over the known pixels
    Multimodal.Decoders.png(pngOf(2, 5, 8, 0, 0, filtered)).toSeq shouldBe
      Seq(2.0, 5.0, 1.0, 49.5)
  }

  test("Decoders.pngImage: RGB predictors step by CHANNELS, not 1 byte " +
    "(Sub row with per-channel left neighbors)") {
    // 2×1 RGB, Sub filter: recon px0 = (100, 150, 200); px1 = px0 + (5, 6, 7)
    val filtered = Array[Byte](1, 100.toByte, 150.toByte, 200.toByte, 5, 6, 7)
    val img = Multimodal.Decoders.pngImage(pngOf(2, 1, 8, 2, 0, filtered))
    (img.width, img.height, img.channels) shouldBe ((2, 1, 3))
    img.pixels.map(_ & 0xff).toSeq shouldBe Seq(100, 150, 200, 105, 156, 207)
  }

  test("syntheticPng: valid, deterministic, decodes through all five " +
    "filters at every channel count; the media dispatcher sniffs PNG") {
    for (ch <- Seq(1, 3, 4)) {
      val p1 = Multimodal.Decoders.syntheticPng(42L, channels = ch)
      p1 shouldBe Multimodal.Decoders.syntheticPng(42L, channels = ch)
      val img = Multimodal.Decoders.pngImage(p1)
      (img.width, img.height, img.channels) shouldBe ((5, 5, ch))
      img.pixels.length shouldBe 25 * ch
    }
    // kind=image + PNG magic routes to the PNG parser, not bmp24
    val feats = Multimodal.Decoders.media("image",
      Multimodal.Decoders.syntheticPng(7L))
    feats.take(3).toSeq shouldBe Seq(5.0, 5.0, 3.0)
  }

  test("pngImage loud failures: 16-bit palette, bad interlace method, " +
    "palette sans PLTE, bad CRC, filter-type garbage, truncated and " +
    "over-long pixel streams") {
    val good = Array[Byte](0, 10, 20, 0, 30, 40) // 2×2 gray, None filters
    def px(bitDepth: Int = 8, colorType: Int = 0, interlace: Int = 0,
           filtered: Array[Byte] = good) =
      pngOf(2, 2, bitDepth, colorType, interlace, filtered)
    Multimodal.Decoders.pngImage(px()).pixels.map(_ & 0xff).toSeq shouldBe
      Seq(10, 20, 30, 40)
    // 16-bit DECODES since r12 (high byte; see the 16-bit spec below) —
    // but the spec forbids it for palette images, and so do we
    intercept[IllegalArgumentException] {
      Multimodal.Decoders.pngImage(px(bitDepth = 16, colorType = 3))
    }.getMessage should include("not supported")
    // Adam7 DECODES since r12; interlace METHODS beyond 0/1 refuse
    intercept[IllegalArgumentException] {
      Multimodal.Decoders.pngImage(px(interlace = 2))
    }.getMessage should include("interlace method")
    // a sequential-layout stream under an interlace=1 header is length-
    // mismatched against the Adam7 pass geometry — loud, never garbage
    intercept[IllegalArgumentException] {
      Multimodal.Decoders.pngImage(px(interlace = 1))
    }
    // color type 3 DECODES since r11 — but only with its PLTE present
    // (this fixture has none, so it must still be loud)
    intercept[IllegalArgumentException] {
      Multimodal.Decoders.pngImage(px(colorType = 3))
    }.getMessage should include("PLTE")
    intercept[IllegalArgumentException] {
      Multimodal.Decoders.pngImage(
        px(filtered = Array[Byte](9, 10, 20, 0, 30, 40)))
    }.getMessage should include("filter type")
    intercept[IllegalArgumentException] { // one scanline short
      Multimodal.Decoders.pngImage(px(filtered = good.take(3)))
    }
    intercept[IllegalArgumentException] { // one scanline over
      Multimodal.Decoders.pngImage(px(filtered = good ++ good.take(3)))
    }
    // corrupt one IDAT payload byte -> the CRC check must catch it
    val p = px()
    val idatOff = p.indexOfSlice("IDAT".getBytes("US-ASCII").toSeq)
    p(idatOff + 4) = (p(idatOff + 4) ^ 0x01).toByte
    intercept[IllegalArgumentException] {
      Multimodal.Decoders.pngImage(p)
    }.getMessage should include("CRC")
    intercept[IllegalArgumentException] { // not a PNG at all
      Multimodal.Decoders.pngImage("plain text".getBytes)
    }
    // FDICT zlib header (CMF 0x78, FLG 0xBB: bit 5 set, checksum % 31 ok):
    // forbidden in PNG; an unguarded Inflater returns 0 forever here —
    // must THROW, not hang the task (the loud-failure contract)
    val fdict = MediaTestFixtures.pngOfRawIdat(2, 2, 8, 0, 0,
      Array(0x78, 0xBB, 0x01, 0x02, 0x03, 0x04, 0x05, 0x06).map(_.toByte))
    intercept[IllegalArgumentException] {
      Multimodal.Decoders.pngImage(fdict)
    }.getMessage should include("FDICT")
  }

  test("Decoders.resizePng: exact NN mapping on hand-built pixels; " +
    "identity preserves; upscale replicates; channels survive re-encode") {
    // 4×2 RGB, all rows filter-0 so the pixel bytes are literal:
    // px(x, y, c) = 40y + 10x + c — every byte distinct and < 256
    def p(x: Int, y: Int, c: Int) = (40 * y + 10 * x + c).toByte
    val filtered =
      (0 until 2).flatMap { y =>
        0.toByte +: (0 until 4).flatMap(x => (0 until 3).map(c => p(x, y, c)))
      }.toArray
    val src = pngOf(4, 2, 8, 2, 0, filtered)
    // 2×1 target: sy = y*2/1 -> 0; sx = x*4/2 -> {0, 2}
    val out = Multimodal.Decoders.pngImage(
      Multimodal.Decoders.resizePng(src, 2, 1))
    (out.width, out.height, out.channels) shouldBe ((2, 1, 3))
    out.pixels.toSeq shouldBe Seq(p(0, 0, 0), p(0, 0, 1), p(0, 0, 2),
      p(2, 0, 0), p(2, 0, 1), p(2, 0, 2))
    // identity resize preserves pixels exactly, at every channel count
    for (ch <- Seq(1, 3, 4)) {
      val payload = Multimodal.Decoders.syntheticPng(9L, channels = ch)
      val orig = Multimodal.Decoders.pngImage(payload)
      val same = Multimodal.Decoders.pngImage(
        Multimodal.Decoders.resizePng(payload, 5, 5))
      same.channels shouldBe ch
      same.pixels.toSeq shouldBe orig.pixels.toSeq
    }
    // 1×1 upscale replicates the single pixel
    val one = pngOf(1, 1, 8, 0, 0, Array[Byte](0, 77))
    val up = Multimodal.Decoders.pngImage(
      Multimodal.Decoders.resizePng(one, 3, 3))
    up.pixels.map(_ & 0xff).toSeq shouldBe Seq.fill(9)(77)
    intercept[IllegalArgumentException] {
      Multimodal.Decoders.resizePng(one, 0, 3)
    }
  }

  test("Decoders.resizeImage + resizeImages default: mixed PNG/BMP image " +
    "column routes by magic bytes, each result a valid same-container " +
    "payload") {
    val png = Multimodal.Decoders.syntheticPng(3L, channels = 3)
    val bmp = Multimodal.Decoders.syntheticBmp(3L)
    Multimodal.Decoders.isPng(
      Multimodal.Decoders.resizeImage(png, 3, 3)) shouldBe true
    val rb = Multimodal.Decoders.resizeImage(bmp, 3, 3)
    (rb(0), rb(1)) shouldBe (('B'.toByte, 'M'.toByte))
    val media = Seq((1L, "image", png), (2L, "image", bmp))
      .toDF("media_id", "kind", "payload")
    val feats = Multimodal.extractFeatures(
        Multimodal.resizeImages(media, 3, 3), Multimodal.Decoders.media)
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Double](3).take(3)).toMap
    // positionally COHERENT across containers: [w, h, channels, means...]
    feats(1L) shouldBe Seq(3.0, 3.0, 3.0)
    feats(2L) shouldBe Seq(3.0, 3.0, 3.0)
  }

  // spec-side WAV assembler, INDEPENDENT of the production generator:
  // hand-chosen samples go in verbatim (little-endian int16, interleaved)
  private def wavOf(rate: Int, channels: Int,
                    samples: Array[Short]): Array[Byte] =
    MediaTestFixtures.wavOf(rate, channels, samples)

  test("syntheticWav: deterministic, valid, parses with the declared " +
    "rate/channels/sample count; wavClip round-trips the sample array") {
    val w = Multimodal.Decoders.syntheticWav(42L, nPerChannel = 10,
      sampleRate = 16000, channels = 2)
    w shouldBe Multimodal.Decoders.syntheticWav(42L, nPerChannel = 10,
      sampleRate = 16000, channels = 2)
    Multimodal.Decoders.wavPcm16(w).take(3).toSeq shouldBe
      Seq(16000.0, 2.0, 20.0)
    val clip = Multimodal.Decoders.wavClip(w)
    (clip.sampleRate, clip.channels, clip.samples.length) shouldBe
      ((16000, 2, 20))
  }

  test("wavClip/wavPcm16: corrupt RIFF chunk sizes fail loudly — negative " +
    "size and lying over-long data size both throw, never hang or " +
    "over-allocate (ADVICE r9)") {
    val good = Multimodal.Decoders.syntheticWav(7L, nPerChannel = 8)
    def patchI32(a: Array[Byte], off: Int, v: Int): Array[Byte] = {
      val b = a.clone()
      b(off) = v.toByte; b(off + 1) = (v >> 8).toByte
      b(off + 2) = (v >> 16).toByte; b(off + 3) = (v >> 24).toByte
      b
    }
    // fmt chunk size (offset 16) forced negative: the walk must throw at
    // the bad chunk, not spin (off += 8 + size would be a no-op at -8)
    intercept[IllegalArgumentException] {
      Multimodal.Decoders.wavClip(patchI32(good, 16, -8))
    }.getMessage should include("bad RIFF chunk")
    // data chunk size (offset 40 in the canonical layout) lying far past
    // the payload end: must throw, not allocate from the lying header
    intercept[IllegalArgumentException] {
      Multimodal.Decoders.wavPcm16(patchI32(good, 40, Int.MaxValue - 7))
    }.getMessage should include("bad RIFF chunk")
    // truncated mid-data: the data chunk's own size check fires
    intercept[IllegalArgumentException] {
      Multimodal.Decoders.wavClip(good.dropRight(4))
    }
  }

  test("sampleAudioFrames: hand-computed integer features — mono framing " +
    "with a partial tail, stereo per-channel crossings, everyN sampling, " +
    "loud non-WAV failure") {
    // mono, frameLen=4: f0 = [100,-200,300,-400] -> abs 1000, sq 300000,
    // zc 3; f1 (partial) = [500,600] -> n 2, abs 1100, sq 610000, zc 0
    val mono = wavOf(8000, 1, Array[Short](100, -200, 300, -400, 500, 600))
    val m = Multimodal.sampleAudioFrames(
      Seq((1L, "audio", mono)).toDF("media_id", "kind", "payload"),
      frameLen = 4)
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6))).toSet
    m shouldBe Set((0L, 4L, 1000L, 300000L, 3L), (1L, 2L, 1100L, 610000L, 0L))
    // stereo interleaved [1,-5, -1,5, 2,-5], frameLen=2: f0 crossings are
    // per channel (A: 1→-1, B: -5→5) -> zc 2, abs 12, sq 52, n 4;
    // f1 = one instant -> n 2, abs 7, sq 29, zc 0
    val stereo = wavOf(8000, 2, Array[Short](1, -5, -1, 5, 2, -5))
    val st = Multimodal.sampleAudioFrames(
      Seq((2L, "audio", stereo)).toDF("media_id", "kind", "payload"),
      frameLen = 2)
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6))).toSet
    st shouldBe Set((0L, 4L, 12L, 52L, 2L), (1L, 2L, 7L, 29L, 0L))
    // everyN=2 keeps frames 0 and 2 only
    val six = wavOf(8000, 1, Array[Short](1, 2, 3, 4, 5, 6))
    Multimodal.sampleAudioFrames(
      Seq((3L, "audio", six)).toDF("media_id", "kind", "payload"),
      frameLen = 2, everyN = 2)
      .collect().map(_.getLong(2)).toSet shouldBe Set(0L, 2L)
    val boom = intercept[org.apache.spark.SparkException] {
      Multimodal.sampleAudioFrames(
        Seq((4L, "audio", "not audio".getBytes))
          .toDF("media_id", "kind", "payload"), frameLen = 2).collect()
    }
    boom.getMessage should include("WAV")
  }

  test("sampleFrames: real GIF frames, every-nth sampling, pixel means") {
    val gif = Multimodal.Decoders.syntheticGif87(42L, nFrames = 5)
    val media = Seq((1L, "video", gif)).toDF("media_id", "kind", "payload")
    val rows = Multimodal.sampleFrames(media, everyN = 2)
      .orderBy("frame_ix").collect()
    rows.map(_.getLong(2)) shouldBe Array(0L, 2L, 4L)
    rows.foreach { r => r.getInt(3) shouldBe 4; r.getInt(4) shouldBe 4 }
    // frame-2 means match a direct decode
    val f2 = Multimodal.Decoders.gif87Frames(gif)(2)
    val meanR = BigDecimal(f2.pixels.indices.filter(_ % 3 == 0)
        .map(i => (f2.pixels(i) & 0xff).toDouble).sum / 16)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    rows(1).getDouble(5) shouldBe meanR
    // non-GIF payloads fail loudly — no silent byte-stride fallback
    intercept[org.apache.spark.SparkException] {
      Multimodal.sampleFrames(
        Seq((2L, "video", "plain text".getBytes))
          .toDF("media_id", "kind", "payload")).collect()
    }
  }

  // ---- PNG fuzz vs JDK ImageIO (VERDICT r9 missing #2a): the codec pair
  // was verified only by hand-filtered fixtures; javax.imageio reads and
  // writes PNG natively with zero new deps, so it is a fully independent
  // implementation to cross-check against in BOTH directions, the
  // BMP/GIF fuzz pattern. ----

  /** Seeded deterministic byte — the spec's own mixer (NOT the production
    * generator's law), so the fuzz corpus is independent of both codecs. */
  private def fuzzByte(seed: Long, i: Int): Int = {
    val z = (seed + i) * 0x2545f4914f6cdd1dL
    (((z ^ (z >>> 29)) * 0xbf58476d1ce4e5b9L) >>> 56).toInt & 0xff
  }

  test("pngImage fuzz: our encodePng output decodes pixel-exactly in JDK " +
    "ImageIO at all three generated channel counts") {
    for (seed <- 1L to 12L; channels <- Seq(1, 3, 4)) {
      val w = 3 + (seed % 7).toInt
      val h = 5 + (seed % 5).toInt // ≥5 rows ⇒ all five filter predictors
      val payload = Multimodal.Decoders.syntheticPng(seed, w, h, channels)
      val ours = Multimodal.Decoders.pngImage(payload)
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      withClue(s"seed=$seed ch=$channels: ") {
        img should not be null
        (img.getWidth, img.getHeight) shouldBe ((w, h))
        val raster = img.getRaster
        raster.getNumBands shouldBe channels
        val px = new Array[Int](channels)
        for (y <- 0 until h; x <- 0 until w) {
          raster.getPixel(x, y, px)
          for (c <- 0 until channels)
            withClue(s"($x,$y) band $c: ") {
              px(c) shouldBe (ours.pixels((y * w + x) * channels + c) & 0xff)
            }
        }
      }
    }
  }

  test("pngImage fuzz: ImageIO-written PNGs (adaptive filter choices our " +
    "encoder never emits) decode pixel-exactly in pngImage — gray, RGB, " +
    "RGBA") {
    import java.awt.image.BufferedImage
    val types = Seq(
      (BufferedImage.TYPE_BYTE_GRAY, 1),
      (BufferedImage.TYPE_3BYTE_BGR, 3),
      (BufferedImage.TYPE_INT_ARGB, 4))
    for (seed <- 1L to 12L; (biType, channels) <- types) {
      val w = 4 + (seed % 9).toInt
      val h = 3 + (seed % 8).toInt
      val img = new BufferedImage(w, h, biType)
      val raster = img.getRaster
      for (y <- 0 until h; x <- 0 until w) {
        val base = (y * w + x) * channels
        raster.setPixel(x, y,
          Array.tabulate(channels)(c => fuzzByte(seed, base + c)))
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out) shouldBe true
      val decoded = Multimodal.Decoders.pngImage(out.toByteArray)
      withClue(s"seed=$seed ch=$channels: ") {
        (decoded.width, decoded.height, decoded.channels) shouldBe
          ((w, h, channels))
        val px = new Array[Int](channels)
        for (y <- 0 until h; x <- 0 until w) {
          raster.getPixel(x, y, px)
          for (c <- 0 until channels)
            withClue(s"($x,$y) band $c: ") {
              (decoded.pixels((y * w + x) * channels + c) & 0xff) shouldBe
                px(c)
            }
        }
      }
    }
  }

  test("pngImage fuzz round-trip: ImageIO-written PNG → resizePng → " +
    "ImageIO re-read matches the NN mapping (transforms compose across " +
    "independent implementations)") {
    import java.awt.image.BufferedImage
    val img = new BufferedImage(9, 7, BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until 7; x <- 0 until 9)
      img.getRaster.setPixel(x, y,
        Array.tabulate(3)(c => fuzzByte(77L, (y * 9 + x) * 3 + c)))
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out) shouldBe true
    val resized = Multimodal.Decoders.resizePng(out.toByteArray, 4, 3)
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(resized))
    (back.getWidth, back.getHeight) shouldBe ((4, 3))
    val px = new Array[Int](3)
    val src = new Array[Int](3)
    for (y <- 0 until 3; x <- 0 until 4) {
      back.getRaster.getPixel(x, y, px)
      // NN source pixel: (x·srcW/newW, y·srcH/newH)
      img.getRaster.getPixel(x * 9 / 4, y * 7 / 3, src)
      withClue(s"($x,$y): ") { px.toSeq shouldBe src.toSeq }
    }
  }

  test("pngFromPixels: explicit samples round-trip the decoder bit-exactly " +
    "at all four channel counts; wrong sample count fails loudly") {
    for (ch <- Seq(1, 2, 3, 4)) {
      val px = Array.tabulate(8 * 4 * ch)(i => (fuzzByte(9L + ch, i)).toByte)
      val img = Multimodal.Decoders.pngImage(
        Multimodal.Decoders.pngFromPixels(8, 4, ch, px))
      (img.width, img.height, img.channels) shouldBe ((8, 4, ch))
      img.pixels.toSeq shouldBe px.toSeq
    }
    intercept[IllegalArgumentException] {
      Multimodal.Decoders.pngFromPixels(8, 4, 3, new Array[Byte](5))
    }.getMessage should include("expected")
  }

  test("bmpFromPixels: hand-picked RGB values come back with exact channel " +
    "means (pins BGR byte order + bottom-up rows); wrong length loud") {
    // 2×2: distinct per-channel values so a BGR or row-order mix-up is
    // visible in the means
    val rgb = Array[Byte](10, 20, 30, 50, 60, 70, 90, 100, 110, (130 & 0xff).toByte, (140 & 0xff).toByte, (150 & 0xff).toByte)
    val f = Multimodal.Decoders.bmp24(
      Multimodal.Decoders.bmpFromPixels(2, 2, rgb))
    f.take(3).toSeq shouldBe Seq(2.0, 2.0, 3.0)
    f(3) shouldBe (10 + 50 + 90 + 130) / 4.0  // mean R
    f(4) shouldBe (20 + 60 + 100 + 140) / 4.0 // mean G
    f(5) shouldBe (30 + 70 + 110 + 150) / 4.0 // mean B
    intercept[IllegalArgumentException] {
      Multimodal.Decoders.bmpFromPixels(2, 2, new Array[Byte](5))
    }.getMessage should include("expected")
  }

  test("pngImage: unknown CRITICAL chunk fails loudly; unknown ancillary " +
    "chunk is skipped (ADVICE r9)") {
    val good = Multimodal.Decoders.syntheticPng(5L, 4, 4, 3)
    // splice a chunk right after IHDR (sig 8 + IHDR 12+13 = 33)
    def splice(typ: String): Array[Byte] = {
      val tb = typ.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32()
      crc.update(tb)
      val chunk = Array[Byte](0, 0, 0, 0) ++ tb ++
        Array((crc.getValue >> 24).toByte, (crc.getValue >> 16).toByte,
          (crc.getValue >> 8).toByte, crc.getValue.toByte)
      good.take(33) ++ chunk ++ good.drop(33)
    }
    // ancillary (lowercase first byte): skipped, image still decodes
    Multimodal.Decoders.pngImage(splice("teXt")).width shouldBe 4
    // critical (uppercase first byte): must throw, never degrade
    intercept[IllegalArgumentException] {
      Multimodal.Decoders.pngImage(splice("CRIT"))
    }.getMessage should include("critical")
    // PLTE (a suggested palette) is legal alongside truecolor and ignored
    Multimodal.Decoders.pngImage(splice("PLTE")).width shouldBe 4
  }

  // ---- palette (color-type-3) PNG — NEW r11, VERDICT r10 missing #3 ----

  test("palettePng/pngImage: explicit indices expand through the PLTE " +
    "exactly; tRNS switches to RGBA with opaque defaults past its length") {
    // 4 colors with distinct per-channel bytes; 3×2 indices
    val pal = Array[Byte](10, 20, 30, 40, 50, 60, 70, 80, 90,
      100, 110, 120)
    val idx = Array[Byte](0, 3, 1, 2, 0, 2)
    val img = Multimodal.Decoders.pngImage(
      Multimodal.Decoders.palettePng(3, 2, pal, idx))
    (img.width, img.height, img.channels) shouldBe ((3, 2, 3))
    img.pixels.toSeq shouldBe idx.flatMap(i =>
      Seq(pal(3 * i), pal(3 * i + 1), pal(3 * i + 2))).toSeq
    // tRNS shorter than the palette: listed indices take their alpha,
    // the rest default 255 (opaque) per the spec
    val a = Multimodal.Decoders.pngImage(
      Multimodal.Decoders.palettePng(3, 2, pal, idx,
        alpha = Some(Array[Byte](7, 130.toByte))))
    (a.width, a.height, a.channels) shouldBe ((3, 2, 4))
    a.pixels.toSeq shouldBe idx.flatMap { i =>
      val al = if (i == 0) 7.toByte else if (i == 1) 130.toByte else -1
      Seq(pal(3 * i), pal(3 * i + 1), pal(3 * i + 2), al)
    }.toSeq
    // filtered palette scanlines unfilter at ONE byte per pixel: Sub
    // filter on indices, then expansion — rebuilt by hand through pngOf
    // with a spliced PLTE is overkill; the Paeth/Sub machinery is already
    // pinned at 1 byte/px by the grayscale fixtures
  }

  test("palettePng loud failures: missing PLTE, out-of-palette index, bad " +
    "palette length, oversize tRNS") {
    val pal = Array[Byte](1, 2, 3, 4, 5, 6) // 2 colors
    // container whose index stream references color 9 of a 2-color table:
    // assemble with a legal index then patch the IDAT is awkward — build
    // via the raw container helper instead: colorType 3, no PLTE at all
    intercept[IllegalArgumentException] {
      Multimodal.Decoders.pngImage(
        pngOf(2, 2, 8, 3, 0, Array[Byte](0, 0, 1, 0, 1, 0)))
    }.getMessage should include("PLTE")
    intercept[IllegalArgumentException] {
      Multimodal.Decoders.palettePng(2, 2, pal, Array[Byte](0, 1, 9, 0))
    }.getMessage should include("out of range")
    intercept[IllegalArgumentException] {
      Multimodal.Decoders.palettePng(2, 2, Array[Byte](1, 2), // not ×3
        Array[Byte](0, 0, 0, 0))
    }.getMessage should include("palette length")
    intercept[IllegalArgumentException] {
      Multimodal.Decoders.palettePng(2, 2, pal, Array[Byte](0, 0, 0, 0),
        alpha = Some(Array[Byte](1, 2, 3))) // 3 alphas, 2 colors
    }.getMessage should include("exceeds palette")
  }

  test("palette PNG fuzz vs ImageIO: indexed BufferedImages written by " +
    "the JDK (real PLTE containers) decode pixel-exactly; our palettePng " +
    "reads back identically in ImageIO (both directions)") {
    import java.awt.image.{BufferedImage, IndexColorModel}
    // direction 1: ImageIO-written palette PNG → our decoder
    for (seed <- 1 to 4) {
      // > 16 colors forces the JDK writer to 8-bit palette depth (PNG
      // palette depths are 1/2/4/8; our decoder declares sub-8 refusal)
      val n = 130
      val r = Array.tabulate(n)(i => ((i * 31 + seed * 7) % 256).toByte)
      val g = Array.tabulate(n)(i => ((i * 57 + seed * 11) % 256).toByte)
      val b = Array.tabulate(n)(i => ((i * 83 + seed * 13) % 256).toByte)
      val icm = new IndexColorModel(8, n, r, g, b)
      val (w, h) = (5 + seed, 4)
      val img = new BufferedImage(w, h,
        BufferedImage.TYPE_BYTE_INDEXED, icm)
      for (y <- 0 until h; x <- 0 until w)
        img.getRaster.setPixel(x, y, Array((x * 3 + y * 5 + seed) % n))
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out) shouldBe true
      val payload = out.toByteArray
      // the fixture must really be a palette container
      payload.sliding(4).exists(_.sameElements(
        "PLTE".getBytes("US-ASCII"))) shouldBe true
      val ours = Multimodal.Decoders.pngImage(payload)
      (ours.width, ours.height) shouldBe ((w, h))
      ours.channels should be >= 3 // JDK may or may not attach tRNS
      for (y <- 0 until h; x <- 0 until w) {
        val rgb = img.getRGB(x, y)
        val o = (y * w + x) * ours.channels
        withClue(s"seed=$seed ($x,$y): ") {
          (ours.pixels(o) & 0xff) shouldBe ((rgb >> 16) & 0xff)
          (ours.pixels(o + 1) & 0xff) shouldBe ((rgb >> 8) & 0xff)
          (ours.pixels(o + 2) & 0xff) shouldBe (rgb & 0xff)
        }
      }
    }
    // direction 2: our palettePng container → ImageIO
    val pal = Array.tabulate(12)(j => ((j * 47 + 5) % 256).toByte)
    val idx = Array[Byte](0, 1, 2, 3, 2, 1)
    val ours = Multimodal.Decoders.palettePng(3, 2, pal, idx)
    val ref = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(ours))
    ref should not be null
    for (y <- 0 until 2; x <- 0 until 3) {
      val i = idx(y * 3 + x)
      val rgb = ref.getRGB(x, y)
      withClue(s"($x,$y): ") {
        ((rgb >> 16) & 0xff) shouldBe (pal(3 * i) & 0xff)
        ((rgb >> 8) & 0xff) shouldBe (pal(3 * i + 1) & 0xff)
        (rgb & 0xff) shouldBe (pal(3 * i + 2) & 0xff)
      }
    }
    // palette payloads compose with the resize path (decode expands to
    // truecolor; the re-encoded container is RGB)
    val resized = Multimodal.Decoders.pngImage(
      Multimodal.Decoders.resizePng(ours, 6, 2))
    (resized.width, resized.height, resized.channels) shouldBe ((6, 2, 3))
    resized.pixels.take(3).toSeq shouldBe
      Seq(pal(0), pal(1), pal(2)) // NN: output (0,0) samples source (0,0)
  }

  test("sub-8-bit PNG (NEW r11): packed palette indices and grayscale at " +
    "depths 1/2/4 unpack MSB-first and expand/scale exactly") {
    // depth-4 palette: the same indices round-trip packed and unpacked
    val pal = Array.tabulate(18)(j => ((j * 43 + 11) % 256).toByte) // 6 colors
    val idx = Array[Byte](0, 5, 3, 1, 4, 2, 2, 0, 5) // 3×3
    for (d <- Seq(4, 8)) {
      val img = Multimodal.Decoders.pngImage(
        Multimodal.Decoders.palettePng(3, 3, pal, idx, bitDepth = d))
      img.pixels.toSeq shouldBe idx.flatMap(i =>
        Seq(pal(3 * i), pal(3 * i + 1), pal(3 * i + 2))).toSeq
    }
    // depth-2 palette (4 colors) and depth-1 (2 colors), with tRNS
    val pal4 = Array.tabulate(12)(j => ((j * 31 + 7) % 256).toByte)
    val idx4 = Array[Byte](3, 0, 2, 1, 1, 3) // 3×2 — crosses a byte per row
    val a4 = Multimodal.Decoders.pngImage(Multimodal.Decoders.palettePng(
      3, 2, pal4, idx4, alpha = Some(Array[Byte](9)), bitDepth = 2))
    a4.channels shouldBe 4
    a4.pixels.grouped(4).map(_(3) & 0xff).toSeq shouldBe
      idx4.map(i => if (i == 0) 9 else 255).toSeq
    val pal1 = Array[Byte](10, 20, 30, 200.toByte, 210.toByte, 220.toByte)
    val b1 = Multimodal.Decoders.pngImage(Multimodal.Decoders.palettePng(
      9, 1, pal1, Array[Byte](1, 0, 1, 1, 0, 0, 1, 0, 1), bitDepth = 1))
    b1.pixels.grouped(3).map(_(0) & 0xff).toSeq shouldBe
      Seq(200, 10, 200, 200, 10, 10, 200, 10, 200)
    // sub-8 GRAYSCALE scales v·255/(2^d−1); hand-packed container with a
    // Sub-filtered second row (filters stay bytewise at distance 1)
    // row 1 (filter 0): values (3,0,2,1) -> 0b11_00_10_01 = 0xC9
    // row 2 (filter 1): recon bytes equal raw for the first byte (a=0);
    // values (1,1,1,1) -> 0x55
    val gray2 = pngOf(4, 2, 2, 0, 0,
      Array[Byte](0, 0xC9.toByte, 1, 0x55.toByte))
    val g = Multimodal.Decoders.pngImage(gray2)
    (g.width, g.height, g.channels) shouldBe ((4, 2, 1))
    g.pixels.map(_ & 0xff).toSeq shouldBe
      Seq(255, 0, 170, 85, 85, 85, 85, 85)
    // depth-4 gray scaling is v·17
    val gray4 = pngOf(2, 1, 4, 0, 0, Array[Byte](0, 0x5A.toByte)) // (5, 10)
    Multimodal.Decoders.pngImage(gray4).pixels.map(_ & 0xff).toSeq shouldBe
      Seq(85, 170)
    // loud: depth 3 is not a PNG depth; sub-8 truecolor is spec-illegal;
    // a palette too big for the declared depth refuses at assembly
    intercept[IllegalArgumentException] {
      Multimodal.Decoders.pngImage(pngOf(2, 1, 3, 0, 0, Array[Byte](0, 0)))
    }.getMessage should include("bit depth")
    intercept[IllegalArgumentException] {
      Multimodal.Decoders.pngImage(pngOf(2, 1, 4, 2, 0, Array[Byte](0, 0)))
    }.getMessage should include("bit depth")
    intercept[IllegalArgumentException] {
      Multimodal.Decoders.palettePng(2, 1, Array.fill(24)(1.toByte),
        Array[Byte](0, 0), bitDepth = 2)
    }.getMessage should include("cannot pack")
  }

  test("sub-8 palette PNG fuzz vs ImageIO: a <=16-color IndexColorModel " +
    "writes a 4-bit (or narrower) container — decode pixel-exact") {
    import java.awt.image.{BufferedImage, IndexColorModel}
    for (seed <- 1 to 3) {
      val n = 8 // <= 16 colors → the JDK PNG writer packs sub-8
      val r = Array.tabulate(n)(i => ((i * 37 + seed * 5) % 256).toByte)
      val g = Array.tabulate(n)(i => ((i * 59 + seed * 3) % 256).toByte)
      val b = Array.tabulate(n)(i => ((i * 71 + seed * 17) % 256).toByte)
      val (w, h) = (7 + seed, 5)
      // a 4-BIT IndexColorModel (TYPE_BYTE_BINARY carries 1/2/4-bit ICMs)
      // makes the JDK writer emit a packed sub-8 palette container —
      // an 8-bit ICM writes depth 8 regardless of map size
      val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_BINARY,
        new IndexColorModel(4, n, r, g, b))
      for (y <- 0 until h; x <- 0 until w)
        img.getRaster.setPixel(x, y, Array((x * 5 + y * 3 + seed) % n))
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out) shouldBe true
      val payload = out.toByteArray
      // IHDR depth byte (offset 24): the point of this fuzz is sub-8
      withClue(s"seed=$seed wrote depth ${payload(24)}: ") {
        (payload(24) & 0xff) should be < 8
      }
      val ours = Multimodal.Decoders.pngImage(payload)
      (ours.width, ours.height) shouldBe ((w, h))
      for (y <- 0 until h; x <- 0 until w) {
        val rgb = img.getRGB(x, y)
        val o = (y * w + x) * ours.channels
        withClue(s"seed=$seed ($x,$y): ") {
          (ours.pixels(o) & 0xff) shouldBe ((rgb >> 16) & 0xff)
          (ours.pixels(o + 1) & 0xff) shouldBe ((rgb >> 8) & 0xff)
          (ours.pixels(o + 2) & 0xff) shouldBe (rgb & 0xff)
        }
      }
    }
    // 1-bit grayscale from the JDK (TYPE_BYTE_BINARY)
    val bw = new java.awt.image.BufferedImage(9, 4,
      java.awt.image.BufferedImage.TYPE_BYTE_BINARY)
    for (y <- 0 until 4; x <- 0 until 9)
      bw.getRaster.setPixel(x, y, Array((x + y) % 2))
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(bw, "png", out) shouldBe true
    val ours = Multimodal.Decoders.pngImage(out.toByteArray)
    (ours.width, ours.height) shouldBe ((9, 4))
    // the JDK may emit 1-bit gray (1 channel) or a 2-entry palette (3);
    // either way the first channel is the black/white value
    for (y <- 0 until 4; x <- 0 until 9)
      withClue(s"($x,$y): ") {
        (ours.pixels((y * 9 + x) * ours.channels) & 0xff) shouldBe
          (if ((x + y) % 2 == 1) 255 else 0)
      }
  }

  test("bmpFromPixels row order is POSITION-SENSITIVE, not just mean-" +
    "preserved (ADVICE r10): raw payload bytes are bottom-up BGR, and a " +
    "single-row resize decode recovers the TOP row") {
    val rgb = Array[Byte](10, 20, 30, 50, 60, 70,       // top row
      90, 100, 110, 130.toByte, 140.toByte, 150.toByte) // bottom row
    val payload = Multimodal.Decoders.bmpFromPixels(2, 2, rgb)
    // raw container: file row 0 (offset 54) must be the image's BOTTOM
    // row in BGR — a top-down writer would put (30,20,10,…) here and the
    // channel means would NOT catch it
    payload.slice(54, 60).map(_ & 0xff).toSeq shouldBe
      Seq(110, 100, 90, 150, 140, 130)
    payload.slice(62, 68).map(_ & 0xff).toSeq shouldBe
      Seq(30, 20, 10, 70, 60, 50)
    // through the public decode path: NN resize to a single row keeps
    // sy = 0 — the TOP image row; a vertical flip would surface the
    // bottom row's values instead
    val top = Multimodal.Decoders.bmp24(
      Multimodal.Decoders.resizeBmp24(payload, 2, 1))
    top.take(3).toSeq shouldBe Seq(2.0, 1.0, 3.0)
    top(3) shouldBe (10 + 50) / 2.0  // mean R of the top row only
    top(4) shouldBe (20 + 60) / 2.0
    top(5) shouldBe (30 + 70) / 2.0
  }

  test("Adam7 interlaced PNG (NEW r12): hand-built pass layout — filters " +
    "reset per pass, samples deinterlace to their sequential positions") {
    // 3×3 grayscale, pixel (x,y) = y*3+x+1; non-empty Adam7 passes and
    // their pixels (W3C PNG §8.2): p1 (0,0); p4 (2,0); p5 (0,2),(2,2);
    // p6 (1,0),(1,2); p7 row y=1. Pass rows carry their OWN filters:
    // p6's second row uses Up (predecessor = p6's first row, NOT the
    // image row above), p7 uses Sub — a decoder that runs filters across
    // pass boundaries or in image order gets different pixels
    val filtered = Array[Byte](
      0, 1,          // p1: (0,0)=1
      0, 3,          // p4: (2,0)=3
      0, 7, 9,       // p5: (0,2)=7 (2,2)=9
      0, 2,          // p6 row 0: (1,0)=2
      2, 6,          // p6 row 1 (Up): 2+6=8 → (1,2)
      1, 4, 1, 1)    // p7 (Sub): 4, 4+1=5, 5+1=6 → row y=1
    val img = Multimodal.Decoders.pngImage(pngOf(3, 3, 8, 0, 1, filtered))
    (img.width, img.height, img.channels) shouldBe ((3, 3, 1))
    img.pixels.map(_ & 0xff).toSeq shouldBe (1 to 9)
  }

  test("interlaced assemblers round-trip: pngFromPixels / palettePng " +
    "(8-bit and packed sub-8) / png16FromSamples decode to EXACTLY their " +
    "sequential twins — interlacing is layout-only") {
    for (ch <- Seq(1, 2, 3, 4)) {
      val px = Array.tabulate(9 * 6 * ch)(i => fuzzByte(31L + ch, i).toByte)
      val seqImg = Multimodal.Decoders.pngImage(
        Multimodal.Decoders.pngFromPixels(9, 6, ch, px))
      val intImg = Multimodal.Decoders.pngImage(
        Multimodal.Decoders.pngFromPixels(9, 6, ch, px, interlaced = true))
      withClue(s"ch=$ch: ") {
        (intImg.width, intImg.height, intImg.channels) shouldBe
          ((seqImg.width, seqImg.height, seqImg.channels))
        intImg.pixels.toSeq shouldBe seqImg.pixels.toSeq
      }
    }
    val pal = Array.tabulate(24)(j => ((j * 41 + 5) % 256).toByte)
    val idx = Array.tabulate(9 * 6)(i => (fuzzByte(77L, i) % 8).toByte)
    val alpha = Some(Array.tabulate(5)(a => (a * 40 + 11).toByte))
    for (depth <- Seq(1, 2, 4, 8)) {
      val nColors = math.min(8, 1 << depth)
      val p = pal.take(nColors * 3)
      val a = alpha.map(_.take(math.min(5, nColors)))
      val d = if (depth < 4) idx.map(i => (i % (1 << depth)).toByte) else idx
      val s = Multimodal.Decoders.pngImage(
        Multimodal.Decoders.palettePng(9, 6, p, d, a, depth))
      val i = Multimodal.Decoders.pngImage(Multimodal.Decoders.palettePng(
        9, 6, p, d, a, depth, interlaced = true))
      withClue(s"palette depth=$depth: ") {
        i.channels shouldBe 4
        i.pixels.toSeq shouldBe s.pixels.toSeq
      }
    }
    val s16 = Array.tabulate(9 * 6 * 3)(i =>
      (fuzzByte(5L, i) << 8) | fuzzByte(6L, i))
    val a16 = Multimodal.Decoders.pngImage(
      Multimodal.Decoders.png16FromSamples(9, 6, 3, s16))
    val b16 = Multimodal.Decoders.pngImage(
      Multimodal.Decoders.png16FromSamples(9, 6, 3, s16, interlaced = true))
    a16.pixels.toSeq shouldBe b16.pixels.toSeq
  }

  test("16-bit PNG (NEW r12): decodes by the declared high-byte law " +
    "(sample8 = sample16 >> 8) at every color type; 9-bit-boundary " +
    "values land on the right side") {
    // hand-built 2×2 gray-16, Up filter on row 2: per-byte addition over
    // the two-byte samples — 0x1234+0x0100=0x1334, 0x5678+0x0100=0x5778,
    // so the decoded high bytes step 0x12→0x13, 0x56→0x57
    val filtered = Array[Byte](
      0, 0x12, 0x34, 0x56.toByte, 0x78,
      2, 0x01, 0x00, 0x01, 0x00)
    val img = Multimodal.Decoders.pngImage(pngOf(2, 2, 16, 0, 0, filtered))
    (img.width, img.height, img.channels) shouldBe ((2, 2, 1))
    img.pixels.map(_ & 0xff).toSeq shouldBe Seq(0x12, 0x56, 0x13, 0x57)
    // assembler round-trip at all channel counts: decoded byte == s >> 8
    // (boundary pair 0x00ff → 0, 0x0100 → 1 pins the law, not a rescale)
    for (ch <- Seq(1, 2, 3, 4)) {
      val s = Array.tabulate(5 * 4 * ch) {
        case 0 => 0x00ff
        case 1 => 0x0100
        case i => (fuzzByte(13L + ch, i) << 8) | fuzzByte(14L + ch, i)
      }
      val img2 = Multimodal.Decoders.pngImage(
        Multimodal.Decoders.png16FromSamples(5, 4, ch, s))
      withClue(s"ch=$ch: ") {
        img2.channels shouldBe ch
        img2.pixels.map(_ & 0xff).toSeq shouldBe s.map(_ >> 8).toSeq
      }
    }
  }

  test("interlaced + 16-bit PNG fuzz vs ImageIO, both directions") {
    import java.awt.image.BufferedImage
    // direction 1: ImageIO WRITES Adam7 (progressive mode) → we decode
    val types = Seq(
      (BufferedImage.TYPE_BYTE_GRAY, 1),
      (BufferedImage.TYPE_3BYTE_BGR, 3),
      (BufferedImage.TYPE_INT_ARGB, 4))
    for (seed <- 1L to 6L; (biType, channels) <- types) {
      val w = 4 + (seed % 9).toInt
      val h = 3 + (seed % 8).toInt
      val bi = new BufferedImage(w, h, biType)
      for (y <- 0 until h; x <- 0 until w)
        bi.getRaster.setPixel(x, y,
          Array.tabulate(channels)(c => fuzzByte(seed, (y * w + x) *
            channels + c)))
      val out = new java.io.ByteArrayOutputStream()
      val writer =
        javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
      val param = writer.getDefaultWriteParam
      param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
      val mos = new javax.imageio.stream.MemoryCacheImageOutputStream(out)
      writer.setOutput(mos)
      writer.write(null, new javax.imageio.IIOImage(bi, null, null), param)
      mos.close(); writer.dispose()
      val payload = out.toByteArray
      // confirm the stream really is interlaced (IHDR interlace byte = 1)
      val ihdrOff = payload.indexOfSlice("IHDR".getBytes("US-ASCII").toSeq)
      (payload(ihdrOff + 16) & 0xff) shouldBe 1
      val decoded = Multimodal.Decoders.pngImage(payload)
      withClue(s"seed=$seed ch=$channels: ") {
        (decoded.width, decoded.height, decoded.channels) shouldBe
          ((w, h, channels))
        val px = new Array[Int](channels)
        for (y <- 0 until h; x <- 0 until w) {
          bi.getRaster.getPixel(x, y, px)
          for (c <- 0 until channels)
            withClue(s"($x,$y) band $c: ") {
              (decoded.pixels((y * w + x) * channels + c) & 0xff) shouldBe
                px(c)
            }
        }
      }
    }
    // direction 2: OUR interlaced stream → ImageIO reads it back
    val px8 = Array.tabulate(9 * 6 * 3)(i => fuzzByte(21L, i).toByte)
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      Multimodal.Decoders.pngFromPixels(9, 6, 3, px8, interlaced = true)))
    (back.getWidth, back.getHeight) shouldBe ((9, 6))
    val p = new Array[Int](3)
    for (y <- 0 until 6; x <- 0 until 9) {
      back.getRaster.getPixel(x, y, p)
      withClue(s"($x,$y): ") {
        p.toSeq shouldBe (0 until 3).map(c =>
          px8((y * 9 + x) * 3 + c) & 0xff)
      }
    }
    // direction 1, 16-bit: ImageIO writes TYPE_USHORT_GRAY → we decode
    // to the high byte of each raster sample
    val g16 = new BufferedImage(7, 5, BufferedImage.TYPE_USHORT_GRAY)
    for (y <- 0 until 5; x <- 0 until 7)
      g16.getRaster.setSample(x, y, 0,
        (fuzzByte(3L, y * 7 + x) << 8) | fuzzByte(4L, y * 7 + x))
    val out16 = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(g16, "png", out16) shouldBe true
    val dec16 = Multimodal.Decoders.pngImage(out16.toByteArray)
    (dec16.width, dec16.height, dec16.channels) shouldBe ((7, 5, 1))
    for (y <- 0 until 5; x <- 0 until 7)
      withClue(s"($x,$y): ") {
        (dec16.pixels(y * 7 + x) & 0xff) shouldBe
          (g16.getRaster.getSample(x, y, 0) >> 8)
      }
    // direction 2, 16-bit: OUR 16-bit stream → ImageIO raster samples
    val s16 = Array.tabulate(7 * 5)(i =>
      (fuzzByte(8L, i) << 8) | fuzzByte(9L, i))
    val back16 = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(
        Multimodal.Decoders.png16FromSamples(7, 5, 1, s16)))
    for (y <- 0 until 5; x <- 0 until 7)
      withClue(s"($x,$y): ") {
        back16.getRaster.getSample(x, y, 0) shouldBe s16(y * 7 + x)
      }
  }

  test("GIF89a GCE transparency (NEW r12): transparent-index pixels keep " +
    "their palette RGB and carry alpha 0; the GCE covers exactly one " +
    "image; out-of-table transparent index is legal") {
    val idx = Array(0, 1, 2, 3, 1, 1, 2, 0, 3, 3, 0, 2, 1, 0, 2, 3)
    // frame 0 declares index 1 transparent, frame 1 has NO GCE — it must
    // decode plain RGB (a decoder that lets the GCE leak across images
    // comes back 4-channel here)
    val gif = Multimodal.Decoders.gif89FromIndices(4, 4,
      Seq(idx, idx), Seq(Some(1), None))
    val frames = Multimodal.Decoders.gif87Frames(gif)
    frames.map(_.channels) shouldBe Seq(4, 3)
    val palette = Seq((0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255))
    val f0 = frames.head
    for (i <- 0 until 16) withClue(s"pixel $i (index ${idx(i)}): ") {
      val (r, g, b) = palette(idx(i))
      (f0.pixels(4 * i) & 0xff, f0.pixels(4 * i + 1) & 0xff,
        f0.pixels(4 * i + 2) & 0xff) shouldBe ((r, g, b))
      (f0.pixels(4 * i + 3) & 0xff) shouldBe (if (idx(i) == 1) 0 else 255)
    }
    // transparent index beyond the 4-color table: legal per the spec —
    // no pixel matches it, so everything is opaque (and nothing throws)
    val outside = Multimodal.Decoders.gif87Frames(
      Multimodal.Decoders.gif89FromIndices(4, 4, Seq(idx), Seq(Some(7))))
    outside.head.channels shouldBe 4
    (0 until 16).foreach(i =>
      (outside.head.pixels(4 * i + 3) & 0xff) shouldBe 255)
  }

  test("interlaced GIF (NEW r12): four-pass row permutation is POSITION-" +
    "SENSITIVE — interlaced decode equals the sequential decode pixel by " +
    "pixel on an asymmetric frame") {
    // 4×8 reaches all four passes (rows 0,8.. / 4.. / 2,6.. / odd); one
    // distinct value per row makes any wrong permutation visible
    val idx = Array.tabulate(32)(i => (i / 4) % 4)
    val seqF = Multimodal.Decoders.gif87Frames(
      Multimodal.Decoders.gif89FromIndices(4, 8, Seq(idx), Seq(None))).head
    val intF = Multimodal.Decoders.gif87Frames(
      Multimodal.Decoders.gif89FromIndices(4, 8, Seq(idx), Seq(None),
        interlaced = true)).head
    (intF.width, intF.height, intF.channels) shouldBe ((4, 8, 3))
    intF.pixels.toSeq shouldBe seqF.pixels.toSeq
    // and the sequential decode really is the index law (not just equal
    // to another wrong layout)
    val palette = Seq((0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255))
    for (i <- 0 until 32)
      (seqF.pixels(3 * i) & 0xff, seqF.pixels(3 * i + 1) & 0xff,
        seqF.pixels(3 * i + 2) & 0xff) shouldBe palette(idx(i))
  }

  test("GIF fuzz vs ImageIO, both directions: transparency and interlace") {
    import java.awt.image.BufferedImage
    val idx = Array.tabulate(32)(i => (i * 7 + 3) % 4)
    // ours (GCE transparency) → ImageIO: alpha 0 exactly at the
    // transparent index, our palette colors elsewhere
    val gif = Multimodal.Decoders.gif89FromIndices(4, 8, Seq(idx.toArray),
      Seq(Some(2)))
    val bi = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(gif))
    (bi.getWidth, bi.getHeight) shouldBe ((4, 8))
    val palette = Seq((0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255))
    for (y <- 0 until 8; x <- 0 until 4) {
      val argb = bi.getRGB(x, y)
      val i = y * 4 + x
      withClue(s"($x,$y) index ${idx(i)}: ") {
        ((argb >>> 24) & 0xff) shouldBe (if (idx(i) == 2) 0 else 255)
        if (idx(i) != 2) {
          val (r, g, b) = palette(idx(i))
          (((argb >> 16) & 0xff, (argb >> 8) & 0xff, argb & 0xff)) shouldBe
            ((r, g, b))
        }
      }
    }
    // ours (interlaced) → ImageIO: pixel-exact
    val gifI = Multimodal.Decoders.gif89FromIndices(4, 8, Seq(idx.toArray),
      Seq(None), interlaced = true)
    val biI = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(gifI))
    for (y <- 0 until 8; x <- 0 until 4) {
      val argb = biI.getRGB(x, y)
      val (r, g, b) = palette(idx(y * 4 + x))
      withClue(s"($x,$y): ") {
        (((argb >> 16) & 0xff, (argb >> 8) & 0xff, argb & 0xff)) shouldBe
          ((r, g, b))
      }
    }
    // ImageIO WRITES (transparent IndexColorModel + progressive/interlaced
    // mode) → our decode: alpha and row order both pinned from the other
    // side. TYPE_BYTE_INDEXED with a transparent entry writes a GCE.
    val cmap = Array(0xff000000, 0xffff0000, 0x0000ff00, 0xff0000ff)
    val icm = new java.awt.image.IndexColorModel(2, 4,
      cmap, 0, true, 2, java.awt.image.DataBuffer.TYPE_BYTE)
    val img = new BufferedImage(4, 8, BufferedImage.TYPE_BYTE_INDEXED, icm)
    for (y <- 0 until 8; x <- 0 until 4)
      img.getRaster.setSample(x, y, 0, idx(y * 4 + x))
    val out = new java.io.ByteArrayOutputStream()
    val writer =
      javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val param = writer.getDefaultWriteParam
    param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    val mos = new javax.imageio.stream.MemoryCacheImageOutputStream(out)
    writer.setOutput(mos)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
    mos.close(); writer.dispose()
    val payload = out.toByteArray
    // confirm the writer really interlaced (descriptor flag 0x40)
    val descOff = payload.indices.find(i =>
      (payload(i) & 0xff) == 0x2c).get
    (payload(descOff + 9) & 0x40) shouldBe 0x40
    val ours = Multimodal.Decoders.gif87Frames(payload).head
    (ours.width, ours.height, ours.channels) shouldBe ((4, 8, 4))
    for (y <- 0 until 8; x <- 0 until 4) {
      val i = y * 4 + x
      withClue(s"($x,$y) index ${idx(i)}: ") {
        (ours.pixels(4 * i + 3) & 0xff) shouldBe (if (idx(i) == 2) 0 else 255)
        if (idx(i) != 2) {
          val (r, g, b) = palette(idx(i))
          (ours.pixels(4 * i) & 0xff, ours.pixels(4 * i + 1) & 0xff,
            ours.pixels(4 * i + 2) & 0xff) shouldBe ((r, g, b))
        }
      }
    }
  }

  test("gifCanvasFrames (NEW r12): patch placement, frame-over-frame " +
    "transparency, disposal 2 (clear rect) and 3 (restore previous) " +
    "compose exactly; out-of-screen patch refuses") {
    import Multimodal.Decoders.{GifPatch, gif89Anim, gifCanvasFrames}
    // 3x3 screen. f0: full red (index 1). f1: 2x2 patch at (1,1) of
    // [green, transparent(0), blue, transparent(0)], disposal 3 (restore).
    // f2: 1x1 patch at (0,0) green, disposal 2 (clear its rect).
    // f3: full-screen blue.
    val gif = gif89Anim(3, 3, Seq(
      GifPatch(0, 0, 3, 3, Array.fill(9)(1)),
      GifPatch(1, 1, 2, 2, Array(2, 0, 3, 0), transparent = Some(0),
        disposal = 3),
      GifPatch(0, 0, 1, 1, Array(2), disposal = 2),
      GifPatch(0, 0, 3, 3, Array.fill(9)(3))))
    val fs = gifCanvasFrames(gif)
    fs.length shouldBe 4
    fs.foreach { f => (f.width, f.height, f.channels) shouldBe ((3, 3, 4)) }
    def px(f: Multimodal.Decoders.Image, x: Int, y: Int) = {
      val o = 4 * (y * 3 + x)
      ((f.pixels(o) & 0xff, f.pixels(o + 1) & 0xff, f.pixels(o + 2) & 0xff),
        f.pixels(o + 3) & 0xff)
    }
    val red = (255, 0, 0); val green = (0, 255, 0); val blue = (0, 0, 255)
    // f0: all red, opaque
    for (y <- 0 until 3; x <- 0 until 3)
      px(fs(0), x, y) shouldBe ((red, 255))
    // f1: patch green at (1,1), blue at (1,2); transparent patch pixels
    // (2,1) and (2,2) REVEAL the red canvas underneath
    px(fs(1), 1, 1) shouldBe ((green, 255))
    px(fs(1), 2, 1) shouldBe ((red, 255))
    px(fs(1), 1, 2) shouldBe ((blue, 255))
    px(fs(1), 2, 2) shouldBe ((red, 255))
    px(fs(1), 0, 0) shouldBe ((red, 255))
    // f2: disposal 3 on f1 restored the all-red canvas BEFORE f2, then f2
    // drew one green pixel at (0,0)
    px(fs(2), 0, 0) shouldBe ((green, 255))
    px(fs(2), 1, 1) shouldBe ((red, 255)) // f1's patch is gone
    // f3 snapshot: full blue (drawn over whatever disposal 2 cleared)
    for (y <- 0 until 3; x <- 0 until 3)
      px(fs(3), x, y) shouldBe ((blue, 255))
    // disposal 2 cleared (0,0) after f2's snapshot — prove it with a
    // variant whose last frame DOESN'T cover the cleared pixel
    val gif2 = gif89Anim(3, 3, Seq(
      GifPatch(0, 0, 3, 3, Array.fill(9)(1)),
      GifPatch(0, 0, 1, 1, Array(2), disposal = 2),
      GifPatch(2, 2, 1, 1, Array(3))))
    val fs2 = gifCanvasFrames(gif2)
    px(fs2(2), 0, 0)._2 shouldBe 0 // cleared, never redrawn: transparent
    px(fs2(2), 2, 2) shouldBe ((blue, 255))
    px(fs2(2), 1, 1) shouldBe ((red, 255))
    // a patch outside the logical screen must refuse loudly: gif89Anim
    // itself guards, so hand-corrupt the descriptor's left coordinate
    val bad = gif89Anim(3, 3,
      Seq(GifPatch(2, 0, 1, 3, Array.fill(3)(1))))
    val descOff = bad.indices.find(i => (bad(i) & 0xff) == 0x2c).get
    bad(descOff + 1) = 3 // left: 2 -> 3, rect now ends at x=4 > 3
    intercept[IllegalArgumentException] {
      gifCanvasFrames(bad)
    }.getMessage should include("outside")
    // the standalone view is indifferent to placement — same bytes decode
    noException should be thrownBy Multimodal.Decoders.gif87Frames(bad)
  }

  test("gif89Anim patches read back in ImageIO: offsets in the stream " +
    "metadata, patch pixels exact") {
    import Multimodal.Decoders.{GifPatch, gif89Anim}
    val gif = gif89Anim(5, 4, Seq(
      GifPatch(0, 0, 5, 4, Array.tabulate(20)(i => i % 4)),
      GifPatch(2, 1, 2, 2, Array(1, 2, 3, 0))))
    val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
    reader.setInput(new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(gif)))
    reader.getNumImages(true) shouldBe 2
    // frame 1 is a 2x2 patch; its placement rides the image metadata
    val md = reader.getImageMetadata(1)
      .getAsTree("javax_imageio_gif_image_1.0")
      .asInstanceOf[org.w3c.dom.Element]
    val desc = md.getElementsByTagName("ImageDescriptor").item(0)
      .asInstanceOf[org.w3c.dom.Element]
    desc.getAttribute("imageLeftPosition") shouldBe "2"
    desc.getAttribute("imageTopPosition") shouldBe "1"
    val img1 = reader.read(1)
    (img1.getWidth, img1.getHeight) shouldBe ((2, 2))
    val palette = Seq((0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255))
    val want = Seq(1, 2, 3, 0).map(palette)
    for (y <- 0 until 2; x <- 0 until 2) {
      val argb = img1.getRGB(x, y)
      withClue(s"($x,$y): ") {
        (((argb >> 16) & 0xff, (argb >> 8) & 0xff, argb & 0xff)) shouldBe
          want(y * 2 + x)
      }
    }
    reader.dispose()
  }

  // -- container sniffing + quarantine twins (round 13) ---------------------

  private def webpBytes: Array[Byte] =
    "RIFF".getBytes ++ le32(20) ++ "WEBPVP8 ".getBytes ++ new Array[Byte](12)
  private def avifBytes: Array[Byte] =
    Array[Byte](0, 0, 0, 24) ++ "ftypavif".getBytes ++ new Array[Byte](12)
  private def tiffLeBytes: Array[Byte] =
    Array[Byte](0x49, 0x49, 0x2a, 0, 8, 0, 0, 0) ++ new Array[Byte](8)
  private def tiffBeBytes: Array[Byte] =
    Array[Byte](0x4d, 0x4d, 0, 0x2a, 0, 0, 0, 8) ++ new Array[Byte](8)

  test("sniffContainer: every supported magic plus the unsupported trio") {
    val D = Multimodal.Decoders
    D.sniffContainer(D.syntheticPng(7L)) shouldBe "png"
    D.sniffContainer(graft.engine.Jpeg.syntheticJpeg(7L)) shouldBe "jpeg"
    D.sniffContainer(D.syntheticGif87(7L)) shouldBe "gif"
    D.sniffContainer(D.syntheticBmp(7L)) shouldBe "bmp"
    D.sniffContainer(D.syntheticWav(7L)) shouldBe "wav"
    D.sniffContainer(webpBytes) shouldBe "webp"
    D.sniffContainer(avifBytes) shouldBe "avif"
    D.sniffContainer(Array[Byte](0, 0, 0, 24) ++ "ftypavis".getBytes ++
      new Array[Byte](12)) shouldBe "avif" // image-sequence brand
    D.sniffContainer(tiffLeBytes) shouldBe "tiff"
    D.sniffContainer(tiffBeBytes) shouldBe "tiff"
    // near-misses stay unknown: RIFF with a foreign form type, a bare
    // ftyp with a non-AVIF brand, short payloads, empty payloads
    D.sniffContainer("RIFF1234JUNK".getBytes) shouldBe "unknown"
    D.sniffContainer(Array[Byte](0, 0, 0, 24) ++ "ftypisom".getBytes ++
      new Array[Byte](12)) shouldBe "unknown"
    D.sniffContainer("GIF9".getBytes) shouldBe "unknown"
    D.sniffContainer(Array.empty[Byte]) shouldBe "unknown"
  }

  test("media dispatcher: NAMED refusal per container class, not one " +
    "generic failure") {
    val D = Multimodal.Decoders
    intercept[IllegalArgumentException] {
      D.media("image", webpBytes)
    }.getMessage should include("unsupported media container 'webp'")
    intercept[IllegalArgumentException] {
      D.media("image", avifBytes)
    }.getMessage should include("unsupported media container 'avif'")
    intercept[IllegalArgumentException] {
      D.media("image", tiffBeBytes)
    }.getMessage should include("unsupported media container 'tiff'")
    // a container the engine CAN decode, under the wrong kind
    intercept[IllegalArgumentException] {
      D.media("image", D.syntheticGif87(7L))
    }.getMessage should include("mismatched media container 'gif'")
    intercept[IllegalArgumentException] {
      D.media("audio", D.syntheticBmp(7L))
    }.getMessage should include("mismatched media container 'bmp'")
    // no magic at all
    intercept[IllegalArgumentException] {
      D.media("image", "no magic here".getBytes)
    }.getMessage should include("unrecognized image payload")
    // the valid paths still decode through the sniffing dispatcher
    D.media("image", D.syntheticBmp(7L)).length should be >= 6
    D.media("audio", D.syntheticWav(7L)).length shouldBe 4
  }

  test("extractFeaturesQuarantine: ok rows carry the loud twin's features, " +
    "bad rows carry (container, error_class), and the job finishes") {
    val D = Multimodal.Decoders
    val records = Seq(
      Multimodal.MediaRecord(0L, "image", D.syntheticPng(0L, channels = 3)),
      Multimodal.MediaRecord(1L, "image", webpBytes),
      Multimodal.MediaRecord(2L, "image", avifBytes),
      Multimodal.MediaRecord(3L, "image", tiffLeBytes),
      Multimodal.MediaRecord(4L, "image", D.syntheticPng(4L).take(16)),
      Multimodal.MediaRecord(5L, "image", {
        val p = D.syntheticPng(5L)
        p(p.length - 1) = (p(p.length - 1) ^ 0x5a).toByte; p
      }),
      Multimodal.MediaRecord(6L, "image", "garbage!".getBytes),
      Multimodal.MediaRecord(7L, "audio", D.syntheticWav(7L)),
      Multimodal.MediaRecord(8L, "audio", D.syntheticWav(8L).take(20)),
      Multimodal.MediaRecord(9L, "image", D.syntheticGif87(9L)),
      Multimodal.MediaRecord(10L, "weird", D.syntheticPng(10L)))
    val media = records.toDF()
    val out = Multimodal.extractFeatures(media, D.media,
        Multimodal.BadPayload.Quarantine)
      .orderBy("media_id").collect()
    out.length shouldBe 11
    def at(i: Int) = (out(i).getString(3), out(i).getBoolean(4),
      Option(out(i).getString(5)))
    at(0) shouldBe (("png", true, None))
    at(1) shouldBe (("webp", false, Some("unsupported_container")))
    at(2) shouldBe (("avif", false, Some("unsupported_container")))
    at(3) shouldBe (("tiff", false, Some("unsupported_container")))
    at(4) shouldBe (("png", false, Some("truncated")))
    at(5) shouldBe (("png", false, Some("malformed"))) // bad IEND CRC
    at(6) shouldBe (("unknown", false, Some("unrecognized_container")))
    at(7) shouldBe (("wav", true, None))
    at(8) shouldBe (("wav", false, Some("malformed"))) // header cut short
    at(9) shouldBe (("gif", false, Some("mismatched_container")))
    at(10) shouldBe (("png", false, Some("unknown_kind")))
    // ok rows: features EQUAL the loud twin's, element for element
    out(0).getSeq[Double](6) shouldBe D.media("image", records(0).payload).toSeq
    out(7).getSeq[Double](6) shouldBe D.media("audio", records(7).payload).toSeq
    // quarantined rows carry no features, and n_bytes is always populated
    out(1).isNullAt(6) shouldBe true
    out.map(_.getLong(2)) shouldBe records.map(_.payload.length.toLong)
    // the loud twin DOES kill the job on the same frame — the contrast
    // this surface exists for
    intercept[org.apache.spark.SparkException] {
      Multimodal.extractFeatures(media, D.media).collect()
    }
  }

  test("sampleFramesQuarantine: healthy payloads emit exactly the loud " +
    "rows; a bad payload emits ONE quarantine row") {
    val D = Multimodal.Decoders
    val healthy = Seq(
      Multimodal.MediaRecord(0L, "video", D.syntheticGif87(0L, nFrames = 4)),
      Multimodal.MediaRecord(1L, "video", D.syntheticGif87(1L, nFrames = 4)))
    val mixed = healthy ++ Seq(
      Multimodal.MediaRecord(2L, "video", D.syntheticGif87(2L).take(24)),
      Multimodal.MediaRecord(3L, "video", webpBytes))
    val out = Multimodal.sampleFrames(mixed.toDF(), everyN = 2,
        bad = Multimodal.BadPayload.Quarantine)
      .orderBy("media_id", "frame_ix").collect()
    out.length shouldBe 6 // 2 healthy x 2 sampled frames + 2 quarantine
    val loud = Multimodal.sampleFrames(healthy.toDF(), everyN = 2)
      .orderBy("media_id", "frame_ix").collect()
    out.take(4).map(r => (r.getLong(0), r.getLong(5), r.getInt(6),
      r.getInt(7), r.getDouble(8), r.getDouble(9), r.getDouble(10))) shouldBe
      loud.map(r => (r.getLong(0), r.getLong(2), r.getInt(3), r.getInt(4),
        r.getDouble(5), r.getDouble(6), r.getDouble(7)))
    out(4).getBoolean(3) shouldBe false
    out(4).getString(4) shouldBe "truncated" // mid-color-table cut
    out(4).getString(2) shouldBe "gif"
    out(4).isNullAt(5) shouldBe true
    out(5).getString(4) shouldBe "unsupported_container"
    out(5).getString(2) shouldBe "webp"
  }

  test("sampleAudioFramesQuarantine: integer frame stats match the loud " +
    "twin; truncated WAV quarantines") {
    val D = Multimodal.Decoders
    val healthy = Seq(
      Multimodal.MediaRecord(0L, "audio", D.syntheticWav(0L)),
      Multimodal.MediaRecord(1L, "audio", D.syntheticWav(1L, channels = 2)))
    val mixed = healthy :+
      Multimodal.MediaRecord(2L, "audio", D.syntheticWav(2L).take(20))
    val out = Multimodal.sampleAudioFrames(
        mixed.toDF(), frameLen = 16, bad = Multimodal.BadPayload.Quarantine)
      .orderBy("media_id", "frame_ix").collect()
    val loud = Multimodal.sampleAudioFrames(healthy.toDF(), frameLen = 16)
      .orderBy("media_id", "frame_ix").collect()
    out.length shouldBe loud.length + 1
    out.take(loud.length).map(r => (r.getLong(0), r.getLong(5), r.getLong(6),
      r.getLong(7), r.getLong(8), r.getLong(9))) shouldBe
      loud.map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6)))
    val q = out.last
    q.getLong(0) shouldBe 2L
    q.getBoolean(3) shouldBe false
    q.getString(4) shouldBe "malformed"
    q.getString(2) shouldBe "wav"
  }

  test("resizeImagesQuarantine: ok images resize like the loud twin, a " +
    "bad image keeps its ORIGINAL payload flagged, non-images pass") {
    val D = Multimodal.Decoders
    val mixed = Seq(
      Multimodal.MediaRecord(0L, "image", D.syntheticPng(0L, channels = 3)),
      Multimodal.MediaRecord(1L, "image", webpBytes),
      Multimodal.MediaRecord(2L, "audio", D.syntheticWav(2L)))
    val out = Multimodal.resizeImages(mixed.toDF(), 3, 3,
        bad = Multimodal.BadPayload.Quarantine)
      .orderBy("media_id").collect()
    out(0).getBoolean(3) shouldBe true
    val resized = out(0).getAs[Array[Byte]](5)
    resized.toSeq shouldBe D.resizeImage(mixed(0).payload, 3, 3).toSeq
    D.png(resized).take(2).toSeq shouldBe Seq(3.0, 3.0)
    out(1).getBoolean(3) shouldBe false
    out(1).getString(4) shouldBe "unsupported_container"
    out(1).getAs[Array[Byte]](5).toSeq shouldBe webpBytes.toSeq // kept
    out(2).getBoolean(3) shouldBe true // non-image passthrough
    out(2).getAs[Array[Byte]](5).toSeq shouldBe mixed(2).payload.toSeq
  }

  test("sampleFrames: the canvas view under Quarantine — healthy rows " +
    "equal Fail's canvas rows; a truncated GIF and a WebP quarantine") {
    val D = Multimodal.Decoders
    def anim(id: Long) = D.gif89Anim(4, 4, Seq(
      D.GifPatch(0, 0, 4, 4, Array.tabulate(16)(i => ((id + i) % 4).toInt)),
      D.GifPatch(1, 1, 2, 2, Array.tabulate(4)(i => ((id * 3 + i) % 4).toInt),
        transparent = Some(1), disposal = 2),
      D.GifPatch(2, 2, 2, 2, Array.tabulate(4)(i => ((id + 2 * i) % 4).toInt))))
    val healthy = Seq(0L, 1L).map(id =>
      Multimodal.MediaRecord(id, "video", anim(id)))
    val mixed = healthy ++ Seq(
      Multimodal.MediaRecord(2L, "video", anim(2L).take(24)),
      Multimodal.MediaRecord(3L, "video", webpBytes))
    val out = Multimodal.sampleFrames(mixed.toDF(),
        frames = D.gifCanvasFrames, bad = Multimodal.BadPayload.Quarantine)
      .orderBy("media_id", "frame_ix").collect()
    val loud = Multimodal.sampleFrames(healthy.toDF(),
        frames = D.gifCanvasFrames)
      .orderBy("media_id", "frame_ix").collect()
    loud.length shouldBe 6 // 2 healthy x 3 canvas frames
    out.length shouldBe 8  // + 2 quarantine rows
    // canvas frames are RGBA, so every healthy row carries mean_a
    out.take(6).map(r => (r.getLong(0), r.getBoolean(3), r.getLong(5),
      r.getInt(6), r.getInt(7), r.getDouble(8), r.getDouble(9),
      r.getDouble(10), r.getDouble(11))) shouldBe
      loud.map(r => (r.getLong(0), true, r.getLong(2), r.getInt(3),
        r.getInt(4), r.getDouble(5), r.getDouble(6), r.getDouble(7),
        r.getDouble(8)))
    (out(6).getLong(0), out(6).getString(2), out(6).getBoolean(3),
      out(6).getString(4)) shouldBe ((2L, "gif", false, "truncated"))
    (out(7).getLong(0), out(7).getString(2), out(7).getBoolean(3),
      out(7).getString(4)) shouldBe ((3L, "webp", false,
      "unsupported_container"))
    (5 until 12).foreach(i => out(6).isNullAt(i) shouldBe true)
  }
}
