package graft.engine

import Multimodal.Decoders.Image

/** Dependency-free JPEG codec (ITU-T T.81): baseline sequential (SOF0) AND
  * progressive (SOF2, Huffman) decode.
  *
  * The most common real-corpus image payload. The reference pipeline never
  * decodes media (its ingest surface is numeric REST/CSV —
  * fetch_data/common/utils.py:1); this tier is brief-driven "multimodal
  * columns" work. Decode supports what a 2026 web corpus actually carries:
  * 8-bit samples, grayscale or 3-component YCbCr, sampling factors 1–2 per
  * axis (4:4:4 / 4:2:2 / 4:2:0 / 4:4:0), restart markers, multi-table
  * DQT/DHT segments, fill bytes, APPn/COM skipping, and — since r11 — the
  * full progressive repertoire: multi-scan spectral selection, successive
  * approximation (DC and AC first + refinement passes, EOB runs),
  * interleaved DC / non-interleaved AC scans. Everything else fails
  * LOUDLY — arithmetic coding (SOF9+), hierarchical, lossless, 12-bit,
  * DNL — never degrades (the [[Multimodal]] decoder contract).
  *
  * Decode architecture: scans accumulate RAW (unquantized, zigzag-order)
  * coefficients into per-component arrays — the shape progressive
  * refinement requires — and a single render pass dequantizes, IDCTs and
  * color-converts once all scans are in (baseline renders after its one
  * scan). Chroma upsampling is nearest-neighbor replication (the spec
  * leaves the filter to the decoder; T.81 A.1.1 only fixes the sampling
  * grid).
  *
  * Encode: [[syntheticJpeg]]/[[encode]] emit valid BASELINE streams (real
  * FDCT, quantization, canonical Huffman, byte stuffing, optional restart
  * markers and 4:2:0); [[encodeProgressive]] emits valid PROGRESSIVE
  * streams (SOF2, interleaved DC scan, per-component banded AC scans with
  * real EOB-run coding) — the valid-payload generators for the media
  * queries. Huffman tables are deliberately uniform-length (all DC symbols
  * at 4 bits, all AC symbols at 8 bits) — a legal canonical code that keeps
  * the table literal small; decoders read the DHT so any conforming reader
  * accepts the stream (JpegSpec cross-checks against JDK ImageIO in both
  * directions, baseline and progressive).
  *
  * Decompression-bomb guard (ADVICE r10): header-declared dimensions are
  * capped at [[DefaultMaxPixels]] BEFORE any plane/coefficient allocation —
  * a ~20-byte crafted header can no longer demand multi-GB buffers — and
  * the output allocation is Long-checked including the channel factor.
  */
object Jpeg {

  /** Decode cap on header-declared pixel count (64 Mpx ≈ 192 MB RGB out +
    * ~256 MB coefficient state): large enough for any sane corpus image,
    * small enough that a crafted header cannot OOM the executor. Callers
    * with genuinely larger images raise `maxPixels` explicitly. */
  val DefaultMaxPixels: Long = 1L << 26

  /** JPEG magic-byte sniff (SOI then a marker byte). */
  def isJpeg(b: Array[Byte]): Boolean =
    b.length >= 3 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8 &&
      (b(2) & 0xff) == 0xff

  /** Natural-order index of zigzag position k (T.81 Figure A.6). */
  private val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63)

  /** cos((2x+1)·u·π/16) · C(u)/2 — the separable 8-point IDCT basis
    * (T.81 A.3.3). */
  private val Cos: Array[Array[Double]] = Array.tabulate(8, 8) { (x, u) =>
    math.cos((2 * x + 1) * u * math.Pi / 16) *
      (if (u == 0) math.sqrt(0.5) else 1.0) / 2.0
  }

  /** Canonical Huffman decode table per T.81 F.2.2.3 (MINCODE / MAXCODE /
    * VALPTR). `bits(l)` = number of codes of length l+1 (l = 0..15). */
  private final class HuffTable(bits: Array[Int], vals: Array[Int]) {
    require(bits.length == 16 && bits.sum == vals.length && vals.nonEmpty,
      s"bad Huffman table: ${bits.sum} codes, ${vals.length} values")
    private val minCode = new Array[Int](17)
    private val maxCode = Array.fill(17)(-1)
    private val valPtr = new Array[Int](17)
    locally {
      var code = 0; var k = 0; var l = 1
      while (l <= 16) {
        if (bits(l - 1) > 0) {
          valPtr(l) = k
          minCode(l) = code
          code += bits(l - 1); k += bits(l - 1)
          maxCode(l) = code - 1
        }
        // canonical validity is PER LEVEL: after assigning this length's
        // codes, at most 2^l codes may exist (e.g. bits=[3,0,…] — three
        // 1-bit codes — is impossible and must fail here, not decode
        // garbage; an end-of-loop check only catches gross overflow)
        require(code <= (1 << l), s"over-subscribed Huffman table " +
          s"($code codes at length $l)")
        code <<= 1
        l += 1
      }
    }
    def decode(br: BitReader): Int = {
      var code = br.bit()
      var l = 1
      while (code > maxCode(l)) {
        require(l < 16, "invalid Huffman code in entropy stream")
        code = (code << 1) | br.bit()
        l += 1
      }
      vals(valPtr(l) + code - minCode(l))
    }
  }

  /** MSB-first reader over entropy-coded data with 0xFF00 byte-stuffing.
    * A non-stuffed marker mid-read is corruption (restart markers are
    * consumed explicitly at MCU boundaries via [[expectRst]], never through
    * [[bit]]). */
  private final class BitReader(data: Array[Byte], var pos: Int) {
    private var cur = 0
    private var nbits = 0
    def bit(): Int = {
      if (nbits == 0) {
        require(pos < data.length, "truncated JPEG entropy stream")
        var b = data(pos) & 0xff
        pos += 1
        if (b == 0xff) {
          require(pos < data.length, "truncated JPEG entropy stream")
          val m = data(pos) & 0xff
          require(m == 0x00,
            f"unexpected marker 0xff$m%02x inside entropy-coded data")
          pos += 1
          b = 0xff
        }
        cur = b; nbits = 8
      }
      nbits -= 1
      (cur >> nbits) & 1
    }
    def bits(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }
    /** Byte-align, then consume the expected RSTn marker. Fill bytes
      * (extra 0xFF) before the marker code are legal before ANY marker
      * (T.81 B.1.1.2), restart markers included — skip them here just as
      * the segment-level marker walk does. */
    def expectRst(n: Int): Unit = {
      nbits = 0
      require(pos + 2 <= data.length, "truncated JPEG at restart marker")
      while ((data(pos) & 0xff) == 0xff && (data(pos + 1) & 0xff) == 0xff) {
        pos += 1
        require(pos + 2 <= data.length, "truncated JPEG at restart marker")
      }
      val got = ((data(pos) & 0xff) << 8) | (data(pos + 1) & 0xff)
      require(got == 0xffd0 + n,
        f"expected RST$n marker, found 0x$got%04x")
      pos += 2
    }
  }

  /** T.81 F.2.2.1 EXTEND: map the `t` received magnitude bits `v` to the
    * signed coefficient value. */
  private def extend(v: Int, t: Int): Int =
    if (t == 0) 0
    else if (v < (1 << (t - 1))) v - (1 << t) + 1
    else v

  private final class Component(val id: Int, val hi: Int, val vi: Int,
                                val tq: Int) {
    var td = 0
    var ta = 0
    /** RAW zigzag-order coefficients, 64 per block over the MCU-padded
      * block grid (blocksW × blocksH) — the accumulation target every
      * scan (baseline or progressive) writes into; [[render]]
      * dequantizes from here. */
    var coefs: Array[Int] = null
    /** MCU-padded block-grid dims (interleaved scans cover these). */
    var blocksW = 0
    var blocksH = 0
    /** Non-interleaved block-grid dims per T.81 A.2.2:
      * ceil(ceil(w·hi/hmax)/8) × ceil(ceil(h·vi/vmax)/8) — single-
      * component scans cover exactly these blocks, never the padding. */
    var nbW = 0
    var nbH = 0
  }

  /** Full decode — baseline sequential (SOF0) or progressive (SOF2) — to
    * an [[Image]] with `channels` 1 (gray) or 3 (RGB).
    * Same loud-failure contract as [[Multimodal.Decoders.pngImage]].
    * `maxPixels` bounds header-declared width×height before any
    * allocation (decompression-bomb guard, ADVICE r10). */
  def jpegImage(payload: Array[Byte],
                maxPixels: Long = DefaultMaxPixels): Image = {
    require(isJpeg(payload), "not a JPEG payload (bad SOI)")
    var pos = 2
    val qt = new Array[Array[Int]](4)
    val dcTabs = new Array[HuffTable](4)
    val acTabs = new Array[HuffTable](4)
    var width = -1
    var height = -1
    var comps: Array[Component] = null
    var restartInterval = 0
    var progressive = false
    var hmax = 0; var vmax = 0; var mcusX = 0; var mcusY = 0
    var scansDecoded = 0

    def be16(off: Int): Int = {
      require(off + 2 <= payload.length, "truncated JPEG segment")
      ((payload(off) & 0xff) << 8) | (payload(off + 1) & 0xff)
    }
    def segment(): (Int, Int) = { // (body start, body end)
      val len = be16(pos)
      require(len >= 2 && pos + len <= payload.length,
        s"bad JPEG segment length $len")
      val r = (pos + 2, pos + len)
      pos += len
      r
    }

    var out: Image = null
    while (out == null) {
      require(pos + 2 <= payload.length, "truncated JPEG (no SOS)")
      require((payload(pos) & 0xff) == 0xff,
        f"expected a marker at offset $pos")
      // fill bytes: any number of 0xff before the marker code (B.1.1.2)
      while ((payload(pos + 1) & 0xff) == 0xff) {
        pos += 1
        require(pos + 2 <= payload.length, "truncated JPEG (fill bytes)")
      }
      val marker = payload(pos + 1) & 0xff
      pos += 2
      marker match {
        case 0xdb => // DQT — possibly several tables in one segment
          val (start, end) = segment()
          var o = start
          while (o < end) {
            val pq = (payload(o) & 0xff) >> 4
            val tq = payload(o) & 0x0f
            require(pq == 0, "16-bit quantization tables not supported " +
              "(8-bit samples only)")
            require(tq < 4, s"bad DQT table id $tq")
            require(o + 65 <= end, "truncated DQT table")
            val t = new Array[Int](64)
            var k = 0
            while (k < 64) { // stored zigzag; keep natural order
              t(Zigzag(k)) = payload(o + 1 + k) & 0xff
              require(t(Zigzag(k)) > 0, "zero quantization step")
              k += 1
            }
            qt(tq) = t
            o += 65
          }
        case 0xc4 => // DHT — possibly several tables in one segment
          val (start, end) = segment()
          var o = start
          while (o < end) {
            val tc = (payload(o) & 0xff) >> 4
            val th = payload(o) & 0x0f
            require(tc < 2, s"bad DHT class $tc (arithmetic uses DAC)")
            require(th < 4, s"bad DHT table id $th")
            require(o + 17 <= end, "truncated DHT header")
            val bits = Array.tabulate(16)(i => payload(o + 1 + i) & 0xff)
            val n = bits.sum
            require(o + 17 + n <= end, "truncated DHT values")
            val vals = Array.tabulate(n)(i => payload(o + 17 + i) & 0xff)
            val tab = new HuffTable(bits, vals)
            if (tc == 0) dcTabs(th) = tab else acTabs(th) = tab
            o += 17 + n
          }
        case 0xc0 | 0xc2 => // SOF0 baseline sequential / SOF2 progressive
          val (start, end) = segment()
          require(comps == null, "multiple SOF segments")
          progressive = marker == 0xc2
          // header fields bound-checked against the SEGMENT end before
          // ANY read — a short segment must fail here, not read the next
          // marker's bytes as dimensions (ADVICE r10; the DRI fix twin)
          require(start + 6 <= end, "truncated SOF header")
          val precision = payload(start) & 0xff
          require(precision == 8,
            s"only 8-bit JPEG supported (precision=$precision)")
          height = be16(start + 1)
          width = be16(start + 3)
          require(width > 0, s"bad width $width")
          require(height > 0,
            "height 0 (DNL-deferred dimensions) not supported")
          require(width.toLong * height <= maxPixels,
            s"image larger than the $maxPixels-pixel decode cap: " +
              s"${width}x$height")
          val nf = payload(start + 5) & 0xff
          require(nf == 1 || nf == 3,
            s"only grayscale/YCbCr JPEG supported ($nf components)")
          require(start + 6 + 3 * nf <= end, "truncated SOF")
          comps = Array.tabulate(nf) { i =>
            val o = start + 6 + 3 * i
            val hv = payload(o + 1) & 0xff
            val c = new Component(payload(o) & 0xff, hv >> 4, hv & 0x0f,
              payload(o + 2) & 0x0f)
            require(c.hi >= 1 && c.hi <= 2 && c.vi >= 1 && c.vi <= 2,
              s"sampling factors ${c.hi}x${c.vi} not supported (1-2 only)")
            c
          }
          if (nf == 1) require(comps(0).hi == 1 && comps(0).vi == 1,
            "subsampled single-component JPEG not supported")
          // geometry + coefficient allocation now — every scan (of either
          // flavor) writes into these. The pixel cap above bounds the
          // total: coefs ≤ 64 ints per 64 pixels per component.
          hmax = comps.map(_.hi).max
          vmax = comps.map(_.vi).max
          mcusX = (width + 8 * hmax - 1) / (8 * hmax)
          mcusY = (height + 8 * vmax - 1) / (8 * vmax)
          comps.foreach { c =>
            c.blocksW = mcusX * c.hi
            c.blocksH = mcusY * c.vi
            c.nbW = ((width * c.hi + hmax - 1) / hmax + 7) / 8
            c.nbH = ((height * c.vi + vmax - 1) / vmax + 7) / 8
            require(c.blocksW.toLong * c.blocksH * 64 <= Int.MaxValue,
              s"image too large: ${width}x$height")
            c.coefs = new Array[Int](c.blocksW * c.blocksH * 64)
          }
        case x if x >= 0xc1 && x <= 0xcf && x != 0xc4 && x != 0xc8 &&
            x != 0xcc =>
          throw new IllegalArgumentException(f"unsupported JPEG SOF marker " +
            f"0xff$x%02x (baseline SOF0 and progressive SOF2 only — " +
            "arithmetic/hierarchical/lossless all refuse)")
        case 0xdd => // DRI
          val (start, end) = segment()
          // be16 alone bounds-checks against the PAYLOAD; an empty DRI
          // body would silently read the next marker's bytes as the
          // interval and misattribute the failure far downstream
          require(start + 2 <= end, "truncated DRI segment")
          restartInterval = be16(start)
        case 0xda => // SOS — one scan (baseline: the only one)
          val (start, end) = segment()
          require(comps != null, "SOS before SOF")
          require(start + 1 <= end, "truncated SOS header")
          val ns = payload(start) & 0xff
          require(ns >= 1 && ns <= comps.length,
            s"bad SOS component count $ns (SOF has ${comps.length})")
          require(start + 1 + 2 * ns + 3 <= end, "truncated SOS header")
          val scanComps = Array.tabulate(ns) { i =>
            val cs = payload(start + 1 + 2 * i) & 0xff
            val c = comps.find(_.id == cs).getOrElse(
              throw new IllegalArgumentException(
                s"SOS component $cs not in SOF"))
            val tdta = payload(start + 2 + 2 * i) & 0xff
            c.td = tdta >> 4
            c.ta = tdta & 0x0f
            c
          }
          val ss = payload(start + 1 + 2 * ns) & 0xff
          val se = payload(start + 2 + 2 * ns) & 0xff
          val ahal = payload(start + 3 + 2 * ns) & 0xff
          val ah = ahal >> 4
          val al = ahal & 0x0f
          if (!progressive) {
            require(ns == comps.length,
              s"only a single interleaved scan is supported in baseline " +
                s"($ns of ${comps.length} components in SOS)")
            require(ss == 0 && se == 63 && ah == 0 && al == 0,
              s"non-baseline spectral selection Ss=$ss Se=$se " +
                s"AhAl=$ahal in a baseline stream")
          } else {
            require(al <= 13 && (ah == 0 || ah == al + 1),
              s"bad successive approximation Ah=$ah Al=$al")
            if (ss == 0)
              require(se == 0, s"progressive DC scan must have Se=0 " +
                s"(Ss=0 Se=$se)")
            else {
              require(se >= ss && se <= 63, s"bad spectral band " +
                s"Ss=$ss Se=$se")
              require(ns == 1,
                "progressive AC scans must be non-interleaved")
            }
          }
          pos = decodeScanInto(payload, pos, scanComps, ss, se, ah, al,
            dcTabs, acTabs, restartInterval, mcusX, mcusY)
          scansDecoded += 1
          if (!progressive)
            out = render(width, height, comps, qt, hmax, vmax)
        case 0xd9 => // EOI
          if (progressive && scansDecoded > 0)
            out = render(width, height, comps, qt, hmax, vmax)
          else throw new IllegalArgumentException(
            "EOI before any image data")
        case x if (x >= 0xe0 && x <= 0xef) || x == 0xfe =>
          segment() // APPn / COM — metadata, skipped
        case 0x01 => () // TEM — standalone, no segment body
        case other =>
          throw new IllegalArgumentException(
            f"unsupported JPEG marker 0xff$other%02x")
      }
    }
    out
  }

  /** Entropy-decode one scan into the components' coefficient arrays and
    * return the byte position just past the scan's entropy data.
    * Dispatches on (Ss, Se, Ah): baseline full-band, progressive DC
    * first/refine, progressive AC first/refine (T.81 F.2 / G.2). MCU
    * traversal: interleaved over the MCU grid when the scan carries >1
    * component, non-interleaved raster over the component's own block
    * grid when it carries 1 (T.81 A.2). */
  private def decodeScanInto(payload: Array[Byte], scanStart: Int,
                             scanComps: Array[Component],
                             ss: Int, se: Int, ah: Int, al: Int,
                             dcTabs: Array[HuffTable],
                             acTabs: Array[HuffTable],
                             restartInterval: Int,
                             mcusX: Int, mcusY: Int): Int = {
    // per-scan table presence: DC-first scans Huffman-decode with the DC
    // table; any AC-coded scan (band or baseline full-band) with the AC
    // table; DC REFINEMENT scans read raw bits only — no table needed
    if (ss == 0 && ah == 0) scanComps.foreach(c =>
      require(dcTabs(c.td) != null,
        s"component ${c.id} references missing DC Huffman table ${c.td}"))
    if (se > 0) scanComps.foreach(c =>
      require(acTabs(c.ta) != null,
        s"component ${c.id} references missing AC Huffman table ${c.ta}"))
    val br = new BitReader(payload, scanStart)
    val pred = new Array[Int](scanComps.length)
    var eobrun = 0
    var rstN = 0
    val interleaved = scanComps.length > 1
    val totalUnits: Long =
      if (interleaved) mcusX.toLong * mcusY
      else scanComps(0).nbW.toLong * scanComps(0).nbH
    var unit = 0L
    while (unit < totalUnits) {
      if (restartInterval > 0 && unit > 0 && unit % restartInterval == 0) {
        br.expectRst(rstN)
        rstN = (rstN + 1) & 7
        java.util.Arrays.fill(pred, 0)
        eobrun = 0
      }
      if (interleaved) {
        val my = (unit / mcusX).toInt
        val mx = (unit % mcusX).toInt
        var ci = 0
        while (ci < scanComps.length) {
          val c = scanComps(ci)
          var by = 0
          while (by < c.vi) {
            var bx = 0
            while (bx < c.hi) {
              val base =
                ((my * c.vi + by) * c.blocksW + (mx * c.hi + bx)) * 64
              eobrun = decodeBlock(br, c, base, ci, pred, ss, se, ah, al,
                eobrun, dcTabs, acTabs)
              bx += 1
            }
            by += 1
          }
          ci += 1
        }
      } else {
        val c = scanComps(0)
        val by = (unit / c.nbW).toInt
        val bx = (unit % c.nbW).toInt
        val base = (by * c.blocksW + bx) * 64
        eobrun = decodeBlock(br, c, base, 0, pred, ss, se, ah, al,
          eobrun, dcTabs, acTabs)
      }
      unit += 1
    }
    br.pos
  }

  /** Decode one 8×8 block's contribution for the current scan into
    * `c.coefs(base..base+63)` (zigzag order, raw values). Returns the
    * updated EOB-run count (blocks REMAINING after this one — 0 outside
    * progressive AC scans). */
  private def decodeBlock(br: BitReader, c: Component, base: Int, ci: Int,
                          pred: Array[Int], ss: Int, se: Int,
                          ah: Int, al: Int, eobrunIn: Int,
                          dcTabs: Array[HuffTable],
                          acTabs: Array[HuffTable]): Int = {
    var eobrun = eobrunIn
    if (ss == 0) {
      if (ah == 0) { // DC first pass (T.81 F.2.2.1 / G.2.1): cumulative
        // prediction, point transform by Al
        val t = dcTabs(c.td).decode(br)
        require(t <= 11, s"bad DC category $t")
        pred(ci) += extend(br.bits(t), t)
        c.coefs(base) = pred(ci) << al
      } else { // DC refinement: one raw bit appends bit Al
        if (br.bit() == 1) c.coefs(base) |= (1 << al)
      }
    }
    if (se == 63 && ss == 0) { // baseline full-band AC (F.2.2.2)
      var k = 1
      var eob = false
      while (k < 64 && !eob) {
        val rs = acTabs(c.ta).decode(br)
        val r = rs >> 4
        val s = rs & 0x0f
        if (s == 0) {
          if (r == 15) {
            k += 16 // ZRL: 16 zeros
            // k == 64 (zeros filling exactly to coefficient 63) is
            // accepted — libjpeg-legal; past that the zeros overflow
            // the block: corrupt, and loud like the literal branch
            require(k <= 64, "ZRL past end of block")
          } else eob = true // EOB
        } else {
          k += r
          require(k < 64, "AC run past end of block")
          require(s <= 10, s"bad AC size $s")
          c.coefs(base + k) = extend(br.bits(s), s)
          k += 1
        }
      }
    } else if (ss > 0) {
      eobrun =
        if (ah == 0) acFirst(br, c.coefs, base, ss, se, al, eobrun,
          acTabs(c.ta))
        else acRefine(br, c.coefs, base, ss, se, al, eobrun, acTabs(c.ta))
    }
    eobrun
  }

  /** Progressive AC first pass over band [ss, se] (T.81 G.2.2): run/size
    * coding like baseline but band-bounded, values point-transformed by
    * Al, plus EOBn run coding — an EOBn symbol (r < 15, s = 0) ends this
    * block and declares the next (1<<r)−1+bits(r) blocks' bands all-zero. */
  private def acFirst(br: BitReader, coefs: Array[Int], base: Int,
                      ss: Int, se: Int, al: Int, eobrunIn: Int,
                      ac: HuffTable): Int = {
    var eobrun = eobrunIn
    if (eobrun > 0) { eobrun -= 1; return eobrun } // block inside a run
    var k = ss
    while (k <= se) {
      val rs = ac.decode(br)
      val r = rs >> 4
      val s = rs & 0x0f
      if (s == 0) {
        if (r < 15) { // EOBn
          eobrun = (1 << r) - 1 + (if (r > 0) br.bits(r) else 0)
          k = se + 1
        } else { // ZRL
          k += 16
          require(k <= se + 1, "ZRL past end of band")
        }
      } else {
        k += r
        require(k <= se, "AC run past end of band")
        require(s <= 10, s"bad AC size $s")
        coefs(base + k) = extend(br.bits(s), s) << al
        k += 1
      }
    }
    eobrun
  }

  /** Progressive AC refinement pass over band [ss, se] (T.81 G.2.2
    * successive approximation): newly-nonzero coefficients arrive as
    * ±(1<<Al) (size must be 1); every already-nonzero coefficient crossed
    * carries one correction bit (set → magnitude grows by 1<<Al); EOBn
    * switches the rest of the band (and the next run of blocks) to
    * correction-only. The two's-complement bit test `(c & p1) == 0` is
    * exact because every value at this stage is a multiple of 1<<Al. */
  private def acRefine(br: BitReader, coefs: Array[Int], base: Int,
                       ss: Int, se: Int, al: Int, eobrunIn: Int,
                       ac: HuffTable): Int = {
    val p1 = 1 << al
    val m1 = -1 << al
    var eobrun = eobrunIn
    var k = ss
    var endBand = false // did this block enter an EOB region?
    def correct(idx: Int): Unit = {
      val c0 = coefs(idx)
      if (br.bit() == 1 && (c0 & p1) == 0)
        coefs(idx) = if (c0 >= 0) c0 + p1 else c0 + m1
    }
    if (eobrun > 0) {
      eobrun -= 1
      endBand = true
    } else {
      var inBand = true
      while (inBand && k <= se) {
        val rs = ac.decode(br)
        var r = rs >> 4
        val s = rs & 0x0f
        var newVal = 0
        if (s == 0) {
          if (r < 15) { // EOBn: run covers blocks AFTER this one
            eobrun = (1 << r) - 1 + (if (r > 0) br.bits(r) else 0)
            inBand = false
            endBand = true
          }
          // r == 15 (ZRL): skip 16 zero-history coefficients below
        } else {
          require(s == 1, s"AC refinement size $s (must be 1)")
          newVal = if (br.bit() == 1) p1 else m1
        }
        if (inBand) {
          var placed = false
          while (!placed && k <= se) {
            if (coefs(base + k) != 0) correct(base + k)
            else {
              if (r == 0) {
                if (s != 0) coefs(base + k) = newVal
                placed = true
              }
              r -= 1
            }
            k += 1
          }
          require(placed || s == 0, "AC refinement run past end of band")
          // a ZRL (r=15, s=0) whose 16 zero-history slots don't fit the
          // band is the same desync acFirst rejects explicitly — without
          // this check the loop exits at se with the run half-consumed and
          // the stream decodes garbage instead of failing loudly
          require(placed || s != 0 || r < 0, "ZRL past end of band")
        }
      }
    }
    if (endBand) { // correction-only tail of this block's band
      while (k <= se) {
        if (coefs(base + k) != 0) correct(base + k)
        k += 1
      }
    }
    eobrun
  }

  /** Render accumulated coefficients: dequantize + IDCT every block of
    * every component into sample planes, then upsample (nearest-neighbor
    * replication) + color-convert. */
  private def render(width: Int, height: Int, comps: Array[Component],
                     qt: Array[Array[Int]], hmax: Int,
                     vmax: Int): Image = {
    val coef = new Array[Int](64)
    val tmp = new Array[Double](64)
    val planes = comps.map { c =>
      require(qt(c.tq) != null, s"component ${c.id} references missing " +
        s"quantization table ${c.tq}")
      val q = qt(c.tq)
      val planeW = c.blocksW * 8
      val plane = new Array[Byte](planeW * c.blocksH * 8)
      var blk = 0
      val nBlocks = c.blocksW * c.blocksH
      while (blk < nBlocks) {
        val base = blk * 64
        var k = 0
        while (k < 64) { // zigzag raw → natural dequantized
          val nat = Zigzag(k)
          coef(nat) = c.coefs(base + k) * q(nat)
          k += 1
        }
        // ---- IDCT (separable, double precision) + level shift ----
        var y = 0
        while (y < 8) { // rows: tmp(y,x) = sum_u coef(y,u)·basis(x,u)
          var x = 0
          while (x < 8) {
            var acc = 0.0
            var u = 0
            while (u < 8) {
              acc += coef(y * 8 + u) * Cos(x)(u)
              u += 1
            }
            tmp(y * 8 + x) = acc
            x += 1
          }
          y += 1
        }
        val px = (blk % c.blocksW) * 8
        val py = (blk / c.blocksW) * 8
        var x = 0
        while (x < 8) { // cols, then clamp into the plane
          var yy = 0
          while (yy < 8) {
            var acc = 0.0
            var v = 0
            while (v < 8) {
              acc += tmp(v * 8 + x) * Cos(yy)(v)
              v += 1
            }
            val s = math.round(acc + 128).toInt
            plane((py + yy) * planeW + px + x) =
              (if (s < 0) 0 else if (s > 255) 255 else s).toByte
            yy += 1
          }
          x += 1
        }
        blk += 1
      }
      plane
    }
    if (comps.length == 1) {
      val planeW = comps(0).blocksW * 8
      val pix = new Array[Byte](width * height)
      var y = 0
      while (y < height) {
        System.arraycopy(planes(0), y * planeW, pix, y * width, width)
        y += 1
      }
      Image(width, height, 1, pix)
    } else {
      val cy = comps(0); val cb = comps(1); val cr = comps(2)
      val wY = cy.blocksW * 8; val wB = cb.blocksW * 8; val wR = cr.blocksW * 8
      // Long-checked INCLUDING the ×channels factor: dims near the cap
      // must fail this check, not wrap through Int in the * 3 (ADVICE r10)
      require(width.toLong * height * 3 <= Int.MaxValue,
        s"decoded image too large: ${width}x${height}x3")
      val pix = new Array[Byte](width * height * 3)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          val lum = planes(0)((y * cy.vi / vmax) * wY + x * cy.hi / hmax) & 0xff
          val b1 = (planes(1)(
            (y * cb.vi / vmax) * wB + x * cb.hi / hmax) & 0xff) - 128
          val r1 = (planes(2)(
            (y * cr.vi / vmax) * wR + x * cr.hi / hmax) & 0xff) - 128
          val o = (y * width + x) * 3
          pix(o) = clamp8(math.round(lum + 1.402 * r1).toInt)
          pix(o + 1) = clamp8(math.round(
            lum - 0.344136 * b1 - 0.714136 * r1).toInt)
          pix(o + 2) = clamp8(math.round(lum + 1.772 * b1).toInt)
          x += 1
        }
        y += 1
      }
      Image(width, height, 3, pix)
    }
  }

  private def clamp8(v: Int): Byte =
    (if (v < 0) 0 else if (v > 255) 255 else v).toByte

  // ------------------------------------------------------------------
  // Encoder — the valid-payload generator (real FDCT + quantization +
  // canonical Huffman + byte stuffing; optional 4:2:0 and restarts).
  // ------------------------------------------------------------------

  /** Uniform quantization steps: fine enough that synthetic content
    * survives recognizably, coarse enough to exercise real quantization. */
  private val QLuma = 16
  private val QChroma = 24

  /** Uniform-length canonical Huffman specs (see object doc): all 12 DC
    * categories at 4 bits, all 162 baseline AC symbols at 8 bits. */
  private val DcBits = Array(0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  private val DcVals = Array.tabulate(12)(identity)
  private val AcBits = Array(0, 0, 0, 0, 0, 0, 0, 162, 0, 0, 0, 0, 0, 0, 0, 0)
  private val AcVals: Array[Int] =
    Array(0x00, 0xf0) ++
      (for (r <- 0 until 16; s <- 1 to 10) yield (r << 4) | s)
  private val AcCode: Map[Int, Int] = AcVals.zipWithIndex.toMap

  /** Progressive AC symbol set = the baseline 162 plus the 14 EOBn
    * symbols 0x10..0xE0 (T.81 G.1.2.2 — EOB run-length categories 1–14);
    * all 176 at 8 bits, still a legal canonical code. */
  private val ProgAcVals: Array[Int] =
    Array(0x00, 0xf0) ++ (1 to 14).map(_ << 4) ++
      (for (r <- 0 until 16; s <- 1 to 10) yield (r << 4) | s)
  private val ProgAcBits =
    Array(0, 0, 0, 0, 0, 0, 0, ProgAcVals.length, 0, 0, 0, 0, 0, 0, 0, 0)
  private val ProgAcCode: Map[Int, Int] = ProgAcVals.zipWithIndex.toMap

  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var acc = 0
    private var nbits = 0
    def put(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        acc = (acc << 1) | ((code >> i) & 1)
        nbits += 1
        if (nbits == 8) {
          out.write(acc)
          if (acc == 0xff) out.write(0x00) // byte stuffing (B.1.1.5)
          acc = 0; nbits = 0
        }
        i -= 1
      }
    }
    /** Pad the final partial byte with 1-bits (F.1.2.3). */
    def flush(): Unit = if (nbits > 0) {
      acc = (acc << (8 - nbits)) | ((1 << (8 - nbits)) - 1)
      out.write(acc)
      if (acc == 0xff) out.write(0x00)
      acc = 0; nbits = 0
    }
  }

  private def magnitudeBits(v: Int): (Int, Int) = { // (category, value bits)
    if (v == 0) (0, 0)
    else {
      val a = math.abs(v)
      val s = 32 - Integer.numberOfLeadingZeros(a)
      (s, if (v < 0) v + (1 << s) - 1 else v)
    }
  }

  /** Forward DCT + uniform quantization of one level-shifted 8x8 block;
    * returns coefficients in NATURAL order. */
  private def fdctQuant(block: Array[Double], q: Int): Array[Int] = {
    val tmp = new Array[Double](64)
    var u = 0
    while (u < 8) { // rows
      var x = 0
      while (x < 8) {
        var acc = 0.0
        var i = 0
        while (i < 8) { acc += block(u * 8 + i) * Cos(i)(x); i += 1 }
        tmp(u * 8 + x) = acc
        x += 1
      }
      u += 1
    }
    val out = new Array[Int](64)
    var v = 0
    while (v < 8) { // cols; Cos already carries C(u)/2 so fwd = transpose
      var x = 0
      while (x < 8) {
        var acc = 0.0
        var i = 0
        while (i < 8) { acc += tmp(i * 8 + x) * Cos(i)(v); i += 1 }
        out(v * 8 + x) = math.round(acc / q).toInt
        x += 1
      }
      v += 1
    }
    out
  }

  private def encodeBlock(bw: BitWriter, coef: Array[Int],
                          pred: Int): Int = {
    val (cat, bits) = magnitudeBits(coef(0) - pred)
    require(cat <= 11, s"DC difference category $cat out of baseline range")
    bw.put(cat, 4) // DC: uniform 4-bit codes == the category itself
    if (cat > 0) bw.put(bits, cat)
    var k = 1
    var run = 0
    while (k < 64) {
      val v = coef(Zigzag(k))
      if (v == 0) run += 1
      else {
        while (run >= 16) { bw.put(AcCode(0xf0), 8); run -= 16 }
        val (s, b) = magnitudeBits(v)
        require(s <= 10, s"AC magnitude category $s out of baseline range")
        bw.put(AcCode((run << 4) | s), 8)
        bw.put(b, s)
        run = 0
      }
      k += 1
    }
    if (run > 0) bw.put(AcCode(0x00), 8) // EOB
    coef(0)
  }

  /** Deterministic VALID baseline JPEG: pixel bytes are a pure function of
    * `seed` (the [[Multimodal.Decoders.syntheticPng]] pattern). `channels`
    * 1 (grayscale) or 3 (color); `subsample` selects 4:2:0 for color;
    * `restartEvery` > 0 emits DRI + RSTn markers every that many MCUs. */
  def syntheticJpeg(seed: Long, w: Int = 16, h: Int = 16, channels: Int = 3,
                    subsample: Boolean = false,
                    restartEvery: Int = 0): Array[Byte] = {
    encode(seedPixels(seed, w, h, channels), w, h, channels,
      subsample && channels == 3, restartEvery)
  }

  /** Deterministic VALID progressive JPEG over the same pixel law as
    * [[syntheticJpeg]] — seed-for-seed the two containers hold the SAME
    * image, so specs can assert baseline-vs-progressive decode parity. */
  def syntheticProgressiveJpeg(seed: Long, w: Int = 16, h: Int = 16,
                               channels: Int = 3,
                               subsample: Boolean = false): Array[Byte] =
    encodeProgressive(seedPixels(seed, w, h, channels), w, h, channels,
      subsample && channels == 3)

  private def seedPixels(seed: Long, w: Int, h: Int,
                         channels: Int): Array[Int] = {
    require(w > 0 && h > 0, s"bad dimensions ${w}x$h")
    require(channels == 1 || channels == 3, s"channels must be 1/3: $channels")
    Array.tabulate(w * h * channels)(i =>
      ((java.lang.Long.rotateLeft(seed * 0x9e3779b97f4a7c15L, i % 61) >>>
        (i % 7)) & 0xff).toInt)
  }

  /** Shared encoder front half: interleaved 0-255 samples → level-shifted
    * component planes + per-component geometry. Returns (planes, compW,
    * compH, hi, vi, q). */
  private def preparePlanes(px: Array[Int], w: Int, h: Int, channels: Int,
                            subsample: Boolean):
      (Array[Array[Double]], Array[Int], Array[Int], Array[Int],
        Array[Int], Array[Int]) = {
    val hY = if (subsample) 2 else 1
    val planes: Array[Array[Double]] =
      if (channels == 1) Array(Array.tabulate(w * h)(i => px(i) - 128.0))
      else {
        val y = new Array[Double](w * h)
        val cbF = new Array[Double](w * h)
        val crF = new Array[Double](w * h)
        var i = 0
        while (i < w * h) {
          val r = px(3 * i); val g = px(3 * i + 1); val b = px(3 * i + 2)
          y(i) = 0.299 * r + 0.587 * g + 0.114 * b - 128.0
          cbF(i) = -0.168736 * r - 0.331264 * g + 0.5 * b
          crF(i) = 0.5 * r - 0.418688 * g - 0.081312 * b
          i += 1
        }
        if (!subsample) Array(y, cbF, crF)
        else { // average each 2x2 (or clipped) neighborhood
          val cw = (w + 1) / 2; val ch2 = (h + 1) / 2
          def down(src: Array[Double]): Array[Double] =
            Array.tabulate(cw * ch2) { j =>
              val cx = j % cw; val cy = j / cw
              var s = 0.0; var n = 0
              var dy = 0
              while (dy < 2) {
                var dx = 0
                while (dx < 2) {
                  val sx = 2 * cx + dx; val sy = 2 * cy + dy
                  if (sx < w && sy < h) { s += src(sy * w + sx); n += 1 }
                  dx += 1
                }
                dy += 1
              }
              s / n
            }
          Array(y, down(cbF), down(crF))
        }
      }
    val compW = Array.tabulate(planes.length)(i =>
      if (i == 0 || !subsample) w else (w + 1) / 2)
    val compH = Array.tabulate(planes.length)(i =>
      if (i == 0 || !subsample) h else (h + 1) / 2)
    val hi = Array.tabulate(planes.length)(i => if (i == 0) hY else 1)
    val vi = hi.clone()
    val q = Array.tabulate(planes.length)(i => if (i == 0) QLuma else QChroma)
    (planes, compW, compH, hi, vi, q)
  }

  /** Edge-replicated FDCT+quant of the block at block coords (bx, by) of
    * component `ci`. */
  private def blockAt(planes: Array[Array[Double]], compW: Array[Int],
                      compH: Array[Int], q: Array[Int], ci: Int,
                      bx: Int, by: Int): Array[Int] = {
    val block = new Array[Double](64)
    val px0 = bx * 8
    val py0 = by * 8
    var yy = 0
    while (yy < 8) {
      var xx = 0
      while (xx < 8) {
        val sx = math.min(px0 + xx, compW(ci) - 1)
        val sy = math.min(py0 + yy, compH(ci) - 1)
        block(yy * 8 + xx) = planes(ci)(sy * compW(ci) + sx)
        xx += 1
      }
      yy += 1
    }
    fdctQuant(block, q(ci))
  }

  /** Assemble the full BASELINE stream from interleaved 0-255 samples. */
  private[graft] def encode(px: Array[Int], w: Int, h: Int, channels: Int,
                            subsample: Boolean,
                            restartEvery: Int): Array[Byte] = {
    require(w > 0 && h > 0, s"bad dimensions ${w}x$h")
    require(channels == 1 || channels == 3, s"channels must be 1/3: $channels")
    require(restartEvery >= 0, s"bad restart interval $restartEvery")
    val (planes, compW, compH, hi, vi, q) =
      preparePlanes(px, w, h, channels, subsample)

    val out = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v & 0xff)
    def seg(marker: Int, body: Array[Int]): Unit = {
      u8(0xff); u8(marker); u8((body.length + 2) >> 8); u8(body.length + 2)
      body.foreach(u8)
    }
    u8(0xff); u8(0xd8) // SOI
    // DQT: both tables in one segment (multi-table parsing is part of the
    // decode surface this generator exercises)
    val nQt = if (channels == 1) 1 else 2
    seg(0xdb, (0 until nQt).toArray.flatMap { t =>
      Array(t) ++ Array.tabulate(64)(k => if (t == 0) QLuma else QChroma)
    })
    // SOF0
    seg(0xc0, Array(8, h >> 8, h & 0xff, w >> 8, w & 0xff, planes.length) ++
      (0 until planes.length).flatMap(i =>
        Array(i + 1, (hi(i) << 4) | vi(i), if (i == 0) 0 else 1)).toArray)
    // DHT: DC + AC class-0 tables in one segment; all components share them
    seg(0xc4,
      Array(0x00) ++ DcBits ++ DcVals ++ Array(0x10) ++ AcBits ++ AcVals)
    if (restartEvery > 0) seg(0xdd, Array(restartEvery >> 8, restartEvery & 0xff))
    // SOS
    seg(0xda, Array(planes.length) ++
      (0 until planes.length).flatMap(i => Array(i + 1, 0)).toArray ++
      Array(0, 63, 0))
    // entropy-coded data
    val hmax = hi.max; val vmax = vi.max
    val mcusX = (w + 8 * hmax - 1) / (8 * hmax)
    val mcusY = (h + 8 * vmax - 1) / (8 * vmax)
    val bw = new BitWriter(out)
    val pred = new Array[Int](planes.length)
    var mcu = 0
    var rstN = 0
    while (mcu < mcusX * mcusY) {
      if (restartEvery > 0 && mcu > 0 && mcu % restartEvery == 0) {
        bw.flush()
        u8(0xff); u8(0xd0 + rstN)
        rstN = (rstN + 1) & 7
        java.util.Arrays.fill(pred, 0)
      }
      val my = mcu / mcusX; val mx = mcu % mcusX
      var ci = 0
      while (ci < planes.length) {
        var by = 0
        while (by < vi(ci)) {
          var bx = 0
          while (bx < hi(ci)) {
            pred(ci) = encodeBlock(bw,
              blockAt(planes, compW, compH, q, ci,
                mx * hi(ci) + bx, my * vi(ci) + by), pred(ci))
            bx += 1
          }
          by += 1
        }
        ci += 1
      }
      mcu += 1
    }
    bw.flush()
    u8(0xff); u8(0xd9) // EOI
    out.toByteArray
  }

  /** Assemble a full PROGRESSIVE (SOF2) stream from interleaved 0-255
    * samples: one interleaved DC scan (Ss=0 Se=0) then per-component
    * banded AC scans (spectral selection, Ah=Al=0) with REAL EOB-run
    * coding — fully-zero bands coalesce into EOBn runs, exactly the
    * symbol class progressive decoders must handle. Successive-
    * approximation streams come from JDK ImageIO in the cross-fuzz (its
    * progressive writer uses the standard Ah/Al scan script), so both
    * progressive dimensions are exercised between the two generators. */
  private[graft] def encodeProgressive(px: Array[Int], w: Int, h: Int,
                                       channels: Int, subsample: Boolean,
                                       bands: Seq[(Int, Int)] =
                                         Seq((1, 5), (6, 63))): Array[Byte] = {
    require(w > 0 && h > 0, s"bad dimensions ${w}x$h")
    require(channels == 1 || channels == 3, s"channels must be 1/3: $channels")
    require(bands.nonEmpty && bands.head._1 == 1 &&
      bands.last._2 == 63 &&
      bands.sliding(2).forall(p => p.length < 2 || p(1)._1 == p(0)._2 + 1) &&
      bands.forall(b => b._1 <= b._2),
      s"bands must tile [1, 63] contiguously: $bands")
    val (planes, compW, compH, hi, vi, q) =
      preparePlanes(px, w, h, channels, subsample)
    val hmax = hi.max; val vmax = vi.max
    val mcusX = (w + 8 * hmax - 1) / (8 * hmax)
    val mcusY = (h + 8 * vmax - 1) / (8 * vmax)

    val out = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v & 0xff)
    def seg(marker: Int, body: Array[Int]): Unit = {
      u8(0xff); u8(marker); u8((body.length + 2) >> 8); u8(body.length + 2)
      body.foreach(u8)
    }
    u8(0xff); u8(0xd8) // SOI
    val nQt = if (channels == 1) 1 else 2
    seg(0xdb, (0 until nQt).toArray.flatMap { t =>
      Array(t) ++ Array.tabulate(64)(k => if (t == 0) QLuma else QChroma)
    })
    // SOF2
    seg(0xc2, Array(8, h >> 8, h & 0xff, w >> 8, w & 0xff, planes.length) ++
      (0 until planes.length).flatMap(i =>
        Array(i + 1, (hi(i) << 4) | vi(i), if (i == 0) 0 else 1)).toArray)
    // DHT: DC table + the progressive AC table (with EOBn symbols)
    seg(0xc4, Array(0x00) ++ DcBits ++ DcVals ++
      Array(0x10) ++ ProgAcBits ++ ProgAcVals)

    // ---- scan 1: interleaved DC, all components ----
    seg(0xda, Array(planes.length) ++
      (0 until planes.length).flatMap(i => Array(i + 1, 0)).toArray ++
      Array(0, 0, 0))
    val bw = new BitWriter(out)
    val pred = new Array[Int](planes.length)
    var mcu = 0
    while (mcu < mcusX * mcusY) {
      val my = mcu / mcusX; val mx = mcu % mcusX
      var ci = 0
      while (ci < planes.length) {
        var by = 0
        while (by < vi(ci)) {
          var bx = 0
          while (bx < hi(ci)) {
            val dc = blockAt(planes, compW, compH, q, ci,
              mx * hi(ci) + bx, my * vi(ci) + by)(0)
            val (cat, bitsV) = magnitudeBits(dc - pred(ci))
            require(cat <= 11, s"DC difference category $cat out of range")
            bw.put(cat, 4)
            if (cat > 0) bw.put(bitsV, cat)
            pred(ci) = dc
            bx += 1
          }
          by += 1
        }
        ci += 1
      }
      mcu += 1
    }
    bw.flush()

    // ---- AC scans: per component, per band, non-interleaved ----
    var ci = 0
    while (ci < planes.length) {
      val nbW = ((w * hi(ci) + hmax - 1) / hmax + 7) / 8
      val nbH = ((h * vi(ci) + vmax - 1) / vmax + 7) / 8
      bands.foreach { case (ss, se) =>
        seg(0xda, Array(1, ci + 1, 0, ss, se, 0))
        val bwS = new BitWriter(out)
        var eobrun = 0
        def flushEob(): Unit = if (eobrun > 0) {
          // encode a run of `eobrun` all-zero-band blocks as EOBn: the
          // decoder computes (1<<r)−1+bits(r) FURTHER blocks after the
          // one the symbol terminates, so n blocks → r=⌊log2 n⌋,
          // extra = n − 2^r
          val r = 31 - Integer.numberOfLeadingZeros(eobrun)
          bwS.put(ProgAcCode(r << 4), 8)
          if (r > 0) bwS.put(eobrun - (1 << r), r)
          eobrun = 0
        }
        var blk = 0
        while (blk < nbW * nbH) {
          val coefNat = blockAt(planes, compW, compH, q, ci,
            blk % nbW, blk / nbW)
          var hasContent = false
          var k = ss
          while (k <= se && !hasContent) {
            if (coefNat(Zigzag(k)) != 0) hasContent = true
            k += 1
          }
          if (!hasContent) {
            eobrun += 1
            if (eobrun == 32767) flushEob() // EOB14 ceiling (G.1.2.2)
          } else {
            flushEob()
            var run = 0
            k = ss
            while (k <= se) {
              val v = coefNat(Zigzag(k))
              if (v == 0) run += 1
              else {
                while (run >= 16) { bwS.put(ProgAcCode(0xf0), 8); run -= 16 }
                val (s, b) = magnitudeBits(v)
                require(s <= 10, s"AC magnitude category $s out of range")
                bwS.put(ProgAcCode((run << 4) | s), 8)
                bwS.put(b, s)
                run = 0
              }
              k += 1
            }
            if (run > 0) bwS.put(ProgAcCode(0x00), 8) // plain EOB
          }
          blk += 1
        }
        flushEob()
        bwS.flush()
      }
      ci += 1
    }
    u8(0xff); u8(0xd9) // EOI
    out.toByteArray
  }
}
