package graft.ext

/** Baseline-sequential JPEG (ITU-T T.81) PIXEL decoding — the
  * dominant web image format, completing [[PixelDecoder]]'s
  * PNG/BMP/GIF subset. From scratch on public spec only: marker
  * segment walk, DQT/DHT table parsing, the canonical Huffman decode
  * of T.81 §F.2.2.3, run-length AC reconstruction, dequantization,
  * and a fixed-point integer IDCT.
  *
  * Subset (None outside it, loud failure for corrupt members):
  *   - SOF0/SOF1 (baseline / extended sequential, Huffman) and SOF2
  *     (progressive, Huffman — spectral selection AND successive
  *     approximation, §G.2), 8-bit precision, 1-component grayscale
  *     (1×1) or 3-component with per-axis sampling factors 1–2 —
  *     4:4:4, 4:2:2, 4:2:0 and the legal odd combos, via the
  *     general T.81 §A.2.3 MCU interleave; chroma upsampled by
  *     pixel replication (deterministic — see [[decodeScan]]).
  *     Arithmetic coding, lossless/hierarchical, 12-bit, and
  *     sampling factors 3–4 return None — honest subset edges.
  *   - Restart markers (DRI/RSTn) are handled, in both sequential
  *     and progressive scans.
  *
  * Determinism contract (what the oracle can rely on):
  *   - A block whose 63 AC coefficients are all zero decodes to the
  *     EXACT flat value `clamp(((dc·q + 4) >> 3) + 128)` — the
  *     standard DC-only IDCT shortcut, closed-form in SQL
  *     (`(dc*q + 4) // 8 + 128`). [[JpegEncoder]] emits exactly such
  *     streams, so fixture JPEGs oracle bit-exactly.
  *   - General blocks go through the fixed-point separable IDCT
  *     below (13-bit cosine constants, round-half-up descales) —
  *     deterministic on any JVM, accurate to ±1 of the real-valued
  *     IDCT (spec-tested against a double-precision reference), but
  *     NOT a SQL closed form; perceptual hashing is insensitive to
  *     ±1.
  *   - 3-component scans convert YCbCr→RGB with the JFIF fixed-point
  *     coefficients (16-bit fractions, round-half-up), then reduce
  *     through [[PixelDecoder.luma]].
  */
object JpegDecoder {

  import ByteReader.{be16, u8}
  import PixelDecoder.{MaxPixels, luma}

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"pixel decode: JPEG: $msg")

  /** Zig-zag order: index in the entropy stream → raster index. */
  private val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** 13-bit fixed-point 1D IDCT kernel: K(u, x) =
    * round(8192 · C(u)/2 · cos((2x+1)uπ/16)), C(0)=1/√2 else 1.
    */
  private val Kq: Array[Array[Int]] = Array.tabulate(8, 8) { (u, x) =>
    val cu = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
    math.round(8192.0 * cu / 2.0 *
      math.cos((2 * x + 1) * u * math.Pi / 16.0)).toInt
  }

  /** Canonical JPEG Huffman table (T.81 §C.2): codes assigned in
    * symbol order within ascending code length.
    */
  private final class Huff(counts: Array[Int], symbols: Array[Int]) {
    // mincode/maxcode/valptr per length, F.2.2.3 DECODE procedure
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17)
    val valPtr = new Array[Int](17)
    locally {
      var code = 0
      var k = 0
      var l = 1
      while (l <= 16) {
        valPtr(l) = k
        minCode(l) = code
        code += counts(l - 1)
        k += counts(l - 1)
        maxCode(l) = if (counts(l - 1) > 0) code - 1 else -1
        code <<= 1
        l += 1
      }
      if (k != symbols.length) fail("DHT symbol count mismatch")
    }
    def decode(r: BitReader): Int = {
      var l = 1
      var code = r.bit()
      while (l <= 16 && (maxCode(l) < 0 || code > maxCode(l))) {
        code = (code << 1) | r.bit()
        l += 1
      }
      if (l > 16) fail("Huffman code longer than 16 bits")
      symbols(valPtr(l) + code - minCode(l))
    }
  }

  /** MSB-first entropy-segment bit reader with 0xFF00 byte
    * unstuffing; a bare marker inside the segment stops the stream
    * ([[atMarker]]) — reading past it is corruption.
    */
  private final class BitReader(b: Array[Byte], var pos: Int) {
    private var acc = 0
    private var nBits = 0
    def bit(): Int = {
      if (nBits == 0) {
        if (pos >= b.length) fail("entropy stream truncated")
        var v = u8(b, pos)
        if (v == 0xff) {
          if (pos + 1 >= b.length) fail("entropy stream truncated at 0xFF")
          val m = u8(b, pos + 1)
          if (m == 0x00) { pos += 2; v = 0xff }
          else fail(f"marker 0x$m%02x inside an entropy run " +
            "(expected more MCU data)")
        } else pos += 1
        acc = v; nBits = 8
      }
      nBits -= 1
      (acc >> nBits) & 1
    }
    /** RECEIVE (F.2.2.4): an n-bit unsigned field, MSB first. */
    def receive(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }
    /** RECEIVE + EXTEND (F.2.2.1): an s-bit magnitude to its signed
      * coefficient value.
      */
    def receiveExtend(s: Int): Int = {
      if (s == 0) return 0
      val v = receive(s)
      if (v < (1 << (s - 1))) v - (1 << s) + 1 else v
    }
    /** True when the next bytes are a marker (for RST handling). */
    def atMarker: Boolean =
      nBits == 0 && pos + 1 < b.length && u8(b, pos) == 0xff &&
        u8(b, pos + 1) != 0x00
    def marker: Int = u8(b, pos + 1)
    def skipMarker(): Unit = { pos += 2 }
    def byteAlign(): Unit = { nBits = 0 }
  }

  private final case class Component(id: Int, h: Int, v: Int, tq: Int)

  def isJpeg(b: Array[Byte]): Boolean =
    b.length >= 3 && u8(b, 0) == 0xff && u8(b, 1) == 0xd8 &&
      u8(b, 2) == 0xff

  /** Decode a baseline JPEG to grayscale; None outside the subset,
    * loud failure for corrupt members of it (object scaladoc).
    */
  def decode(b: Array[Byte]): Option[Pixels] = {
    if (!isJpeg(b)) return None
    var i = 2
    val qt = new Array[Array[Int]](4) // dequant tables, RASTER order
    val dcTabs = new Array[Huff](4)
    val acTabs = new Array[Huff](4)
    var w = -1
    var h = -1
    var comps: Array[Component] = null
    var restartInterval = 0
    var progressive = false
    // progressive state: per-component FRAME-lifetime coefficient
    // buffers (64 ints per block, padded to the frame MCU grid) that
    // successive scans accumulate into; IDCT happens once, at EOI
    var coefBufs: Array[Array[Int]] = null
    var padBX: Array[Int] = null
    var actBX: Array[Int] = null
    var actBY: Array[Int] = null
    var nMcuX = 0
    var nMcuY = 0
    var scanCount = 0
    // Every variable-length segment declares its byte length; validate
    // it against the file ONCE per segment so a JPEG truncated
    // mid-header fails with the contractual message, not
    // ArrayIndexOutOfBoundsException (same hardening as the PNG chunk
    // walk's Long-compare bound).
    def segLen(at: Int): Int = {
      if (at + 2 > b.length) fail("truncated segment length")
      val len = be16(b, at)
      if (len < 2 || at + len > b.length)
        fail(s"segment (len=$len) overruns the file")
      len
    }
    while (true) {
      // segment walk: optional fill bytes, then a marker
      if (i + 1 >= b.length) fail("truncated before SOS")
      if (u8(b, i) != 0xff) fail(f"expected marker, got 0x${u8(b, i)}%02x")
      while (i < b.length && u8(b, i) == 0xff && i + 1 < b.length &&
        u8(b, i + 1) == 0xff) i += 1
      val m = u8(b, i + 1)
      i += 2
      m match {
        case 0xd8 => () // SOI (again) — tolerate
        case 0xd9 => // EOI: for progressive, scans are done — IDCT now
          if (!progressive || scanCount == 0) fail("EOI before any scan")
          comps.foreach { c =>
            if (qt(c.tq) == null)
              fail(s"component uses undefined quant table ${c.tq}")
          }
          return Some(reconstructProgressive(w, h, comps, coefBufs,
            padBX, qt, nMcuX, nMcuY))
        case 0xc0 | 0xc1 | 0xc2 => // sequential or progressive, Huffman
          val len = segLen(i)
          if (len < 8) fail("SOF segment too short")
          if (u8(b, i + 2) != 8) return None // 12-bit: subset edge
          h = be16(b, i + 3); w = be16(b, i + 5)
          val n = u8(b, i + 7)
          if (n != 1 && n != 3) return None
          if (len < 8 + 3 * n) fail("SOF overruns its segment")
          if (w <= 0 || h <= 0) fail(s"bad dimensions ${w}x$h")
          if (w.toLong * h > MaxPixels)
            fail(s"${w}x$h exceeds the $MaxPixels-pixel decode cap")
          comps = Array.tabulate(n) { c =>
            val o = i + 8 + 3 * c
            Component(u8(b, o), u8(b, o + 1) >> 4, u8(b, o + 1) & 15,
              u8(b, o + 2))
          }
          // Sampling subset: 3-component scans accept factors 1–2 in
          // each axis (covers 4:4:4, 4:2:2, 4:2:0 and the legal
          // odd combos — the MCU interleave below is general);
          // single-component scans are 1×1 only (T.81 §A.2.2: a
          // one-component scan is NON-interleaved, MCU = one block —
          // sampling factors >1 would change nothing but the padded
          // plane, and such streams are pathological).
          if (n == 1 && (comps(0).h != 1 || comps(0).v != 1))
            return None
          if (comps.exists(c => c.h < 1 || c.h > 2 || c.v < 1 ||
              c.v > 2))
            return None
          if (m == 0xc2) { // progressive: allocate the scan-spanning
            progressive = true // coefficient buffers up front
            val hMax = comps.map(_.h).max
            val vMax = comps.map(_.v).max
            nMcuX = (w + 8 * hMax - 1) / (8 * hMax)
            nMcuY = (h + 8 * vMax - 1) / (8 * vMax)
            padBX = Array.tabulate(n)(c => nMcuX * comps(c).h)
            // non-interleaved scans cover the component's ACTUAL
            // block grid (T.81 §A.2.2: ceil(ceil(dim·f/fmax)/8)),
            // which can be smaller than the MCU-padded grid
            actBX = Array.tabulate(n) { c =>
              ((w * comps(c).h + hMax - 1) / hMax + 7) / 8
            }
            actBY = Array.tabulate(n) { c =>
              ((h * comps(c).v + vMax - 1) / vMax + 7) / 8
            }
            coefBufs = Array.tabulate(n)(c =>
              new Array[Int](padBX(c) * nMcuY * comps(c).v * 64))
          }
          i += len
        case 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca | 0xcb | 0xcd |
             0xce | 0xcf => return None // lossless/arithmetic/differential
        case 0xc4 => // DHT
          val len = segLen(i)
          var o = i + 2
          while (o < i + len) {
            val tc = u8(b, o) >> 4
            val th = u8(b, o) & 15
            if (tc > 1 || th > 3) fail(s"DHT class $tc id $th")
            val counts = Array.tabulate(16)(k => u8(b, o + 1 + k))
            val total = counts.sum
            if (o + 17 + total > i + len) fail("DHT overruns its segment")
            val syms = Array.tabulate(total)(k => u8(b, o + 17 + k))
            val t = new Huff(counts, syms)
            if (tc == 0) dcTabs(th) = t else acTabs(th) = t
            o += 17 + total
          }
          i += len
        case 0xdb => // DQT
          val len = segLen(i)
          if (len < 2 + 1 + 64) fail("DQT segment too short")
          var o = i + 2
          while (o < i + len) {
            val pq = u8(b, o) >> 4
            val tq = u8(b, o) & 15
            if (pq > 1 || tq > 3) fail(s"DQT precision $pq id $tq")
            // per-table bound against the SEGMENT end (the DHT
            // discipline): without it a short len with pq=1 reads the
            // next marker's bytes as quant values — a garbage table
            // and silently wrong pixels, not the contractual loud stop
            if (o + 1 + (if (pq == 0) 64 else 128) > i + len)
              fail("DQT table overruns its segment")
            val t = new Array[Int](64)
            var k = 0
            while (k < 64) {
              t(Zigzag(k)) =
                if (pq == 0) u8(b, o + 1 + k) else be16(b, o + 1 + 2 * k)
              k += 1
            }
            qt(tq) = t
            o += 1 + (if (pq == 0) 64 else 128)
          }
          i += len
        case 0xdd => // DRI
          val len = segLen(i)
          if (len < 4) fail("DRI segment too short")
          restartInterval = be16(b, i + 2)
          i += len
        case 0xda => // SOS — sequential: decode the scan and return;
          // progressive: accumulate into the coefficient buffers
          if (comps == null) fail("SOS before SOF")
          val len = segLen(i)
          if (len < 3) fail("SOS segment too short")
          val ns = u8(b, i + 2)
          if (len < 6 + 2 * ns) fail("SOS overruns its segment")
          if (!progressive) {
            // T.81 baseline LEGALLY allows several non-interleaved
            // scans per frame (one per component); this decoder's
            // subset is the ubiquitous single-interleaved-scan form,
            // so the spec-legal variant classifies as
            // outside-the-subset (None), NOT corrupt (loud) — the
            // same contract as the lossless/arithmetic SOF markers
            if (ns != comps.length) return None
            val scanDc = new Array[Huff](ns)
            val scanAc = new Array[Huff](ns)
            val scanComp = new Array[Component](ns)
            var c = 0
            while (c < ns) {
              val o = i + 3 + 2 * c
              val sel = u8(b, o)
              val comp = comps.find(_.id == sel).getOrElse(
                fail(s"scan selects unknown component $sel"))
              scanComp(c) = comp
              val td = u8(b, o + 1) >> 4
              val ta = u8(b, o + 1) & 15
              if (dcTabs(td) == null || acTabs(ta) == null)
                fail(s"scan references undefined Huffman table dc=$td ac=$ta")
              scanDc(c) = dcTabs(td); scanAc(c) = acTabs(ta)
              if (qt(comp.tq) == null)
                fail(s"component uses undefined quant table ${comp.tq}")
              c += 1
            }
            return Some(decodeScan(b, i + len, w, h, scanComp, scanDc,
              scanAc, qt, restartInterval))
          } else {
            if (ns < 1 || ns > comps.length) fail(s"scan has $ns components")
            val scanIdx = new Array[Int](ns)
            val scanDc = new Array[Huff](ns)
            val scanAc = new Array[Huff](ns)
            val ss = u8(b, i + 3 + 2 * ns)
            val se = u8(b, i + 4 + 2 * ns)
            val ahal = u8(b, i + 5 + 2 * ns)
            val ah = ahal >> 4
            val al = ahal & 15
            // band/approximation validity (T.81 §B.2.3): DC scans
            // are exactly (0, 0); AC scans 1 ≤ Ss ≤ Se ≤ 63 and
            // single-component; Al ≤ 13; refinements step one bit
            if (ss == 0 && se != 0) fail(s"DC scan with Se=$se")
            if (ss > 0 && (se < ss || se > 63))
              fail(s"bad spectral band $ss..$se")
            if (ss > 0 && ns != 1) fail("AC scan with multiple components")
            if (al > 13 || (ah != 0 && ah != al + 1))
              fail(s"bad successive approximation Ah=$ah Al=$al")
            var c = 0
            while (c < ns) {
              val o = i + 3 + 2 * c
              val sel = u8(b, o)
              val ci = comps.indexWhere(_.id == sel)
              if (ci < 0) fail(s"scan selects unknown component $sel")
              scanIdx(c) = ci
              val td = u8(b, o + 1) >> 4
              val ta = u8(b, o + 1) & 15
              // only the tables this scan USES must be defined: a DC
              // refinement is raw bits, an AC scan never touches DC
              if (ss == 0 && ah == 0 && dcTabs(td) == null)
                fail(s"scan references undefined Huffman table dc=$td")
              if (ss > 0 && acTabs(ta) == null)
                fail(s"scan references undefined Huffman table ac=$ta")
              scanDc(c) = dcTabs(td); scanAc(c) = acTabs(ta)
              c += 1
            }
            i = decodeProgScan(b, i + len, comps, scanIdx, scanDc,
              scanAc, ss, se, ah, al, coefBufs, padBX, actBX, actBY,
              nMcuX, nMcuY, restartInterval)
            scanCount += 1
          }
        case x if x >= 0xe0 && x <= 0xef => i += segLen(i) // APPn
        case 0xfe => i += segLen(i) // COM
        case 0x01 => () // TEM, parameterless
        case other => fail(f"unexpected marker 0xff$other%02x before SOS")
      }
    }
    None // unreachable
  }

  /** Decode the (single, interleaved) scan. General MCU interleave
    * per T.81 §A.2.3: an MCU spans 8·Hmax × 8·Vmax pixels and
    * carries h_c × v_c blocks of each component in component order,
    * blocks raster-ordered within the MCU. Each component decodes
    * into its own SUBSAMPLED plane; the crop/convert pass below
    * samples chroma by pixel replication (cx = x·h_c/Hmax — integer
    * truncation, the deterministic nearest-neighbor upsample; JFIF
    * leaves the upsample filter to the decoder, and replication
    * keeps the ±1 determinism contract where bilinear would add a
    * second rounding convention).
    */
  private def decodeScan(b: Array[Byte], start: Int, w: Int, h: Int,
                         comps: Array[Component], dcT: Array[Huff],
                         acT: Array[Huff], qt: Array[Array[Int]],
                         restartInterval: Int): Pixels = {
    val n = comps.length
    val hMax = comps.map(_.h).max
    val vMax = comps.map(_.v).max
    val nMcuX = (w + 8 * hMax - 1) / (8 * hMax)
    val nMcuY = (h + 8 * vMax - 1) / (8 * vMax)
    val planeW = Array.tabulate(n)(c => nMcuX * comps(c).h * 8)
    val planes = Array.tabulate(n)(c =>
      new Array[Int](planeW(c) * nMcuY * comps(c).v * 8))
    val pred = new Array[Int](n)
    val coef = new Array[Int](64)
    val block = new Array[Int](64)
    val r = new BitReader(b, start)
    var mcu = 0
    val nMcu = nMcuX * nMcuY
    var rstExpect = 0xd0
    while (mcu < nMcu) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        r.byteAlign()
        if (!r.atMarker || r.marker < 0xd0 || r.marker > 0xd7)
          fail(s"expected restart marker at MCU $mcu")
        if (r.marker != rstExpect)
          fail(f"restart marker 0x${r.marker}%02x out of order at MCU $mcu")
        r.skipMarker()
        rstExpect = if (rstExpect == 0xd7) 0xd0 else rstExpect + 1
        java.util.Arrays.fill(pred, 0)
      }
      val mx = mcu % nMcuX
      val my = mcu / nMcuX
      var c = 0
      while (c < n) {
        var sub = 0
        val nSub = comps(c).h * comps(c).v
        while (sub < nSub) {
          val bx = mx * comps(c).h + sub % comps(c).h
          val by = my * comps(c).v + sub / comps(c).h
          java.util.Arrays.fill(coef, 0)
          // DC (F.2.2.1)
          val t = dcT(c).decode(r)
          if (t > 11) fail(s"DC category $t")
          pred(c) += r.receiveExtend(t)
          coef(0) = pred(c)
          // AC (F.2.2.2)
          var k = 1
          var eob = false
          while (k < 64 && !eob) {
            val rs = acT(c).decode(r)
            val run = rs >> 4
            val s = rs & 15
            if (s == 0) {
              if (run == 15) { // ZRL: 16 zeros, must leave room for
                k += 16        // the nonzero coefficient that follows
                if (k > 63)    // (T.81 forbids ZRL past the block)
                  fail("AC run past coefficient 63")
              } else eob = true
            } else {
              k += run
              if (k > 63) fail("AC run past coefficient 63")
              coef(Zigzag(k)) = r.receiveExtend(s)
              k += 1
            }
          }
          idctDequant(coef, qt(comps(c).tq), block)
          // place the 8×8 into the component's subsampled plane
          val plane = planes(c)
          var y = 0
          while (y < 8) {
            System.arraycopy(block, y * 8, plane,
              (by * 8 + y) * planeW(c) + bx * 8, 8)
            y += 1
          }
          sub += 1
        }
        c += 1
      }
      mcu += 1
    }
    planesToPixels(w, h, comps, planes, planeW, hMax, vMax)
  }

  /** Crop + chroma-replicate + gray reduce the decoded component
    * planes (shared by the sequential and progressive paths; see
    * [[decodeScan]] for the replication/determinism rationale).
    */
  private def planesToPixels(w: Int, h: Int, comps: Array[Component],
                             planes: Array[Array[Int]],
                             planeW: Array[Int], hMax: Int,
                             vMax: Int): Pixels = {
    val n = comps.length
    val out = new Array[Int](w * h)
    def sample(c: Int, x: Int, y: Int): Int =
      planes(c)((y * comps(c).v / vMax) * planeW(c) +
        x * comps(c).h / hMax)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        out(y * w + x) =
          if (n == 1) planes(0)(y * planeW(0) + x)
          else { // JFIF YCbCr→RGB, 16-bit fixed point, round-half-up
            val yy = sample(0, x, y) << 16
            val cb = sample(1, x, y) - 128
            val cr = sample(2, x, y) - 128
            def cl(v: Int): Int = {
              val s = (v + 32768) >> 16
              if (s < 0) 0 else if (s > 255) 255 else s
            }
            luma(cl(yy + 91881 * cr), cl(yy - 22554 * cb - 46802 * cr),
              cl(yy + 116130 * cb))
          }
        x += 1
      }
      y += 1
    }
    Pixels(w, h, out)
  }

  /** Decode ONE progressive scan (T.81 §G.2) into the frame's
    * coefficient buffers, returning the byte position just past the
    * scan's entropy segment. DC scans (Ss=0) may interleave several
    * components over the frame MCU grid; AC scans are always
    * single-component over that component's ACTUAL block grid.
    * First passes (Ah=0) Huffman-decode coefficients at precision
    * Al (AC magnitudes divide by 2^Al toward zero per §A.4.1, so
    * they enter sign-magnitude and refinements add low bits toward
    * zero-away); refinement passes (Ah=Al+1) read one bit per
    * already-nonzero coefficient plus newly-significant ±2^Al
    * insertions, with EOB-run block skips (§G.1.2.2-3).
    */
  private def decodeProgScan(b: Array[Byte], start: Int,
                             comps: Array[Component],
                             scanIdx: Array[Int], dcT: Array[Huff],
                             acT: Array[Huff], ss: Int, se: Int,
                             ah: Int, al: Int,
                             coefBufs: Array[Array[Int]],
                             padBX: Array[Int], actBX: Array[Int],
                             actBY: Array[Int], nMcuX: Int,
                             nMcuY: Int, restartInterval: Int): Int = {
    val ns = scanIdx.length
    val r = new BitReader(b, start)
    val pred = new Array[Int](ns)
    var eobRun = 0
    var rstExpect = 0xd0
    def restart(unit: Int): Unit =
      if (restartInterval > 0 && unit > 0 &&
        unit % restartInterval == 0) {
        r.byteAlign()
        if (!r.atMarker || r.marker < 0xd0 || r.marker > 0xd7)
          fail(s"expected restart marker at MCU $unit")
        if (r.marker != rstExpect)
          fail(f"restart marker 0x${r.marker}%02x out of order at " +
            s"MCU $unit")
        r.skipMarker()
        rstExpect = if (rstExpect == 0xd7) 0xd0 else rstExpect + 1
        java.util.Arrays.fill(pred, 0)
        eobRun = 0
      }
    if (ss == 0) { // DC scan
      def dcBlock(ci: Int, off: Int): Unit = {
        val buf = coefBufs(scanIdx(ci))
        if (ah == 0) {
          val t = dcT(ci).decode(r)
          if (t > 11) fail(s"DC category $t")
          pred(ci) += r.receiveExtend(t)
          buf(off) = pred(ci) << al
        } else if (r.bit() == 1) buf(off) |= 1 << al
      }
      if (ns > 1) { // interleaved over the frame MCU grid
        var mcu = 0
        val nMcu = nMcuX * nMcuY
        while (mcu < nMcu) {
          restart(mcu)
          val mx = mcu % nMcuX
          val my = mcu / nMcuX
          var ci = 0
          while (ci < ns) {
            val comp = comps(scanIdx(ci))
            var sub = 0
            val nSub = comp.h * comp.v
            while (sub < nSub) {
              val bx = mx * comp.h + sub % comp.h
              val by = my * comp.v + sub / comp.h
              dcBlock(ci, (by * padBX(scanIdx(ci)) + bx) * 64)
              sub += 1
            }
            ci += 1
          }
          mcu += 1
        }
      } else { // single component: its actual grid, MCU = one block
        val c = scanIdx(0)
        var blk = 0
        val nBlk = actBX(c) * actBY(c)
        while (blk < nBlk) {
          restart(blk)
          dcBlock(0,
            ((blk / actBX(c)) * padBX(c) + blk % actBX(c)) * 64)
          blk += 1
        }
      }
    } else { // AC scan: ns == 1 (validated at SOS)
      val c = scanIdx(0)
      val buf = coefBufs(c)
      val ac = acT(0)
      val p1 = 1 << al
      val m1 = -(1 << al)
      var blk = 0
      val nBlk = actBX(c) * actBY(c)
      while (blk < nBlk) {
        restart(blk)
        val off = ((blk / actBX(c)) * padBX(c) + blk % actBX(c)) * 64
        if (ah == 0) { // first pass (G.1.2.2)
          if (eobRun > 0) eobRun -= 1
          else {
            var k = ss
            var done = false
            while (k <= se && !done) {
              val rs = ac.decode(r)
              val run = rs >> 4
              val s = rs & 15
              if (s == 0) {
                if (run == 15) { // ZRL: 16 zeros within the band
                  k += 16
                  if (k > se + 1) fail("ZRL past the spectral band")
                } else { // EOBn: this block + 2^n-1+bits more
                  eobRun = (1 << run) - 1
                  if (run > 0) eobRun += r.receive(run)
                  done = true
                }
              } else {
                k += run
                if (k > se) fail("AC run past the spectral band")
                buf(off + Zigzag(k)) = r.receiveExtend(s) << al
                k += 1
              }
            }
          }
        } else { // refinement (G.1.2.3): correction bits weave
          // through the symbol stream as the band is traversed
          var k = ss
          def refine(z: Int): Unit =
            if (r.bit() == 1 && (buf(z) & p1) == 0)
              buf(z) += (if (buf(z) >= 0) p1 else m1)
          if (eobRun > 0) {
            eobRun -= 1
            while (k <= se) { // whole block is correction-only
              val z = off + Zigzag(k)
              if (buf(z) != 0) refine(z)
              k += 1
            }
          } else {
            while (k <= se) {
              val rs = ac.decode(r)
              var run = rs >> 4
              val s = rs & 15
              var newVal = 0
              if (s == 0) {
                if (run < 15) { // EOB: refine the rest of this block,
                  eobRun = (1 << run) - 1 // then skip eobRun blocks
                  if (run > 0) eobRun += r.receive(run)
                  run = 64 // sentinel: never place, never exhaust
                } // run == 15: skip 16 zero-HISTORY coefficients
              } else {
                if (s != 1) fail(s"AC refinement magnitude $s (must be 1)")
                newVal = if (r.bit() == 1) p1 else m1
              }
              var placed = false
              while (k <= se && !placed) {
                val z = off + Zigzag(k)
                if (buf(z) != 0) refine(z)
                else if (run == 0) {
                  if (newVal != 0) buf(z) = newVal
                  placed = true
                } else run -= 1
                k += 1
              }
              if (!placed && newVal != 0)
                fail("AC refinement coefficient past the spectral band")
            }
          }
        }
        blk += 1
      }
      if (eobRun > 0) fail("EOB run past the last block of the scan")
    }
    r.byteAlign()
    r.pos
  }

  /** EOI for a progressive frame: dequantize + IDCT every block of
    * every component from the accumulated coefficient buffers, then
    * the shared crop/upsample/convert. Blocks no scan touched decode
    * as DC-0 flat — the spec's behavior for coefficients never sent.
    */
  private def reconstructProgressive(w: Int, h: Int,
                                     comps: Array[Component],
                                     coefBufs: Array[Array[Int]],
                                     padBX: Array[Int],
                                     qt: Array[Array[Int]],
                                     nMcuX: Int, nMcuY: Int): Pixels = {
    val n = comps.length
    val hMax = comps.map(_.h).max
    val vMax = comps.map(_.v).max
    val planeW = Array.tabulate(n)(c => padBX(c) * 8)
    val planes = Array.tabulate(n)(c =>
      new Array[Int](planeW(c) * nMcuY * comps(c).v * 8))
    val coef = new Array[Int](64)
    val block = new Array[Int](64)
    var c = 0
    while (c < n) {
      val q = qt(comps(c).tq)
      val bh = nMcuY * comps(c).v
      var by = 0
      while (by < bh) {
        var bx = 0
        while (bx < padBX(c)) {
          System.arraycopy(coefBufs(c), (by * padBX(c) + bx) * 64,
            coef, 0, 64)
          idctDequant(coef, q, block)
          var y = 0
          while (y < 8) {
            System.arraycopy(block, y * 8, planes(c),
              (by * 8 + y) * planeW(c) + bx * 8, 8)
            y += 1
          }
          bx += 1
        }
        by += 1
      }
      c += 1
    }
    planesToPixels(w, h, comps, planes, planeW, hMax, vMax)
  }

  /** Dequantize + IDCT one block into 0–255 samples. DC-only blocks
    * take the exact shortcut `((dc·q + 4) >> 3) + 128` (the closed
    * form [[JpegEncoder]] fixtures oracle against); general blocks
    * run the two-pass fixed-point kernel.
    */
  private def idctDequant(coef: Array[Int], q: Array[Int],
                          out: Array[Int]): Unit = {
    var allZero = true
    var k = 1
    while (k < 64 && allZero) { if (coef(k) != 0) allZero = false; k += 1 }
    def clamp(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v
    if (allZero) {
      val v = clamp(((coef(0) * q(0) + 4) >> 3) + 128)
      java.util.Arrays.fill(out, v)
      return
    }
    val dq = new Array[Int](64)
    k = 0
    while (k < 64) { dq(k) = coef(k) * q(k); k += 1 }
    // pass 1 (rows of the coefficient block, over u): keep 2
    // fractional bits; pass 2 (columns, over v) descales the rest
    val tmp = new Array[Int](64)
    var x = 0
    while (x < 8) {
      var v = 0
      while (v < 8) {
        var s = 0L
        var u = 0
        while (u < 8) { s += Kq(u)(x).toLong * dq(u * 8 + v); u += 1 }
        tmp(x * 8 + v) = ((s + 1024) >> 11).toInt
        v += 1
      }
      x += 1
    }
    x = 0
    while (x < 8) {
      var y = 0
      while (y < 8) {
        var s = 0L
        var v = 0
        while (v < 8) { s += Kq(v)(y).toLong * tmp(x * 8 + v); v += 1 }
        out(x * 8 + y) = clamp((((s + 16384) >> 15) + 128).toInt)
        y += 1
      }
      x += 1
    }
  }
}

/** Baseline-JPEG ENCODER for fixture synthesis — DC-only grayscale
  * streams whose decode is the exact closed form
  * `clamp(((dc + 4) >> 3) + 128)` per 8×8 block (quant table all
  * ones), so a DuckDB oracle recomputes every pixel. Uses custom
  * (spec-legal) Huffman tables: 12 DC categories at 4 bits each and
  * a 2-bit AC end-of-block code; emits one DC diff + EOB per block
  * with 0xFF byte stuffing.
  */
object JpegEncoder {

  /** Shared byte/bit emitter for the fixture encoders: marker and
    * big-endian segment writers, the 0xFF-stuffed bit packer with
    * its 1-bit scan padding, §C.2 DC category-diff emission, and the
    * two house segments every encoder writes (the all-ones DQT and
    * the 12-category DC Huffman table). ONE copy, so a fix to the
    * stuffing or padding logic cannot silently miss an encoder —
    * the FlacEncoder BitWriter discipline.
    */
  private final class JpegWriter {
    private val out = new java.io.ByteArrayOutputStream()
    def u8w(v: Int): Unit = out.write(v & 0xff)
    def be16w(v: Int): Unit = { u8w(v >> 8); u8w(v) }
    def marker(m: Int): Unit = { u8w(0xff); u8w(m) }
    private var acc = 0L
    private var nBits = 0
    def putBits(v: Int, n: Int): Unit = {
      acc = (acc << n) | (v & ((1L << n) - 1)); nBits += n
      while (nBits >= 8) {
        val byte = ((acc >> (nBits - 8)) & 0xff).toInt
        u8w(byte)
        if (byte == 0xff) u8w(0x00) // stuffing
        nBits -= 8
      }
    }
    /** Pad the current scan to a byte boundary with 1-bits. */
    def flushScan(): Unit =
      if (nBits > 0) putBits((1 << (8 - nBits)) - 1, 8 - nBits)
    /** DC category (4 bits, canonical code == category at the house
      * 12-cat table) + EXTEND-inverse magnitude bits: negatives
      * offset by (1<<s)-1.
      */
    def putDcDiff(diff: Int): Unit = {
      val s = 32 - Integer.numberOfLeadingZeros(math.abs(diff))
      putBits(s, 4)
      if (s > 0)
        putBits(if (diff < 0) diff + (1 << s) - 1 else diff, s)
    }
    /** DQT id 0, 8-bit precision, all-ones table. */
    def dqtAllOnes(): Unit = {
      marker(0xdb); be16w(2 + 65); u8w(0x00)
      for (_ <- 0 until 64) u8w(1)
    }
    /** DHT DC 0: 12 categories, all 4-bit codes (0000…1011 — the
      * all-ones code stays unassigned, as §C.2 requires).
      */
    def dhtDc12(): Unit = {
      marker(0xc4); be16w(2 + 17 + 12); u8w(0x00)
      for (l <- 1 to 16) u8w(if (l == 4) 12 else 0)
      for (s <- 0 until 12) u8w(s)
    }
    def bytes: Array[Byte] = out.toByteArray
  }

  /** Encode a grayscale DC-only baseline JPEG. `blockDc(bx, by)` is
    * the dequantized DC coefficient of each 8×8 block, in
    * [-1024, 1016]; the decoded block is the flat value
    * `clamp(((dc + 4) >> 3) + 128)`.
    */
  def grayDcOnly(w: Int, h: Int, blockDc: (Int, Int) => Int): Array[Byte] = {
    require(w > 0 && h > 0 && w < 65536 && h < 65536,
      s"jpeg: bad dimensions ${w}x$h")
    val jw = new JpegWriter
    import jw._
    marker(0xd8) // SOI
    dqtAllOnes()
    marker(0xc0); be16w(8 + 3) // SOF0: 1 component
    u8w(8); be16w(h); be16w(w); u8w(1)
    u8w(1); u8w(0x11); u8w(0) // id 1, 1×1, qtab 0
    dhtDc12()
    // DHT AC 0: single symbol 0x00 (EOB) at 2 bits (code 00)
    marker(0xc4); be16w(2 + 17 + 1); u8w(0x10)
    for (l <- 1 to 16) u8w(if (l == 2) 1 else 0)
    u8w(0x00)
    marker(0xda); be16w(6 + 2) // SOS
    u8w(1); u8w(1); u8w(0x00) // component 1, dc 0 / ac 0
    u8w(0); u8w(63); u8w(0)
    // entropy segment: DC-category code (4 bits) + magnitude bits +
    // EOB (2 bits) per block, raster MCU order, with byte stuffing
    val bw = (w + 7) / 8
    val bh = (h + 7) / 8
    var predDc = 0
    for (by <- 0 until bh; bx <- 0 until bw) {
      val dc = blockDc(bx, by)
      require(dc >= -1024 && dc <= 1016, s"jpeg: DC $dc out of range")
      putDcDiff(dc - predDc)
      predDc = dc
      putBits(0, 2) // EOB
    }
    flushScan()
    marker(0xd9) // EOI
    jw.bytes
  }

  /** Encode the [[grayDcOnly]] raster as a PROGRESSIVE (SOF2) JPEG
    * in three scans — DC first at Al=1, DC refinement to Al=0, and
    * an AC first scan (Ss=1..Se=63) that is one EOB-run chain over
    * every block — so the decoder's successive-approximation DC
    * path, raw-bit refinement path and EOBn block-skip machinery
    * all execute while the decoded raster stays the EXACT
    * [[grayDcOnly]] closed form (`clamp(((dc + 4) >> 3) + 128)`
    * flat per block): the two DC scans reassemble dc bit-exactly
    * ((dc >> 1) << 1 | (dc & 1), T.81's arithmetic-shift DC point
    * transform), and the AC scan codes 63 zeros per block.
    */
  def grayDcOnlyProgressive(w: Int, h: Int,
                            blockDc: (Int, Int) => Int): Array[Byte] = {
    require(w > 0 && h > 0 && w < 65536 && h < 65536,
      s"jpeg: bad dimensions ${w}x$h")
    val jw = new JpegWriter
    import jw._
    marker(0xd8) // SOI
    dqtAllOnes()
    marker(0xc0 + 2); be16w(8 + 3) // SOF2: 1 component
    u8w(8); be16w(h); be16w(w); u8w(1)
    u8w(1); u8w(0x11); u8w(0)
    // DC table: 12 categories at 4 bits (as grayDcOnly); AC table:
    // EOBn symbols n=0..14 at 4 bits (15 of the 16 codes — §C.2
    // keeps the all-ones code unassigned)
    dhtDc12()
    marker(0xc4); be16w(2 + 17 + 15); u8w(0x10)
    for (l <- 1 to 16) u8w(if (l == 4) 15 else 0)
    for (n <- 0 until 15) u8w(n << 4)
    def sos(ss: Int, se: Int, ah: Int, al: Int): Unit = {
      marker(0xda); be16w(6 + 2)
      u8w(1); u8w(1); u8w(0x00)
      u8w(ss); u8w(se); u8w((ah << 4) | al)
    }
    val bw = (w + 7) / 8
    val bh = (h + 7) / 8
    def dcAt(blk: Int): Int = {
      val dc = blockDc(blk % bw, blk / bw)
      require(dc >= -1024 && dc <= 1016, s"jpeg: DC $dc out of range")
      dc
    }
    // scan 1: DC first, Al=1 — diffs of (dc >> 1)
    sos(0, 0, 0, 1)
    var pred = 0
    for (blk <- 0 until bw * bh) {
      val v = dcAt(blk) >> 1
      putDcDiff(v - pred)
      pred = v
    }
    flushScan()
    // scan 2: DC refinement to Al=0 — the raw low bit per block
    sos(0, 0, 1, 0)
    for (blk <- 0 until bw * bh) putBits(dcAt(blk) & 1, 1)
    flushScan()
    // scan 3: AC first 1..63 — EOBn chain covering every block
    sos(1, 63, 0, 0)
    var remaining = bw * bh
    while (remaining > 0) {
      var n = 0
      while (n < 14 && (2 << n) <= remaining) n += 1
      val count = math.min(remaining, (2 << n) - 1)
      putBits(n, 4) // EOBn: canonical code == symbol rank == n
      if (n > 0) putBits(count - (1 << n), n)
      remaining -= count
    }
    flushScan()
    marker(0xd9)
    jw.bytes
  }

  /** PROGRESSIVE + SUBSAMPLED DC-only encoder: SOF2, components
    * Y (hs×vs) / Cb / Cr (1×1, neutral), five scans — interleaved
    * DC first at Al=1 over the frame MCU grid, interleaved DC
    * refinement to Al=0, then one all-EOB AC first scan per
    * component. Unlike [[yccDcOnly]], dims need NOT be MCU
    * multiples: the interleaved DC scans cover the PADDED grid
    * (invisible pad blocks repeat the predictor, diff 0) while each
    * AC scan covers the component's ACTUAL block grid (T.81
    * §A.2.2) — at non-aligned dims the luma actual grid is smaller
    * than the padded one, the exact asymmetry the progressive
    * decoder's per-scan grids must honor. Visible pixels stay the
    * [[grayDcOnly]] closed form per Y block.
    */
  def yccDcOnlyProgressive(w: Int, h: Int, blockDc: (Int, Int) => Int,
                           hs: Int = 2, vs: Int = 2): Array[Byte] = {
    require(hs >= 1 && hs <= 2 && vs >= 1 && vs <= 2 && hs + vs > 2,
      s"jpeg: sampling ${hs}x$vs not in the subsampled set")
    require(w > 0 && h > 0 && w < 65536 && h < 65536,
      s"jpeg: bad dimensions ${w}x$h")
    val jw = new JpegWriter
    import jw._
    marker(0xd8)
    dqtAllOnes()
    marker(0xc2); be16w(8 + 9) // SOF2: 3 components
    u8w(8); be16w(h); be16w(w); u8w(3)
    u8w(1); u8w((hs << 4) | vs); u8w(0)
    u8w(2); u8w(0x11); u8w(0)
    u8w(3); u8w(0x11); u8w(0)
    dhtDc12()
    marker(0xc4); be16w(2 + 17 + 15); u8w(0x10) // EOBn @ 4 bits
    for (l <- 1 to 16) u8w(if (l == 4) 15 else 0)
    for (n <- 0 until 15) u8w(n << 4)
    def sosH(comps: Seq[Int], ss: Int, se: Int, ah: Int,
             al: Int): Unit = {
      marker(0xda); be16w(6 + 2 * comps.length)
      u8w(comps.length)
      comps.foreach { c => u8w(c); u8w(0x00) }
      u8w(ss); u8w(se); u8w((ah << 4) | al)
    }
    val nMcuX = (w + 8 * hs - 1) / (8 * hs)
    val nMcuY = (h + 8 * vs - 1) / (8 * vs)
    val padBX = nMcuX * hs
    val padBY = nMcuY * vs
    val actBX = (w + 7) / 8
    val actBY = (h + 7) / 8
    // padded Y DC grid: visible blocks carry blockDc, pad blocks
    // repeat their left/up neighbor (diff-0 friendly, invisible)
    val dcGrid = Array.tabulate(padBY, padBX) { (by, bx) =>
      val vx = math.min(bx, actBX - 1)
      val vy = math.min(by, actBY - 1)
      val dc = blockDc(vx, vy)
      require(dc >= -1024 && dc <= 1016, s"jpeg: DC $dc out of range")
      dc
    }
    // MCU-interleaved Y block order (raster within each MCU)
    val yOrder = for {
      my <- 0 until nMcuY; mx <- 0 until nMcuX
      sy <- 0 until vs; sx <- 0 until hs
    } yield (mx * hs + sx, my * vs + sy)
    // scan 1: DC first, interleaved, Al=1
    sosH(Seq(1, 2, 3), 0, 0, 0, 1)
    var predY = 0
    for (my <- 0 until nMcuY; mx <- 0 until nMcuX) {
      for (sy <- 0 until vs; sx <- 0 until hs) {
        val v = dcGrid(my * vs + sy)(mx * hs + sx) >> 1
        putDcDiff(v - predY)
        predY = v
      }
      putBits(0, 4) // Cb diff 0 (neutral, category 0)
      putBits(0, 4) // Cr diff 0
    }
    flushScan()
    // scan 2: DC refinement, interleaved, one raw bit per block
    sosH(Seq(1, 2, 3), 0, 0, 1, 0)
    for ((bx, by) <- yOrder) {
      putBits(dcGrid(by)(bx) & 1, 1)
      if ((bx % hs == hs - 1) && (by % vs == vs - 1)) {
        putBits(0, 1) // Cb low bit (0)
        putBits(0, 1) // Cr low bit (0)
      }
    }
    flushScan()
    // scans 3–5: AC first per component over its ACTUAL grid
    def eobScan(comp: Int, nBlk: Int): Unit = {
      sosH(Seq(comp), 1, 63, 0, 0)
      var remaining = nBlk
      while (remaining > 0) {
        var n = 0
        while (n < 14 && (2 << n) <= remaining) n += 1
        val count = math.min(remaining, (2 << n) - 1)
        putBits(n, 4)
        if (n > 0) putBits(count - (1 << n), n)
        remaining -= count
      }
      flushScan()
    }
    eobScan(1, actBX * actBY)
    val cbx = ((w * 1 + hs - 1) / hs + 7) / 8
    val cby = ((h * 1 + vs - 1) / vs + 7) / 8
    eobScan(2, cbx * cby)
    eobScan(3, cbx * cby)
    marker(0xd9)
    jw.bytes
  }

  /** Encode a SUBSAMPLED (4:2:0 when hs=vs=2, 4:2:2 when hs=2,vs=1)
    * 3-component DC-only baseline JPEG with NEUTRAL chroma: luma
    * carries `blockDc` per 8×8 Y block, both chroma components are
    * flat 128 (DC 0). The decoded gray is the same exact closed form
    * as [[grayDcOnly]] — Cb=Cr=128 makes R=G=B=Y and luma(y,y,y)=y
    * (the 77+150+29=256 weights) — so subsampled fixture members
    * oracle bit-exactly per Y block while exercising the decoder's
    * MCU interleave and chroma-replication paths.
    *
    * `w`/`h` must be multiples of 8·hs / 8·vs (no padding blocks, so
    * every `blockDc` value is pixel-visible). `blockDc(bx, by)` is
    * indexed over the Y-block grid: bx < w/8, by < h/8.
    */
  def yccDcOnly(w: Int, h: Int, blockDc: (Int, Int) => Int,
                hs: Int = 2, vs: Int = 2,
                chromaDc: (Int, Int) => (Int, Int) =
                  (_, _) => (0, 0)): Array[Byte] = {
    require(hs >= 1 && hs <= 2 && vs >= 1 && vs <= 2 && hs + vs > 2,
      s"jpeg: sampling ${hs}x$vs not in the subsampled set")
    require(w > 0 && h > 0 && w < 65536 && h < 65536 &&
      w % (8 * hs) == 0 && h % (8 * vs) == 0,
      s"jpeg: ${w}x$h not a multiple of the ${8 * hs}x${8 * vs} MCU")
    val jw = new JpegWriter
    import jw._
    marker(0xd8) // SOI
    dqtAllOnes()
    marker(0xc0); be16w(8 + 9) // SOF0: 3 components
    u8w(8); be16w(h); be16w(w); u8w(3)
    u8w(1); u8w((hs << 4) | vs); u8w(0) // Y: hs×vs, qtab 0
    u8w(2); u8w(0x11); u8w(0) // Cb: 1×1
    u8w(3); u8w(0x11); u8w(0) // Cr: 1×1
    // same two Huffman tables as grayDcOnly, shared by all comps
    dhtDc12()
    marker(0xc4); be16w(2 + 17 + 1); u8w(0x10)
    for (l <- 1 to 16) u8w(if (l == 2) 1 else 0)
    u8w(0x00)
    marker(0xda); be16w(6 + 6) // SOS, 3 components
    u8w(3)
    u8w(1); u8w(0x00)
    u8w(2); u8w(0x00)
    u8w(3); u8w(0x00)
    u8w(0); u8w(63); u8w(0)
    // baseline: each DC diff is followed by the 2-bit EOB
    def putDcBlock(diff: Int): Unit = { putDcDiff(diff); putBits(0, 2) }
    val nMcuX = w / (8 * hs)
    val nMcuY = h / (8 * vs)
    var predY = 0
    var predCb = 0
    var predCr = 0
    for (my <- 0 until nMcuY; mx <- 0 until nMcuX) {
      for (by2 <- 0 until vs; bx2 <- 0 until hs) {
        val dc = blockDc(mx * hs + bx2, my * vs + by2)
        require(dc >= -1024 && dc <= 1016, s"jpeg: DC $dc out of range")
        putDcBlock(dc - predY)
        predY = dc
      }
      // chroma blocks cover the whole MCU (1×1 at the chroma grid);
      // default (0, 0) keeps both flat 128 = neutral
      val (cb, cr) = chromaDc(mx, my)
      require(cb >= -1024 && cb <= 1016 && cr >= -1024 && cr <= 1016,
        s"jpeg: chroma DC ($cb, $cr) out of range")
      putDcBlock(cb - predCb); predCb = cb
      putDcBlock(cr - predCr); predCr = cr
    }
    flushScan()
    marker(0xd9) // EOI
    jw.bytes
  }
}
