package graft.ext

/** Decoded raster: 8-bit grayscale, row-major (`gray(y * width + x)`,
  * values 0–255). Gray is the ONE channel every perceptual pass here
  * consumes (aHash, thumbnail stats); color inputs reduce through the
  * integer luma in [[PixelDecoder.luma]].
  */
final case class Pixels(width: Int, height: Int, gray: Array[Int])

/** Pure-JVM PIXEL decoding for the public PNG, BMP and GIF formats —
  * the real decode stage behind perceptual hashing, replacing the
  * former md5-grid stand-in for payloads that really are images. No
  * codec dependency: PNG is `java.util.zip.Inflater` (the IDAT zlib
  * stream) plus the five-filter scanline reconstruction of RFC 2083
  * §6, BMP rows are raw bytes at a 4-byte-aligned stride, and GIF is
  * a from-scratch variable-width LZW decoder (GIF89a spec §22 /
  * Welch 1984) over the palette.
  *
  * Coverage is the subset a fixture- and thumbnail-scale pipeline
  * needs, decoded COMPLETELY correctly:
  *   - PNG: color types 0 (grayscale), 2 (truecolor) and 6
  *     (truecolor+alpha, alpha ignored for gray) at bit depths 8
  *     and 16 (16-bit samples reduce through their high byte — the
  *     standard downconversion), plus 3 (paletted, PLTE reduced
  *     through the same luma) at the spec's palette depths 1/2/4/8;
  *     both non-interlaced and
  *     Adam7-interlaced (RFC 2083 §2.6 — seven independently
  *     filtered sub-images, empty passes contribute no bytes), any
  *     mix of filters 0–4, multi-IDAT, chunk CRCs verified.
  *   - BMP: BITMAPINFOHEADER-family; 24-bit BI_RGB (bottom-up and
  *     top-down row orders) and 8-bit paletted — BI_RGB or BI_RLE8
  *     (encoded/absolute/EOL/EOB/delta escapes, bottom-up as the
  *     spec requires), BGRX color table reduced through the same
  *     integer luma.
  *   - GIF: 87a/89a, FIRST image frame, non-interlaced or
  *     interlaced (§20 Appendix E four-pass row order — the LZW
  *     stream is unchanged, only row destinations permute), global
  *     or local color table, any LZW code size, extensions skipped;
  *     palette RGB reduces through the same integer luma. (First
  *     frame only: an animation's later frames can be partial
  *     deltas whose composition needs disposal-method state — out
  *     of perceptual-hash scope; frame COUNT comes from the header
  *     walk in [[ImageHeader]].)
  *   - JPEG: baseline/extended sequential Huffman, 8-bit, grayscale
  *     or 3-component with sampling factors 1–2 (4:4:4/4:2:2/4:2:0)
  *     — dispatched to [[JpegDecoder]], see its scaladoc for the
  *     subset and determinism contract.
  *
  * Error contract (the [[graft.sources.WarcSource]] loud-failure
  * discipline): [[PixelDecoder.decode]] returns None only for "not a
  * format this decoder owns" (wrong magic, or a variant outside the
  * subset above — e.g. RLE or 16-bit BMP);
  * a payload that CLAIMS to be a supported image but is structurally
  * broken (bad chunk CRC, short IDAT, truncated rows, bad zlib data,
  * an LZW code beyond the table, missing trailer) throws with what
  * was wrong — a silently-skipped image is corpus loss, and a
  * silently-wrong pixel is worse.
  *
  * Scale shape: decode runs per row inside `mapPartitions` (see
  * [[Multimodal]]) — embarrassingly parallel, no shuffle, memory
  * bounded by one image's raster per task at a time.
  */
object PixelDecoder {

  import ByteReader.{be32u, le16, le32, u8}

  /** Integer ITU-R-601-flavored luma, exact and engine-portable:
    * (77·r + 150·g + 29·b) >> 8 — coefficients sum to 256 so white
    * maps to 255, and the SQL mirror is a plain `// 256`.
    */
  def luma(r: Int, g: Int, b: Int): Int = (77 * r + 150 * g + 29 * b) >> 8

  /** Decode a PNG or BMP payload to grayscale; None for payloads
    * outside this decoder's subset, loud failure for corrupt members
    * of it (see object scaladoc).
    */
  def decode(bytes: Array[Byte]): Option[Pixels] =
    if (isPng(bytes)) decodePng(bytes)
    else if (isBmp(bytes)) decodeBmp(bytes)
    else if (isGif(bytes)) decodeGif(bytes)
    else if (JpegDecoder.isJpeg(bytes)) JpegDecoder.decode(bytes)
    else None

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"pixel decode: $msg")

  private def isPng(b: Array[Byte]): Boolean =
    b.length >= 8 && b(0) == 0x89.toByte && b(1) == 'P' && b(2) == 'N' &&
      b(3) == 'G' && b(4) == 0x0d && b(5) == 0x0a && b(6) == 0x1a &&
      b(7) == 0x0a

  private def isBmp(b: Array[Byte]): Boolean =
    b.length >= 2 && b(0) == 'B' && b(1) == 'M'

  private def isGif(b: Array[Byte]): Boolean =
    b.length >= 6 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
      b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a'

  // -- PNG ------------------------------------------------------------

  /** Max raster this decoder will materialize (width·height), the
    * decompression-bomb guard: a 100-byte PNG can declare a 2^31
    * raster. Perceptual-hash inputs are thumbnails; anything larger
    * should be size-capped upstream.
    */
  val MaxPixels: Long = 64L * 1024 * 1024

  private def decodePng(b: Array[Byte]): Option[Pixels] = {
    // chunk walk: IHDR first, IDATs concatenated in order, IEND last;
    // every chunk CRC-verified (CRC covers type + data, RFC 2083 §3.1)
    var i = 8
    var w, h, bitDepth, colorType, interlace = -1
    val idat = new java.io.ByteArrayOutputStream()
    var palette: Array[Int] = null // PLTE entries reduced to luma
    var sawEnd = false
    while (!sawEnd) {
      if (i + 8 > b.length) fail("PNG: truncated chunk header")
      val len = be32u(b, i)
      // bounds compare in Long: a len near Int.MaxValue-12 passes the
      // first guard, and Int addition with a nonzero i would wrap
      // negative and sneak past — surfacing as an AIOOBE from
      // CRC32.update instead of this contractual message
      if (len > Int.MaxValue - 12 || i.toLong + 12 + len > b.length)
        fail(s"PNG: chunk length $len overruns the payload")
      val n = len.toInt
      val typ = new String(b, i + 4, 4, "US-ASCII")
      val crc = new java.util.zip.CRC32
      crc.update(b, i + 4, 4 + n)
      if (crc.getValue != be32u(b, i + 8 + n))
        fail(s"PNG: CRC mismatch on $typ chunk")
      typ match {
        case "IHDR" =>
          if (n != 13) fail(s"PNG: IHDR length $n")
          w = be32u(b, i + 8).toInt; h = be32u(b, i + 12).toInt
          bitDepth = u8(b, i + 16); colorType = u8(b, i + 17)
          if (u8(b, i + 18) != 0) fail("PNG: unknown compression method")
          if (u8(b, i + 19) != 0) fail("PNG: unknown filter method")
          interlace = u8(b, i + 20)
        case "PLTE" =>
          if (n % 3 != 0 || n == 0 || n > 768)
            fail(s"PNG: PLTE length $n")
          palette = Array.tabulate(n / 3)(k => luma(u8(b, i + 8 + 3 * k),
            u8(b, i + 9 + 3 * k), u8(b, i + 10 + 3 * k)))
        case "IDAT" => idat.write(b, i + 8, n)
        case "IEND" => sawEnd = true
        case _ => () // ancillary chunks skipped
      }
      i += 12 + n
    }
    if (w <= 0 || h <= 0) fail(s"PNG: bad dimensions ${w}x$h")
    // subset boundary: None, not an error (see the object contract).
    // Paletted (color type 3) accepts the sub-byte depths the spec
    // allows for it (1/2/4/8 — web palettes are commonly 4-bit);
    // the sample types stay 8-bit only.
    if (colorType == 3) {
      if (bitDepth != 1 && bitDepth != 2 && bitDepth != 4 &&
        bitDepth != 8) return None
      if (palette == null) fail("PNG: paletted image without PLTE")
    } else if ((bitDepth != 8 && bitDepth != 16) ||
      (colorType != 0 && colorType != 2 && colorType != 6)) return None
    if (interlace > 1) fail(s"PNG: unknown interlace method $interlace")
    if (w.toLong * h > MaxPixels)
      fail(s"PNG: ${w}x$h exceeds the $MaxPixels-pixel decode cap")
    // bytes per pixel for the sample types (16-bit samples are two
    // bytes, big-endian, and filter at the full byte distance —
    // §6.2); palette scanlines pack bitDepth-bit indices and filter
    // at byte distance 1
    val channels = colorType match {
      case 0 | 3 => 1; case 2 => 3; case _ => 4
    }
    val bps = if (colorType != 3 && bitDepth == 16) 2 else 1
    val bpp = channels * bps
    // Adam7 (RFC 2083 §2.6): seven sub-images, pass p covering the
    // pixel lattice (x0 + i·dx, y0 + j·dy); each pass carries its OWN
    // scanline set — filter byte per row, filters referencing only
    // neighbors WITHIN the pass — and an empty pass (zero width or
    // height) contributes no bytes at all, not even filter bytes.
    // The non-interlaced image is the same machinery with the single
    // full-lattice "pass", so one reconstruction loop serves both.
    val passes: Seq[(Int, Int, Int, Int)] =
      if (interlace == 0) Seq((0, 0, 1, 1))
      else Seq((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
    val dims = passes.map { case (x0, y0, dx, dy) =>
      (if (w > x0) (w - x0 + dx - 1) / dx else 0,
        if (h > y0) (h - y0 + dy - 1) / dy else 0)
    }
    def strideOf(pw: Int): Int =
      if (colorType == 3) (pw * bitDepth + 7) / 8 else pw * bpp
    val expected = dims.map { case (pw, ph) =>
      if (pw == 0 || ph == 0) 0 else ph * (1 + strideOf(pw))
    }.sum
    val raw = inflateZlib(idat.toByteArray, expected)
    if (raw.length != expected)
      fail(s"PNG: inflated ${raw.length} bytes, expected $expected")
    val out = new Array[Int](w * h)
    var off = 0
    for ((((x0, y0, dx, dy), (pw, ph)), p) <- passes.zip(dims).zipWithIndex
         if pw > 0 && ph > 0) {
      // scanline reconstruction (RFC 2083 §6.2-6.6): each row leads
      // with its filter byte; Sub/Up/Average/Paeth reference the
      // reconstructed bytes at distance bpp (left), stride (up), both
      val stride = strideOf(pw)
      val prev = new Array[Int](stride) // reconstructed previous row
      val cur = new Array[Int](stride)
      java.util.Arrays.fill(prev, 0)
      var y = 0
      while (y < ph) {
        val base = off + y * (stride + 1)
        val filter = raw(base) & 0xff
        var x = 0
        while (x < stride) {
          val v = raw(base + 1 + x) & 0xff
          val left = if (x >= bpp) cur(x - bpp) else 0
          val up = prev(x)
          val ul = if (x >= bpp) prev(x - bpp) else 0
          cur(x) = filter match {
            case 0 => v
            case 1 => (v + left) & 0xff
            case 2 => (v + up) & 0xff
            case 3 => (v + (left + up) / 2) & 0xff
            case 4 => (v + paeth(left, up, ul)) & 0xff
            case f => fail(s"PNG: unknown filter $f on row $y " +
              s"of pass ${p + 1}")
          }
          x += 1
        }
        var px = 0
        while (px < pw) {
          val g =
            if (colorType == 3) { // MSB-first packed palette index
              val bit = px * bitDepth
              val idx = (cur(bit / 8) >> (8 - bitDepth - bit % 8)) &
                ((1 << bitDepth) - 1)
              if (idx >= palette.length)
                fail(s"PNG: palette index $idx beyond the " +
                  s"${palette.length}-entry PLTE")
              palette(idx)
            } else {
              // 16-bit samples reduce through their HIGH byte (the
              // standard 16→8 downconversion; samples are BE)
              val o = px * bpp
              if (channels == 1) cur(o)
              else luma(cur(o), cur(o + bps), cur(o + 2 * bps))
            }
          out((y0 + y * dy) * w + (x0 + px * dx)) = g
          px += 1
        }
        System.arraycopy(cur, 0, prev, 0, stride)
        y += 1
      }
      off += ph * (1 + stride)
    }
    Some(Pixels(w, h, out))
  }

  /** Paeth predictor (RFC 2083 §6.6): the neighbor closest to
    * left + up − upleft, ties broken left, up, upleft.
    */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b)
    val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Inflate a zlib stream (2-byte header + deflate + Adler-32), loud
    * on corruption or wrong size; `expected` bounds the output.
    */
  private def inflateZlib(z: Array[Byte], expected: Int): Array[Byte] = {
    val inf = new java.util.zip.Inflater() // zlib wrapper mode
    try {
      inf.setInput(z)
      val out = new Array[Byte](expected)
      var off = 0
      while (off < expected && !inf.finished()) {
        val n =
          try inf.inflate(out, off, expected - off)
          catch {
            case e: java.util.zip.DataFormatException =>
              fail(s"PNG: corrupt zlib stream (${e.getMessage})")
          }
        if (n == 0 && inf.needsInput())
          fail("PNG: zlib stream ended before the raster was complete")
        // no-progress guard: a zlib header with FDICT set makes
        // inflate() return 0 with needsDictionary()=true and
        // needsInput()=false forever — without this branch a crafted
        // PNG HANGS the executor task instead of failing loudly
        // (PNG forbids preset dictionaries, RFC 2083 §2.3)
        if (n == 0 && !inf.finished())
          fail("PNG: zlib stream stalled (preset dictionary or " +
            "zero-progress inflate) — not a valid PNG datastream")
        off += n
      }
      // drain to confirm the stream ends exactly at the raster edge
      val probe = new Array[Byte](1)
      if (!inf.finished() && inf.inflate(probe) > 0)
        fail("PNG: zlib stream continues past the declared raster")
      if (off < expected) java.util.Arrays.copyOf(out, off) else out
    } finally inf.end()
  }

  // -- BMP ------------------------------------------------------------

  private def decodeBmp(b: Array[Byte]): Option[Pixels] = {
    if (b.length < 54) fail("BMP: truncated header")
    val dataOff = le32(b, 10)
    val dibSize = le32(b, 14)
    // subset boundary: CORE/V4/V5 oddities and non-24bpp fall to None
    if (dibSize < 40) return None
    val w = le32(b, 18)
    val hRaw = le32(b, 22)
    val bpp = le16(b, 28)
    val compression = le32(b, 30)
    // subset: 24-bit BI_RGB, 8-bit paletted BI_RGB, 8-bit BI_RLE8
    if (!(bpp == 24 && compression == 0) &&
      !(bpp == 8 && (compression == 0 || compression == 1)))
      return None
    val h = math.abs(hRaw)
    val topDown = hRaw < 0
    if (w <= 0 || h == 0) fail(s"BMP: bad dimensions ${w}x$hRaw")
    if (topDown && compression == 1)
      fail("BMP: RLE8 with top-down rows (spec forbids negative height)")
    if (w.toLong * h > MaxPixels)
      fail(s"BMP: ${w}x$h exceeds the $MaxPixels-pixel decode cap")
    // 8-bit paths read through the BGRX color table after the DIB
    // header (biClrUsed entries; 0 means the full 256)
    val palette: Array[Int] =
      if (bpp != 8) null
      else {
        val used0 = le32(b, 46)
        val used = if (used0 == 0) 256 else used0
        if (used < 1 || used > 256) fail(s"BMP: biClrUsed $used")
        val at = 14 + dibSize
        if (at + 4 * used > b.length)
          fail("BMP: color table overruns the payload")
        Array.tabulate(used)(k =>
          luma(u8(b, at + 4 * k + 2), u8(b, at + 4 * k + 1),
            u8(b, at + 4 * k)))
      }
    def pal(idx: Int): Int = {
      if (idx >= palette.length)
        fail(s"BMP: pixel index $idx beyond the ${palette.length}-" +
          "entry color table")
      palette(idx)
    }
    val out = new Array[Int](w * h)
    if (compression == 1) {
      // BI_RLE8 (public BITMAPINFOHEADER spec): encoded runs
      // [n>0, idx]; escapes [0,0]=end of line, [0,1]=end of bitmap,
      // [0,2,dx,dy]=delta (skipped pixels stay palette index 0),
      // [0,n>=3, n indices, pad to even]=absolute. Bottom-up only.
      java.util.Arrays.fill(out, pal(0))
      var i = dataOff
      var x = 0
      var row = 0 // bottom-up row counter
      def put(idx: Int): Unit = {
        if (x >= w || row >= h)
          fail(s"BMP: RLE8 run past ${w}x$h at ($x, $row)")
        out((h - 1 - row) * w + x) = pal(idx)
        x += 1
      }
      var done = false
      while (!done) {
        if (i + 2 > b.length) fail("BMP: truncated RLE8 stream")
        val n = u8(b, i)
        val c = u8(b, i + 1)
        i += 2
        if (n > 0) { // encoded run
          var k = 0
          while (k < n) { put(c); k += 1 }
        } else c match {
          case 0 => x = 0; row += 1 // end of line
          case 1 => done = true // end of bitmap
          case 2 => // delta
            if (i + 2 > b.length) fail("BMP: truncated RLE8 delta")
            x += u8(b, i); row += u8(b, i + 1); i += 2
            if (x > w || row > h) fail("BMP: RLE8 delta out of bounds")
          case count => // absolute mode, padded to even
            if (i + count > b.length)
              fail("BMP: truncated RLE8 absolute run")
            var k = 0
            while (k < count) { put(u8(b, i + k)); k += 1 }
            i += count + (count & 1)
        }
      }
      return Some(Pixels(w, h, out))
    }
    val bytesPerPx = if (bpp == 24) 3 else 1
    val stride = (w * bytesPerPx + 3) & ~3 // rows pad to 4 bytes
    if (dataOff < 0 || dataOff.toLong + stride.toLong * h > b.length)
      fail(s"BMP: pixel array (${stride}x$h at $dataOff) overruns " +
        s"the ${b.length}-byte payload")
    var y = 0
    while (y < h) {
      val srcRow = if (topDown) y else h - 1 - y
      val base = dataOff + srcRow * stride
      var x = 0
      while (x < w) {
        out(y * w + x) =
          if (bpp == 24) {
            val o = base + x * 3 // BGR order
            luma(u8(b, o + 2), u8(b, o + 1), u8(b, o))
          } else pal(u8(b, base + x))
        x += 1
      }
      y += 1
    }
    Some(Pixels(w, h, out))
  }

  // -- GIF ------------------------------------------------------------

  private def decodeGif(b: Array[Byte]): Option[Pixels] = {
    // logical screen descriptor (GIF89a spec §18)
    if (b.length < 13) fail("GIF: truncated screen descriptor")
    var i = 6
    val packed0 = u8(b, i + 4)
    i += 7
    var gct: Array[Int] = null // packed 0xRRGGBB palette
    if ((packed0 & 0x80) != 0) {
      val n = 1 << ((packed0 & 7) + 1)
      if (i + 3 * n > b.length) fail("GIF: truncated global color table")
      gct = Array.tabulate(n)(k =>
        (u8(b, i + 3 * k) << 16) | (u8(b, i + 3 * k + 1) << 8) |
          u8(b, i + 3 * k + 2))
      i += 3 * n
    }
    // block walk to the FIRST image descriptor (§20); extensions are
    // label + data sub-blocks, skipped whole
    while (true) {
      if (i >= b.length) fail("GIF: no image descriptor before EOF")
      u8(b, i) match {
        case 0x3b => return None // trailer before any image: no raster
        case 0x21 =>
          i += 2 // introducer + label
          while ({
            if (i >= b.length) fail("GIF: truncated extension block")
            val n = u8(b, i); i += 1 + n; n != 0
          }) ()
        case 0x2c =>
          if (i + 10 > b.length) fail("GIF: truncated image descriptor")
          val w = le16(b, i + 5)
          val h = le16(b, i + 7)
          val packed = u8(b, i + 9)
          i += 10
          val interlaced = (packed & 0x40) != 0
          var pal = gct
          if ((packed & 0x80) != 0) {
            val n = 1 << ((packed & 7) + 1)
            if (i + 3 * n > b.length) fail("GIF: truncated local color table")
            pal = Array.tabulate(n)(k =>
              (u8(b, i + 3 * k) << 16) | (u8(b, i + 3 * k + 1) << 8) |
                u8(b, i + 3 * k + 2))
            i += 3 * n
          }
          if (pal == null) fail("GIF: image has neither global nor " +
            "local color table")
          if (w <= 0 || h <= 0) fail(s"GIF: bad frame dimensions ${w}x$h")
          if (w.toLong * h > MaxPixels)
            fail(s"GIF: ${w}x$h exceeds the $MaxPixels-pixel decode cap")
          val idx = lzwDecode(b, i, w * h)
          // Interlace (§20 Appendix E): the stream carries the SAME
          // w·h indices; stored row j maps to display row rowOf(j)
          // through the four passes (0 step 8, 4 step 8, 2 step 4,
          // 1 step 2). Non-interlaced is the identity map.
          val rowOf: Int => Int =
            if (!interlaced) identity
            else {
              val order = new Array[Int](h)
              var j = 0
              for ((y0, dy) <- Seq((0, 8), (4, 8), (2, 4), (1, 2));
                   y <- y0 until h by dy) { order(j) = y; j += 1 }
              order(_)
            }
          val out = new Array[Int](w * h)
          var k = 0
          while (k < out.length) {
            val e = idx(k)
            if (e >= pal.length)
              fail(s"GIF: pixel index $e beyond the ${pal.length}-entry " +
                "color table")
            val p = pal(e)
            out(rowOf(k / w) * w + k % w) =
              luma((p >> 16) & 0xff, (p >> 8) & 0xff, p & 0xff)
            k += 1
          }
          return Some(Pixels(w, h, out))
        case other => fail(f"GIF: unknown block introducer 0x$other%02x")
      }
    }
    None // unreachable
  }

  /** Variable-width GIF LZW (§22, Welch 1984): codes LSB-first across
    * the concatenated data sub-blocks; CLEAR resets the table, the
    * KwKwK case (code == next unassigned) emits prev + prev.head.
    * Decodes EXACTLY `nPixels` indices, then requires the stream to
    * end (EOI or clean sub-block terminator) — excess pixel data on a
    * declared raster is corruption, not padding.
    */
  private def lzwDecode(b: Array[Byte], start: Int,
                        nPixels: Int): Array[Int] = {
    if (start >= b.length) fail("GIF: missing LZW minimum code size")
    val minCode = u8(b, start)
    if (minCode < 2 || minCode > 8) fail(s"GIF: LZW code size $minCode")
    val clear = 1 << minCode
    val eoi = clear + 1
    // table as parent-pointer forest; suffix(c) is the code's last
    // byte, prefix(c) its parent (|chain| ≤ 4096, spec table cap)
    val prefix = new Array[Int](4096)
    val suffix = new Array[Int](4096)
    var next = eoi + 1
    var width = minCode + 1
    var i = start + 1 // byte cursor
    var sub = 0 // bytes left in the current data sub-block
    var acc = 0L // LSB-first bit accumulator
    var nBits = 0
    var prev = -1
    val out = new Array[Int](nPixels)
    var produced = 0
    val stack = new Array[Int](4096)
    def readCode(): Int = {
      while (nBits < width) {
        if (sub == 0) {
          if (i >= b.length) fail("GIF: LZW stream truncated")
          sub = u8(b, i); i += 1
          if (sub == 0) fail("GIF: LZW stream ended before the raster " +
            "was complete")
        }
        if (i >= b.length) fail("GIF: LZW sub-block overruns the payload")
        acc |= u8(b, i).toLong << nBits
        nBits += 8; i += 1; sub -= 1
      }
      val c = (acc & ((1 << width) - 1)).toInt
      acc >>>= width; nBits -= width
      c
    }
    while (produced < nPixels) {
      val code = readCode()
      if (code == clear) {
        next = eoi + 1; width = minCode + 1; prev = -1
      } else if (code == eoi) {
        fail(s"GIF: EOI after $produced of $nPixels pixels")
      } else {
        if (code > next || (code == next && prev < 0))
          fail(s"GIF: LZW code $code beyond the $next-entry table")
        var sp = 0
        var c = code
        val kwkwk = code == next
        if (kwkwk) { // string(prev) + first(string(prev))
          stack(sp) = -1; sp += 1 // placeholder, patched to root below
          c = prev
        }
        while (c >= clear + 2) { // walk the chain down to a root
          stack(sp) = suffix(c); sp += 1; c = prefix(c)
        }
        val root = c // literal < clear
        if (kwkwk) stack(0) = root
        out(produced) = root; produced += 1
        var j = sp - 1
        while (j >= 0) {
          if (produced >= nPixels)
            fail("GIF: LZW output overruns the declared raster")
          out(produced) = stack(j); produced += 1
          j -= 1
        }
        if (prev >= 0 && next < 4096) {
          prefix(next) = prev; suffix(next) = root
          next += 1
          if (next == (1 << width) && width < 12) width += 1
        }
        prev = code
      }
    }
    // the raster is complete: the stream must close with EOI (after
    // which the sub-block terminator follows) — anything else is a
    // truncated or oversized stream
    val fin = readCode()
    if (fin != eoi && fin != clear)
      fail(s"GIF: expected EOI after the raster, read code $fin")
    if (fin == clear && readCode() != eoi)
      fail("GIF: expected EOI after the raster")
    out
  }
}

/** Real PNG/BMP ENCODERS — the fixture-synthesis and thumbnail-write
  * halves of [[PixelDecoder]]. The PNG writer emits a genuine
  * deflate-compressed, CRC-chunked stream (`java.util.zip.Deflater`),
  * with the scanline filter chosen per row — so a round-trip through
  * the decoder exercises every filter path, not just Filter 0.
  */
object PixelEncoder {

  /** Encode an RGB (or grayscale, `colorType` 0) PNG. `rgb(x, y)`
    * returns packed 0xRRGGBB; for color type 0 the low byte is the
    * gray sample. `filterFor(y)` picks the scanline filter (0–4) —
    * the default cycles through all five. `interlace` emits the
    * Adam7 layout (RFC 2083 §2.6): seven per-pass sub-images, each
    * filtered independently (`filterFor` sees the pass-local row
    * index), empty passes contributing no bytes; the non-interlaced
    * layout is unchanged byte for byte.
    */
  def png(w: Int, h: Int, rgb: (Int, Int) => Int, colorType: Int = 2,
          filterFor: Int => Int = _ % 5,
          interlace: Boolean = false, bitDepth: Int = 8): Array[Byte] = {
    require(w > 0 && h > 0, s"png: bad dimensions ${w}x$h")
    require(colorType == 0 || colorType == 2, s"png: colorType $colorType")
    require(bitDepth == 8 || bitDepth == 16, s"png: depth $bitDepth")
    // 16-bit samples expand each 8-bit value v to (v << 8) | v — the
    // standard bit-replication upconversion, whose high-byte
    // reduction recovers v exactly
    val channels = if (colorType == 0) 1 else 3
    val bps = bitDepth / 8
    val bpp = channels * bps
    val passes: Seq[(Int, Int, Int, Int)] =
      if (!interlace) Seq((0, 0, 1, 1))
      else Seq((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
    // raw scanlines per pass, filtered exactly as the spec defines
    // the inverse of the decoder's reconstruction
    val rawOut = new java.io.ByteArrayOutputStream()
    for ((x0, y0, dx, dy) <- passes) {
      val pw = if (w > x0) (w - x0 + dx - 1) / dx else 0
      val ph = if (h > y0) (h - y0 + dy - 1) / dy else 0
      if (pw > 0 && ph > 0) {
        val stride = pw * bpp
        val cur = new Array[Int](stride)
        val prev = new Array[Int](stride)
        for (y <- 0 until ph) {
          for (px <- 0 until pw) {
            val p = rgb(x0 + px * dx, y0 + y * dy)
            for (c <- 0 until channels) {
              val v =
                if (channels == 1) p & 0xff
                else (p >> (16 - 8 * c)) & 0xff
              cur(px * bpp + c * bps) = v
              if (bps == 2) cur(px * bpp + c * bps + 1) = v
            }
          }
          val f = filterFor(y)
          rawOut.write(f)
          for (x <- 0 until stride) {
            val left = if (x >= bpp) cur(x - bpp) else 0
            val up = prev(x)
            val ul = if (x >= bpp) prev(x - bpp) else 0
            val filtered = f match {
              case 0 => cur(x)
              case 1 => cur(x) - left
              case 2 => cur(x) - up
              case 3 => cur(x) - (left + up) / 2
              case 4 => cur(x) - paethRef(left, up, ul)
              case other => throw new IllegalArgumentException(
                s"png: filter $other")
            }
            rawOut.write(filtered & 0xff)
          }
          System.arraycopy(cur, 0, prev, 0, stride)
        }
      }
    }
    val raw = rawOut.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte), 0, 8)
    val ihdr = new Array[Byte](13)
    putBe32(ihdr, 0, w); putBe32(ihdr, 4, h)
    ihdr(8) = bitDepth.toByte; ihdr(9) = colorType.toByte
    ihdr(12) = if (interlace) 1 else 0 // Adam7 flag
    chunk(out, "IHDR", ihdr)
    val defl = new java.util.zip.Deflater()
    try {
      defl.setInput(raw); defl.finish()
      val zout = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!defl.finished()) zout.write(buf, 0, defl.deflate(buf))
      chunk(out, "IDAT", zout.toByteArray)
    } finally defl.end()
    chunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Encode an 8-bit PALETTED BMP — uncompressed BI_RGB, or BI_RLE8
    * when `rle` (a greedy encoder that uses BOTH run modes: pixel
    * runs ≥ 3 as encoded pairs, literal stretches ≥ 3 as absolute
    * runs with their even-byte pad, shorter leftovers as unit
    * encoded pairs; EOL after every row, EOB last — so a round-trip
    * drives each decoder branch except delta, which is hand-built
    * in the spec). `idx(x, y)` is the palette index; `palette`
    * holds 0xRRGGBB entries written as BGRX quads.
    */
  def bmpPaletted(w: Int, h: Int, idx: (Int, Int) => Int,
                  palette: Array[Int],
                  rle: Boolean = false): Array[Byte] = {
    require(w > 0 && h > 0, s"bmp: bad dimensions ${w}x$h")
    require(!rle || w <= 254,
      s"bmp: RLE8 encoder caps rows at 254 px, got $w")
    require(palette.nonEmpty && palette.length <= 256,
      s"bmp: ${palette.length} palette entries")
    def px(x: Int, y: Int): Int = {
      val v = idx(x, y)
      require(v >= 0 && v < palette.length,
        s"bmp: palette index $v out of range")
      v
    }
    val data = new java.io.ByteArrayOutputStream()
    if (!rle) {
      val stride = (w + 3) & ~3
      for (y <- (h - 1) to 0 by -1) {
        for (x <- 0 until w) data.write(px(x, y))
        for (_ <- w until stride) data.write(0)
      }
    } else {
      for (row <- 0 until h) {
        val y = h - 1 - row // bottom-up
        var x = 0
        while (x < w) {
          var r = 1
          while (x + r < w && px(x + r, y) == px(x, y) && r < 255) r += 1
          if (r >= 3) {
            data.write(r); data.write(px(x, y)); x += r
          } else {
            // literal stretch: until a ≥3 run starts or row ends
            val start = x
            var e = x
            var run = 1
            while (e < w && run < 3) {
              run = 1
              while (e + run < w && px(e + run, y) == px(e, y) &&
                run < 3) run += 1
              if (run < 3) e += run
            }
            val n = e - start
            if (n >= 3) { // absolute mode, pad to even
              data.write(0); data.write(n)
              for (k <- start until e) data.write(px(k, y))
              if ((n & 1) == 1) data.write(0)
            } else { // 1–2 leftovers as unit encoded pairs
              for (k <- start until e) { data.write(1); data.write(px(k, y)) }
            }
            x = e
          }
        }
        data.write(0); data.write(if (row == h - 1) 1 else 0)
      }
    }
    val bits = data.toByteArray
    val dataOff = 14 + 40 + 4 * palette.length
    val out = new Array[Byte](dataOff + bits.length)
    def pLe16(i: Int, v: Int): Unit = {
      out(i) = v.toByte; out(i + 1) = (v >>> 8).toByte
    }
    def pLe32(i: Int, v: Int): Unit = {
      pLe16(i, v & 0xffff); pLe16(i + 2, v >>> 16)
    }
    out(0) = 'B'; out(1) = 'M'
    pLe32(2, out.length); pLe32(6, 0); pLe32(10, dataOff)
    pLe32(14, 40); pLe32(18, w); pLe32(22, h)
    pLe16(26, 1); pLe16(28, 8)
    pLe32(30, if (rle) 1 else 0)
    pLe32(34, bits.length); pLe32(38, 2835); pLe32(42, 2835)
    pLe32(46, palette.length); pLe32(50, palette.length)
    for (k <- palette.indices) {
      val at = 54 + 4 * k
      out(at) = (palette(k) & 0xff).toByte
      out(at + 1) = ((palette(k) >> 8) & 0xff).toByte
      out(at + 2) = ((palette(k) >> 16) & 0xff).toByte
      out(at + 3) = 0
    }
    System.arraycopy(bits, 0, out, dataOff, bits.length)
    out
  }

  /** Encode a PALETTED PNG (color type 3) at `bitDepth` 1/2/4/8:
    * `idx(x, y)` yields the palette index (must fit the depth),
    * `palette` the 0xRRGGBB entries. Scanlines pack indices
    * MSB-first and filter byte-wise (distance 1); `interlace` emits
    * Adam7 exactly as [[png]]. Filters are restricted to 0–2 — the
    * byte-distance Average/Paeth filters are decoder-exercised via
    * the truecolor path, and on packed indices they produce the
    * same bytes either way.
    */
  def pngPaletted(w: Int, h: Int, idx: (Int, Int) => Int,
                  palette: Array[Int], bitDepth: Int,
                  filterFor: Int => Int = _ % 3,
                  interlace: Boolean = false): Array[Byte] = {
    require(w > 0 && h > 0, s"png: bad dimensions ${w}x$h")
    require(Set(1, 2, 4, 8)(bitDepth), s"png: palette depth $bitDepth")
    require(palette.nonEmpty && palette.length <= 256 &&
      palette.length <= (1 << bitDepth),
      s"png: ${palette.length} palette entries at depth $bitDepth")
    val passes: Seq[(Int, Int, Int, Int)] =
      if (!interlace) Seq((0, 0, 1, 1))
      else Seq((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
    val rawOut = new java.io.ByteArrayOutputStream()
    for ((x0, y0, dx, dy) <- passes) {
      val pw = if (w > x0) (w - x0 + dx - 1) / dx else 0
      val ph = if (h > y0) (h - y0 + dy - 1) / dy else 0
      if (pw > 0 && ph > 0) {
        val stride = (pw * bitDepth + 7) / 8
        val cur = new Array[Int](stride)
        val prev = new Array[Int](stride)
        for (y <- 0 until ph) {
          java.util.Arrays.fill(cur, 0)
          for (px <- 0 until pw) {
            val v = idx(x0 + px * dx, y0 + y * dy)
            require(v >= 0 && v < palette.length,
              s"png: palette index $v out of range")
            val bit = px * bitDepth
            cur(bit / 8) |= v << (8 - bitDepth - bit % 8)
          }
          val f = filterFor(y) % 3
          rawOut.write(f)
          for (x <- 0 until stride) {
            val left = if (x >= 1) cur(x - 1) else 0
            val filtered = f match {
              case 0 => cur(x)
              case 1 => cur(x) - left
              case _ => cur(x) - prev(x)
            }
            rawOut.write(filtered & 0xff)
          }
          System.arraycopy(cur, 0, prev, 0, stride)
        }
      }
    }
    val raw = rawOut.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte), 0, 8)
    val ihdr = new Array[Byte](13)
    putBe32(ihdr, 0, w); putBe32(ihdr, 4, h)
    ihdr(8) = bitDepth.toByte; ihdr(9) = 3
    ihdr(12) = if (interlace) 1 else 0
    chunk(out, "IHDR", ihdr)
    val plte = new Array[Byte](palette.length * 3)
    for (k <- palette.indices) {
      plte(3 * k) = ((palette(k) >> 16) & 0xff).toByte
      plte(3 * k + 1) = ((palette(k) >> 8) & 0xff).toByte
      plte(3 * k + 2) = (palette(k) & 0xff).toByte
    }
    chunk(out, "PLTE", plte)
    val defl = new java.util.zip.Deflater()
    try {
      defl.setInput(raw); defl.finish()
      val zout = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!defl.finished()) zout.write(buf, 0, defl.deflate(buf))
      chunk(out, "IDAT", zout.toByteArray)
    } finally defl.end()
    chunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Encode a 24-bit uncompressed bottom-up BMP; `rgb(x, y)` returns
    * packed 0xRRGGBB.
    */
  def bmp(w: Int, h: Int, rgb: (Int, Int) => Int): Array[Byte] = {
    require(w > 0 && h > 0, s"bmp: bad dimensions ${w}x$h")
    val stride = (w * 3 + 3) & ~3
    val size = 54 + stride * h
    val b = new Array[Byte](size)
    b(0) = 'B'; b(1) = 'M'
    putLe32(b, 2, size); putLe32(b, 10, 54)
    putLe32(b, 14, 40) // BITMAPINFOHEADER
    putLe32(b, 18, w); putLe32(b, 22, h) // positive = bottom-up
    b(26) = 1 // planes
    b(28) = 24 // bpp; compression stays 0 = BI_RGB
    putLe32(b, 34, stride * h)
    for (y <- 0 until h; x <- 0 until w) {
      val p = rgb(x, y)
      val o = 54 + (h - 1 - y) * stride + x * 3
      b(o) = (p & 0xff).toByte // BGR order
      b(o + 1) = ((p >> 8) & 0xff).toByte
      b(o + 2) = ((p >> 16) & 0xff).toByte
    }
    b
  }

  /** Encode a grayscale GIF89a: a 256-entry grayscale global color
    * table (palette index == gray value) and one frame —
    * `interlace` stores rows in the §20 Appendix E four-pass order
    * and sets the flag; the decoded raster is identical. The LZW
    * stream uses the spec's "uncompressed GIF"
    * technique — 8-bit literals at a fixed 9-bit code width, with a
    * CLEAR every 128 literals so the table never grows past the
    * 9-bit boundary — which is a fully conformant stream any decoder
    * (including [[PixelDecoder.decodeGif]]'s variable-width path)
    * must accept; the decoder's chain/KwKwK machinery is exercised
    * by real compressed GIFs in the spec tests.
    */
  def gif(w: Int, h: Int, gray: (Int, Int) => Int,
          interlace: Boolean = false): Array[Byte] = {
    require(w > 0 && h > 0 && w < 65536 && h < 65536,
      s"gif: bad dimensions ${w}x$h")
    val rowOrder: Seq[Int] =
      if (!interlace) 0 until h
      else for ((y0, dy) <- Seq((0, 8), (4, 8), (2, 4), (1, 2));
                y <- y0 until h by dy) yield y
    val out = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    out.write("GIF89a".getBytes("US-ASCII"))
    le16(w); le16(h)
    out.write(0xf7) // GCT present, 8-bit color resolution, 256 entries
    out.write(0) // background index
    out.write(0) // aspect
    for (k <- 0 until 256) { out.write(k); out.write(k); out.write(k) }
    out.write(0x2c) // image descriptor
    le16(0); le16(0); le16(w); le16(h)
    out.write(if (interlace) 0x40 else 0) // no LCT; interlace flag
    out.write(8) // LZW minimum code size
    // bit-pack 9-bit codes LSB-first: CLEAR, ≤128 literals, …, EOI
    val bits = new java.io.ByteArrayOutputStream()
    var acc = 0L
    var nBits = 0
    def putCode(c: Int): Unit = {
      acc |= c.toLong << nBits; nBits += 9
      while (nBits >= 8) {
        bits.write((acc & 0xff).toInt); acc >>>= 8; nBits -= 8
      }
    }
    putCode(256) // CLEAR
    var emitted = 0
    for (y <- rowOrder; x <- 0 until w) {
      val g = gray(x, y)
      require(g >= 0 && g <= 255, s"gif: gray $g out of range at ($x,$y)")
      putCode(g)
      emitted += 1
      if (emitted == 128) { putCode(256); emitted = 0 }
    }
    putCode(257) // EOI
    if (nBits > 0) bits.write((acc & 0xff).toInt)
    val z = bits.toByteArray
    var off = 0
    while (off < z.length) { // ≤255-byte data sub-blocks
      val n = math.min(255, z.length - off)
      out.write(n); out.write(z, off, n); off += n
    }
    out.write(0) // sub-block terminator
    out.write(0x3b) // trailer
    out.toByteArray
  }

  private def paethRef(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b)
    val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  private def putBe32(b: Array[Byte], i: Int, v: Int): Unit = {
    b(i) = (v >>> 24).toByte; b(i + 1) = (v >>> 16).toByte
    b(i + 2) = (v >>> 8).toByte; b(i + 3) = v.toByte
  }

  private def putLe32(b: Array[Byte], i: Int, v: Int): Unit = {
    b(i) = v.toByte; b(i + 1) = (v >>> 8).toByte
    b(i + 2) = (v >>> 16).toByte; b(i + 3) = (v >>> 24).toByte
  }

  private def chunk(out: java.io.ByteArrayOutputStream, typ: String,
                    data: Array[Byte]): Unit = {
    val len = new Array[Byte](4)
    putBe32(len, 0, data.length)
    out.write(len, 0, 4)
    val t = typ.getBytes("US-ASCII")
    out.write(t, 0, 4)
    out.write(data, 0, data.length)
    val crc = new java.util.zip.CRC32
    crc.update(t); crc.update(data)
    val c = new Array[Byte](4)
    putBe32(c, 0, crc.getValue.toInt)
    out.write(c, 0, 4)
  }
}

/** Real RIFF/WAVE writer for 16-bit PCM — the audio fixture/export
  * twin of [[PixelEncoder]], inverting [[AudioHeader.pcm16]].
  */
object WavEncoder {

  /** Mono-interleave-free encode: `samples` are written one 16-bit LE
    * value per frame per channel, each channel carrying the same
    * sample (fixture shape; a real exporter would interleave
    * per-channel arrays).
    */
  def pcm16(samples: Array[Int], channels: Int = 1,
            rate: Int = 8000): Array[Byte] = {
    require(channels >= 1 && rate > 0, s"wav: $channels ch @ $rate Hz")
    val blockAlign = channels * 2
    val dataSize = samples.length * blockAlign
    val b = new Array[Byte](44 + dataSize)
    def putLe16(i: Int, v: Int): Unit = {
      b(i) = v.toByte; b(i + 1) = (v >>> 8).toByte
    }
    def putLe32(i: Int, v: Int): Unit = {
      putLe16(i, v & 0xffff); putLe16(i + 2, v >>> 16)
    }
    def putAscii(i: Int, s: String): Unit =
      s.indices.foreach(j => b(i + j) = s.charAt(j).toByte)
    putAscii(0, "RIFF"); putLe32(4, 36 + dataSize); putAscii(8, "WAVE")
    putAscii(12, "fmt "); putLe32(16, 16); putLe16(20, 1) // PCM
    putLe16(22, channels); putLe32(24, rate)
    putLe32(28, rate * blockAlign); putLe16(32, blockAlign)
    putLe16(34, 16)
    putAscii(36, "data"); putLe32(40, dataSize)
    for (k <- samples.indices; c <- 0 until channels)
      putLe16(44 + k * blockAlign + c * 2, samples(k) & 0xffff)
    b
  }

  /** ITU-T G.711 companded WAV: `codes` are the RAW 8-bit μ-law
    * (`tag = 7`) or A-law (`tag = 6`) bytes, one per frame per
    * channel — the fixture supplies the companded domain directly
    * so the decoder's expansion ([[AudioHeader.linearSamples]]) is
    * what gets verified, byte for byte, against the oracle's
    * closed-form G.711 tables.
    */
  def g711(codes: Array[Int], tag: Int, channels: Int = 1,
           rate: Int = 8000): Array[Byte] = {
    require(tag == 6 || tag == 7, s"wav: G.711 tag $tag")
    require(channels >= 1 && rate > 0, s"wav: $channels ch @ $rate Hz")
    val blockAlign = channels
    val dataSize = codes.length * blockAlign
    val b = new Array[Byte](44 + dataSize)
    def putLe16(i: Int, v: Int): Unit = {
      b(i) = v.toByte; b(i + 1) = (v >>> 8).toByte
    }
    def putLe32(i: Int, v: Int): Unit = {
      putLe16(i, v & 0xffff); putLe16(i + 2, v >>> 16)
    }
    def putAscii(i: Int, s: String): Unit =
      s.indices.foreach(j => b(i + j) = s.charAt(j).toByte)
    putAscii(0, "RIFF"); putLe32(4, 36 + dataSize); putAscii(8, "WAVE")
    putAscii(12, "fmt "); putLe32(16, 16); putLe16(20, tag)
    putLe16(22, channels); putLe32(24, rate)
    putLe32(28, rate * blockAlign); putLe16(32, blockAlign)
    putLe16(34, 8)
    putAscii(36, "data"); putLe32(40, dataSize)
    for (k <- codes.indices; c <- 0 until channels) {
      require(codes(k) >= 0 && codes(k) <= 255, s"wav: code ${codes(k)}")
      b(44 + k * blockAlign + c) = codes(k).toByte
    }
    b
  }

  /** MONO IMA/DVI ADPCM WAV (format tag 0x11): the reference
    * quantizer — nibble bits set greedily against step, step/2,
    * step/4, predictor/index advanced by the DECODER's own
    * reconstruction so encoder state never drifts from what the
    * decoder rebuilds. Blocks carry `blockSamples` samples (odd:
    * seed + 2 per data byte); the final block pads by repeating the
    * last sample, and the fmt chunk declares samplesPerBlock via
    * the 2-byte extension the spec requires for tag 0x11.
    */
  def imaAdpcm(samples: Array[Int], blockSamples: Int = 505,
               rate: Int = 8000): Array[Byte] = {
    require(samples.nonEmpty, "wav: no samples")
    require(blockSamples >= 3 && blockSamples % 2 == 1,
      s"wav: blockSamples $blockSamples (odd, >= 3)")
    require(rate > 0, s"wav: rate $rate")
    val blockAlign = 4 + (blockSamples - 1) / 2
    val nBlocks = (samples.length + blockSamples - 1) / blockSamples
    val dataSize = nBlocks * blockAlign
    val b = new Array[Byte](48 + dataSize)
    def putLe16(i: Int, v: Int): Unit = {
      b(i) = v.toByte; b(i + 1) = (v >>> 8).toByte
    }
    def putLe32(i: Int, v: Int): Unit = {
      putLe16(i, v & 0xffff); putLe16(i + 2, v >>> 16)
    }
    def putAscii(i: Int, s: String): Unit =
      s.indices.foreach(j => b(i + j) = s.charAt(j).toByte)
    putAscii(0, "RIFF"); putLe32(4, 40 + dataSize); putAscii(8, "WAVE")
    putAscii(12, "fmt "); putLe32(16, 20); putLe16(20, 0x11)
    putLe16(22, 1); putLe32(24, rate)
    putLe32(28, rate * blockAlign / blockSamples); putLe16(32, blockAlign)
    putLe16(34, 4); putLe16(36, 2); putLe16(38, blockSamples)
    putAscii(40, "data"); putLe32(44, dataSize)
    var pred = 0
    var index = 0
    var at = 48
    var k = 0
    def sampleAt(i: Int): Int =
      math.max(-32768, math.min(32767,
        samples(math.min(i, samples.length - 1))))
    while (k < nBlocks * blockSamples) {
      // block header: current predictor seed + step index
      pred = sampleAt(k)
      putLe16(at, pred & 0xffff); b(at + 2) = index.toByte; b(at + 3) = 0
      at += 4
      k += 1
      var half = 0
      var acc = 0
      var j = 1
      while (j < blockSamples) {
        val x = sampleAt(k)
        val step = AudioHeader.ImaStep(index)
        var d = x - pred
        var n = 0
        if (d < 0) { n = 8; d = -d }
        if (d >= step) { n |= 4; d -= step }
        if (d >= (step >> 1)) { n |= 2; d -= step >> 1 }
        if (d >= (step >> 2)) n |= 1
        // advance by the decoder's reconstruction
        var diff = step >> 3
        if ((n & 4) != 0) diff += step
        if ((n & 2) != 0) diff += step >> 1
        if ((n & 1) != 0) diff += step >> 2
        pred = if ((n & 8) != 0) pred - diff else pred + diff
        if (pred > 32767) pred = 32767
        if (pred < -32768) pred = -32768
        index += AudioHeader.ImaIndexAdj(n & 7)
        if (index < 0) index = 0
        if (index > 88) index = 88
        if (half == 0) { acc = n; half = 1 }
        else { b(at) = (acc | (n << 4)).toByte; at += 1; half = 0 }
        j += 1
        k += 1
      }
    }
    b
  }
}
