package graft.ext

import ByteReader._

/** Pure-JVM container-header parsing for the public PNG / GIF / BMP /
  * JPEG image formats — byte-level, no codec dependency. Replaces the
  * hash stand-in for payloads that really are images; the reference
  * formats are public specs (PNG: RFC 2083 §3.1/§4.1.1, GIF:
  * GIF89a specification §17-18, BMP: BITMAPCOREHEADER /
  * BITMAPINFOHEADER layouts, JPEG: ITU-T T.81 §B.2.2 frame header).
  */
object ImageHeader {

  /** Parse `(format, width, height)` from the container header, or
    * None for payloads that are not PNG/GIF/BMP.
    *
    * Detection is strict enough that text payloads cannot misparse:
    * PNG's signature starts with a non-ASCII byte, GIF requires the
    * exact 6-byte version magic, and BMP additionally requires the
    * four reserved bytes to be zero and a known DIB header size —
    * fields that printable text (no NUL bytes) can never satisfy.
    */
  def parse(b: Array[Byte]): Option[(String, Int, Int)] = {
    if (b.length >= 24 &&
        b(0) == 0x89.toByte && ascii(b, 1, "PNG") &&
        b(4) == 0x0d.toByte && b(5) == 0x0a.toByte &&
        b(6) == 0x1a.toByte && b(7) == 0x0a.toByte &&
        ascii(b, 12, "IHDR"))
      Some(("png", be32(b, 16), be32(b, 20)))
    else if (b.length >= 10 &&
        (ascii(b, 0, "GIF87a") || ascii(b, 0, "GIF89a")))
      Some(("gif", le16(b, 6), le16(b, 8)))
    else if (b.length >= 26 && ascii(b, 0, "BM") &&
        le32(b, 6) == 0) le32(b, 14) match {
      // BITMAPCOREHEADER: 16-bit dims at 18/20
      case 12 => Some(("bmp", le16(b, 18), le16(b, 20)))
      // BITMAPINFOHEADER and its extensions: 32-bit dims at 18/22;
      // height may be negative (top-down rows) — size is |height|
      case 40 | 52 | 56 | 108 | 124 =>
        Some(("bmp", le32(b, 18), math.abs(le32(b, 22))))
      case _ => None
    }
    else if (b.length >= 4 && b(0) == 0xff.toByte && b(1) == 0xd8.toByte)
      jpegDims(b)
    else None
  }

  /** JPEG dimensions from the first frame header (ITU-T T.81 §B.2.2):
    * walk the marker segments after SOI until an SOF marker — C0/C2
    * (baseline/progressive) and the other SOFn variants, but NOT
    * C4 (DHT), C8 (JPG) or CC (DAC), which share the Cx range without
    * being frame headers — then read [precision, height:16, width:16].
    * None for streams that are truncated, hit scan data (SOS) or the
    * trailer before any frame header, or break marker framing.
    */
  private def jpegDims(b: Array[Byte]): Option[(String, Int, Int)] = {
    var i = 2
    while (i + 4 <= b.length && b(i) == 0xff.toByte) {
      val marker = u8(b, i + 1)
      if (marker >= 0xc0 && marker <= 0xcf &&
          marker != 0xc4 && marker != 0xc8 && marker != 0xcc) {
        // SOF segment: len(2) precision(1) height(2) width(2)
        return if (i + 9 <= b.length && be16(b, i + 2) >= 8)
          Some(("jpeg", be16(b, i + 7), be16(b, i + 5)))
        else None
      }
      if (marker == 0xff) i += 1 // fill byte (§B.1.1.2)
      else if (marker == 0xd8 || marker == 0x01 ||
          (marker >= 0xd0 && marker <= 0xd7)) i += 2 // standalone
      else if (marker == 0xd9 || marker == 0xda) return None // EOI/SOS
      else {
        val len = be16(b, i + 2)
        if (len < 2) return None
        i += 2 + len
      }
    }
    None
  }

  /** Count GIF frames by walking the block stream (GIF89a spec §20-25):
    * skip the logical screen descriptor and optional global color
    * table, then one frame per image descriptor (0x2C), skipping
    * extensions (0x21) and each block's length-prefixed sub-blocks,
    * until the trailer (0x3B). None for a truncated or malformed
    * stream (e.g. header-only payloads) — callers fall back to 1.
    */
  def gifFrames(b: Array[Byte]): Option[Int] = {
    if (b.length < 13 ||
        !(ascii(b, 0, "GIF87a") || ascii(b, 0, "GIF89a"))) return None
    var i = 13 // 6-byte header + 7-byte logical screen descriptor
    val flags = u8(b, 10)
    if ((flags & 0x80) != 0) i += 3 * (1 << ((flags & 7) + 1))
    var frames = 0
    def skipSubBlocks(): Boolean = {
      while (i < b.length && b(i) != 0) i += u8(b, i) + 1
      if (i >= b.length) false else { i += 1; true }
    }
    while (i < b.length) {
      u8(b, i) match {
        case 0x3b => return Some(frames)
        case 0x21 => // extension: introducer + label + sub-blocks
          i += 2
          if (!skipSubBlocks()) return None
        case 0x2c => // image descriptor + optional local color table +
          // LZW minimum code size + image data sub-blocks
          if (i + 10 > b.length) return None
          val lflags = u8(b, i + 9)
          i += 10
          if ((lflags & 0x80) != 0) i += 3 * (1 << ((lflags & 7) + 1))
          i += 1
          if (!skipSubBlocks()) return None
          frames += 1
        case _ => return None
      }
    }
    None // ran off the end without a trailer
  }
}

/** Pure-JVM RIFF/WAVE header parsing (public format: RIFF container +
  * PCM `fmt ` chunk, Microsoft/IBM WAVE spec). Byte-level, no codec
  * dependency — the audio twin of [[ImageHeader]].
  */
object AudioHeader {

  /** Parsed WAV facts; `nSamples` = data-chunk bytes / block align. */
  case class Wav(channels: Int, sampleRate: Int, bitsPerSample: Int,
                 nSamples: Long)

  /** Parse the `fmt ` and `data` chunk headers of a RIFF/WAVE stream.
    * The data payload itself need not be present — only its declared
    * size is read, so header-only prefixes parse (the shape a sampled
    * metadata scan over huge audio files wants).
    */
  def parseWav(b: Array[Byte]): Option[Wav] = {
    if (b.length < 12 || !ascii(b, 0, "RIFF") || !ascii(b, 8, "WAVE"))
      return None
    // long offsets: a hostile 32-bit chunk size must walk off the end
    // (loop exit), never overflow Int and walk backwards
    var i = 12L
    var fmt: Option[(Int, Int, Int, Int)] = None
    var dataSize: Option[Long] = None
    while (i + 8 <= b.length && (fmt.isEmpty || dataSize.isEmpty)) {
      val at = i.toInt
      val size = le32u(b, at + 4)
      // the declared chunk size must cover the 16 PCM fmt bytes we
      // read, or a truncated fmt chunk would read the next chunk's bytes
      if (ascii(b, at, "fmt ") && size >= 16 && i + 24 <= b.length)
        fmt = Some((le16(b, at + 10), le32u(b, at + 12).toInt,
          le16(b, at + 22), le16(b, at + 20)))
      if (ascii(b, at, "data")) dataSize = Some(size)
      i += 8 + size + (size & 1) // chunks pad to even
    }
    for {
      (channels, rate, bits, blockAlign) <- fmt
      ds <- dataSize
      if blockAlign > 0 && rate > 0
    } yield Wav(channels, rate, bits, ds / blockAlign)
  }

  /** FIRST-CHANNEL 16-bit PCM samples of a RIFF/WAVE payload whose
    * data chunk is actually present — the real sample decode behind
    * [[Multimodal.audioFingerprints]] (where [[parseWav]] reads only
    * the declared sizes, this walks the bytes). None for non-WAV or
    * non-16-bit payloads; LOUD failure when the declared data chunk
    * overruns the payload (a truncated corpus member must not yield
    * a silently short fingerprint).
    */
  def pcm16(b: Array[Byte]): Option[Array[Int]] =
    fmtAndData(b).collect {
      case (1, _, 16, blockAlign, rate, off, size)
        if blockAlign >= 2 && rate > 0 =>
        read16(b, off, size, blockAlign)
    }

  /** FIRST-CHANNEL 16-bit-LINEAR samples of a RIFF/WAVE payload:
    * integer PCM (tag 1, 16-bit) read as [[pcm16]]; ITU-T G.711
    * μ-law (tag 7) and A-law (tag 6, both 8 bits/sample, the
    * telephony/speech-corpus codings) expanded to linear through
    * the spec's segment formulas (G.711 Tables 1a/2a — closed-form
    * integer expressions, so a SQL oracle replays the decode
    * exactly); MONO IMA/DVI ADPCM (tag 0x11, 4-bit, the classic
    * compressed-WAV coding) decoded block by block with the
    * standard step/index tables ([[imaAdpcmBlockDecode]] — a
    * stateful recursion, so spec-tested rather than
    * oracle-replayed). None for other codings (including stereo
    * ADPCM, whose nibble groups interleave per channel); same
    * loud-overrun contract.
    */
  def linearSamples(b: Array[Byte]): Option[Array[Int]] =
    fmtAndData(b).collect {
      case (1, _, 16, blockAlign, rate, off, size)
        if blockAlign >= 2 && rate > 0 =>
        read16(b, off, size, blockAlign)
      case (tag, _, 8, blockAlign, rate, off, size)
        if (tag == 6 || tag == 7) && blockAlign >= 1 && rate > 0 =>
        val table = if (tag == 7) UlawTable else AlawTable
        if (off + size > b.length)
          throw new IllegalArgumentException(
            s"WAV samples: data chunk declares $size bytes at " +
              s"offset $off but the payload holds ${b.length}")
        val n = (size / blockAlign).toInt
        val out = new Array[Int](n)
        var k = 0
        while (k < n) {
          out(k) = table(b(off + k * blockAlign) & 0xff)
          k += 1
        }
        out
      case (0x11, 1, 4, blockAlign, rate, off, size)
        if blockAlign >= 4 && rate > 0 =>
        if (off + size > b.length)
          throw new IllegalArgumentException(
            s"WAV samples: data chunk declares $size bytes at " +
              s"offset $off but the payload holds ${b.length}")
        if (size % blockAlign != 0)
          throw new IllegalArgumentException(
            s"WAV IMA ADPCM: data size $size is not a multiple of " +
              s"the $blockAlign-byte block")
        val nBlocks = (size / blockAlign).toInt
        val perBlock = 1 + (blockAlign - 4) * 2
        val out = new Array[Int](nBlocks * perBlock)
        var blk = 0
        while (blk < nBlocks) {
          imaAdpcmBlockDecode(b, off + blk * blockAlign, blockAlign,
            out, blk * perBlock)
          blk += 1
        }
        out
    }

  /** IMA step-size table (IMA ADPCM reference, 89 entries). */
  private[ext] val ImaStep: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
    143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449,
    494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411,
    1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026,
    4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442,
    11487, 12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623,
    27086, 29794, 32767)

  /** Index adjustment per nibble magnitude (low 3 bits). */
  private[ext] val ImaIndexAdj: Array[Int] =
    Array(-1, -1, -1, -1, 2, 4, 6, 8)

  /** Decode one mono IMA ADPCM block: 2-byte LE predictor seed,
    * 1-byte step index, 1 reserved byte, then 4-bit codes packed
    * LOW nibble first. Emits 1 + 2·(blockAlign − 4) samples into
    * `out` at `at`. The reconstruction is the reference multiplier-
    * free form: diff = step/8 + (bit2)·step + (bit1)·step/2 +
    * (bit0)·step/4, sign from bit 3, predictor clamped to int16,
    * index stepped by the magnitude table and clamped to [0, 88].
    */
  private def imaAdpcmBlockDecode(b: Array[Byte], off: Int,
                                  blockAlign: Int, out: Array[Int],
                                  at: Int): Unit = {
    var pred = (le16(b, off) << 16) >> 16 // sign-extend seed
    var index = u8(b, off + 2)
    if (index > 88)
      throw new IllegalArgumentException(
        s"WAV IMA ADPCM: step index $index beyond table end 88")
    var o = at
    out(o) = pred
    o += 1
    var i = off + 4
    val end = off + blockAlign
    while (i < end) {
      val byte = u8(b, i)
      var half = 0
      while (half < 2) {
        val n = if (half == 0) byte & 0x0f else byte >> 4
        val step = ImaStep(index)
        var diff = step >> 3
        if ((n & 4) != 0) diff += step
        if ((n & 2) != 0) diff += step >> 1
        if ((n & 1) != 0) diff += step >> 2
        pred = if ((n & 8) != 0) pred - diff else pred + diff
        if (pred > 32767) pred = 32767
        if (pred < -32768) pred = -32768
        index += ImaIndexAdj(n & 7)
        if (index < 0) index = 0
        if (index > 88) index = 88
        out(o) = pred
        o += 1
        half += 1
      }
      i += 1
    }
  }

  /** ITU-T G.711 μ-law expansion (the Sun/CCITT reference form):
    * complement, then ((mant·8 + 132) << seg) − 132 with the sign
    * from bit 7. 0xFF → 0, 0x00 → −32124.
    */
  private val UlawTable: Array[Int] = Array.tabulate(256) { u =>
    val c = ~u & 0xff
    val t = (((c & 0x0f) << 3) + 0x84) << ((c >> 4) & 7)
    if ((c & 0x80) != 0) 0x84 - t else t - 0x84
  }

  /** ITU-T G.711 A-law expansion: XOR 0x55, segment 0 is
    * mant·16 + 8, segment s ≥ 1 is (mant·16 + 264) << (s−1); bit 7
    * SET means positive (opposite of μ-law). 0x55 → −8, 0xD5 → 8.
    */
  private val AlawTable: Array[Int] = Array.tabulate(256) { a0 =>
    val a = a0 ^ 0x55
    val mant = (a & 0x0f) << 4
    val t = ((a >> 4) & 7) match {
      case 0 => mant + 8
      case 1 => mant + 0x108
      case s => (mant + 0x108) << (s - 1)
    }
    if ((a & 0x80) != 0) t else -t
  }

  private def read16(b: Array[Byte], off: Int, size: Long,
                     blockAlign: Int): Array[Int] = {
    if (off + size > b.length)
      throw new IllegalArgumentException(
        s"WAV pcm16: data chunk declares $size bytes at offset " +
          s"$off but the payload holds ${b.length}")
    val n = (size / blockAlign).toInt
    val out = new Array[Int](n)
    var k = 0
    while (k < n) {
      val o = off + k * blockAlign
      out(k) = (le16(b, o) << 16) >> 16 // sign-extend
      k += 1
    }
    out
  }

  /** Bytes 2..15 of the WAVE_FORMAT_EXTENSIBLE media-subtype GUID in
    * file (little-endian) order: rest of Data1 (00 00), Data2 0x0000,
    * Data3 0x0010, Data4 80 00 00 AA 00 38 9B 71.
    */
  private val GuidTail: Array[Int] = Array(
    0x00, 0x00, 0x00, 0x00, 0x10, 0x00,
    0x80, 0x00, 0x00, 0xAA, 0x00, 0x38, 0x9B, 0x71)

  /** The shared fmt/data chunk walk behind [[pcm16]] and
    * [[linearSamples]]: (tag, channels, bits, blockAlign, rate,
    * dataOff, dataSize), with the audioFormat TAG resolved through
    * WAVE_FORMAT_EXTENSIBLE's SubFormat GUID (fmt payload offset
    * 24, first two GUID bytes = the classic code) so the callers'
    * gates see the real coding — a 16-bit extensible container
    * wrapping ADPCM/float must not be read as linear PCM, and a
    * compressed coding declaring 16 bits per sample must not be
    * fingerprinted as if its bytes were samples. Extensible without
    * its mandatory 22-byte extension is malformed → tag −1.
    */
  private def fmtAndData(b: Array[Byte])
      : Option[(Int, Int, Int, Int, Int, Int, Long)] = {
    if (b.length < 12 || !ascii(b, 0, "RIFF") || !ascii(b, 8, "WAVE"))
      return None
    var i = 12L
    var fmt: Option[(Int, Int, Int, Int, Int)] = None
    var data: Option[(Int, Long)] = None // (offset, size)
    while (i + 8 <= b.length && (fmt.isEmpty || data.isEmpty)) {
      val at = i.toInt
      val size = le32u(b, at + 4)
      if (ascii(b, at, "fmt ") && size >= 16 && i + 24 <= b.length) {
        val tag0 = le16(b, at + 8)
        val tag =
          if (tag0 != 0xFFFE) tag0
          else if (size >= 40 && at + 48 <= b.length &&
              // the code is only valid inside the fixed media-subtype
              // GUID {code}-0000-0010-8000-00AA00389B71 (RFC 2361 /
              // KSDATAFORMAT_SUBTYPE): bytes 2..15 of the little-
              // endian GUID must match the base exactly — a foreign
              // GUID whose first two bytes merely collide with a PCM
              // code must NOT be read as PCM
              GuidTail.indices.forall(k =>
                (b(at + 34 + k) & 0xff) == GuidTail(k)))
            le16(b, at + 32)
          else -1
        fmt = Some((tag, le16(b, at + 10),
          le32u(b, at + 12).toInt, le16(b, at + 22), le16(b, at + 20)))
      }
      if (ascii(b, at, "data")) data = Some((at + 8, size))
      i += 8 + size + (size & 1)
    }
    for {
      (tag, channels, rate, bits, blockAlign) <- fmt
      (off, size) <- data
    } yield (tag, channels, bits, blockAlign, rate, off, size)
  }
}
