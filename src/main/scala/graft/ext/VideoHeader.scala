package graft.ext

import ByteReader._

/** Pure-JVM container parsing for MP4/ISO-BMFF video headers
  * (ISO/IEC 14496-12 box structure: §4.2 box layout, §8.2.2 mvhd) —
  * byte-level, no codec dependency, the video sibling of
  * [[ImageHeader]] and [[AudioHeader]]. Reads the facts a pipeline
  * needs before any frame is decoded: movie timescale, duration in
  * timescale ticks, and the number of `trak` boxes.
  */
object VideoHeader {

  case class Mp4Header(nTracks: Int, timescale: Long, durationTicks: Long)

  /** Parse an MP4 header, or None when the payload is not ISO-BMFF.
    *
    * Detection is strict enough that text cannot misparse: the first
    * top-level box must be `ftyp` with a plausible size (8..1024 —
    * the spec box is tens of bytes), and every subsequent box size
    * must stay in bounds. Printable text interpreted as a BE32 size
    * is ≥ 0x20202020, which fails the first bound immediately.
    *
    * Handles both mvhd version 0 (32-bit times) and version 1
    * (64-bit), and `size == 1` largesize boxes at the top level.
    */
  def parseMp4(b: Array[Byte]): Option[Mp4Header] = {
    if (b.length < 16) return None
    val ftypSize = be32u(b, 0)
    if (ftypSize < 8 || ftypSize > 1024 || ftypSize > b.length ||
        !ascii(b, 4, "ftyp")) return None
    // top-level walk to moov
    var i = ftypSize.toInt
    var moov = -1
    var moovEnd = -1
    while (i + 8 <= b.length && moov < 0) {
      var size = be32u(b, i)
      var header = 8
      if (size == 1 && i + 16 <= b.length) {
        size = be64(b, i + 8); header = 16
      }
      if (size < header || i + size > b.length) return None
      if (ascii(b, i + 4, "moov")) { moov = i + header; moovEnd = i + size.toInt }
      i += size.toInt
    }
    if (moov < 0) return None
    // moov child walk: mvhd facts + trak count
    var j = moov
    var nTracks = 0
    var ts = -1L
    var dur = -1L
    while (j + 8 <= moovEnd) {
      val size = be32u(b, j)
      if (size < 8 || j + size > moovEnd) return None
      if (ascii(b, j + 4, "trak")) nTracks += 1
      else if (ascii(b, j + 4, "mvhd") && j + 12 <= moovEnd) {
        val version = u8(b, j + 8)
        if (version == 0 && j + 28 <= moovEnd) {
          ts = be32u(b, j + 20); dur = be32u(b, j + 24)
        } else if (version == 1 && j + 40 <= moovEnd) {
          ts = be32u(b, j + 28); dur = be64(b, j + 32)
        }
      }
      j += size.toInt
    }
    if (ts <= 0) None else Some(Mp4Header(nTracks, ts, dur))
  }
}
