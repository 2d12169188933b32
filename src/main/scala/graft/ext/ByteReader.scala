package graft.ext

/** Fixed-width reads at a byte offset, shared by the binary parsers
  * (image, audio and video headers, the pixel and JPEG codecs, the
  * AVI container, WARC's gzip members). Each 32-bit field has two
  * forms: `le32`/`be32` return the two's-complement `Int` (BMP's
  * height is signed — negative means top-down rows) and
  * `le32u`/`be32u` the unsigned value as a `Long` (chunk sizes,
  * CRCs, timescales). An offset past the array throws, except in
  * [[ascii]], which answers false when `s` would run off the end.
  */
private[graft] object ByteReader {

  def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff

  def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)

  def be16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)

  def le32(b: Array[Byte], i: Int): Int = le16(b, i) | (le16(b, i + 2) << 16)

  def be32(b: Array[Byte], i: Int): Int = (be16(b, i) << 16) | be16(b, i + 2)

  def le32u(b: Array[Byte], i: Int): Long = le32(b, i) & 0xffffffffL

  def be32u(b: Array[Byte], i: Int): Long = be32(b, i) & 0xffffffffL

  def be64(b: Array[Byte], i: Int): Long =
    (be32u(b, i) << 32) | be32u(b, i + 4)

  /** True iff the bytes at `i` spell the ASCII string `s`. */
  def ascii(b: Array[Byte], i: Int, s: String): Boolean =
    i + s.length <= b.length &&
      s.indices.forall(j => b(i + j) == s.charAt(j).toByte)
}
