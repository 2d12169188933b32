package graft.ext

import ByteReader.{ascii, le16, le32u}

/** MJPEG-in-AVI video FRAME decoding — the video twin of the
  * image/audio codecs: a real container walk plus real per-frame
  * pixel decode, built from the public AVI RIFF layout (Microsoft
  * "AVI RIFF File Reference") and the existing from-scratch
  * [[JpegDecoder]]. Motion-JPEG is the one mainstream video coding a
  * from-scratch JPEG decoder makes tractable (every frame is an
  * independent baseline JPEG — no inter-frame prediction), and it is
  * what capture pipelines and webcams actually emit.
  *
  * The at-scale contract is DECODE-ON-DEMAND: [[frameIndex]] walks
  * the `movi` list once and returns (frame_no, offset, length)
  * descriptors WITHOUT touching frame payloads, so a stride-k
  * sampling pass decodes k-th frames only — the frame-sampling shape
  * a training pipeline runs over video corpora (decoding every frame
  * of a 100 TB corpus to sample 1/30th of it would be absurd).
  *
  * Subset (None for non-AVI magic, loud failure for corrupt or
  * out-of-subset members): single 'vids' stream, MJPG handler,
  * '00dc'/'00db' frame chunks with their RIFF even-byte padding;
  * idx1/odml indexes are skipped (the movi walk IS the index here).
  */
object MjpegAvi {

  final case class AviInfo(width: Int, height: Int, usPerFrame: Int,
                           totalFrames: Int)

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"AVI: $msg")

  /** Header facts: None unless RIFF/'AVI ' magic; loud if the avih
    * header or MJPG 'vids' stream is missing or malformed.
    */
  def parse(b: Array[Byte]): Option[AviInfo] = {
    if (b.length < 12 || !ascii(b, 0, "RIFF") || !ascii(b, 8, "AVI "))
      return None
    var info: AviInfo = null
    var sawMjpgVids = false
    walkChunks(b, 12, b.length) { (id, at, len) =>
      if (id == "LIST" && ascii(b, at, "hdrl")) {
        walkChunks(b, at + 4, at + len) { (hid, hat, hlen) =>
          if (hid == "avih") {
            if (hlen < 56) fail(s"avih header is $hlen bytes, need 56")
            info = AviInfo(
              width = le32u(b, hat + 32).toInt,
              height = le32u(b, hat + 36).toInt,
              usPerFrame = le32u(b, hat).toInt,
              totalFrames = le32u(b, hat + 16).toInt)
          } else if (hid == "LIST" && ascii(b, hat, "strl")) {
            walkChunks(b, hat + 4, hat + hlen) { (sid, sat, slen) =>
              if (sid == "strh") {
                if (slen < 8) fail(s"strh header is $slen bytes")
                if (ascii(b, sat, "vids")) {
                  if (!ascii(b, sat + 4, "MJPG"))
                    fail("video stream handler is not MJPG — " +
                      "outside the Motion-JPEG subset")
                  sawMjpgVids = true
                }
              }
            }
          }
        }
      }
    }
    if (info == null) fail("no avih header")
    if (!sawMjpgVids) fail("no MJPG 'vids' stream")
    Some(info)
  }

  /** (frame_no, payload offset, payload length) per video frame chunk
    * in `movi` order — NO frame payload is read (see object doc).
    */
  def frameIndex(b: Array[Byte]): Seq[(Int, Int, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
    var no = 0
    // interleaved writers wrap frame chunks in 'LIST rec ' groups
    // (the AVI RIFF reference's record grouping) — one recursion
    // level unwraps them; anything else inside movi (audio ##wb,
    // idx1 padding) is skipped by name, never silently dropped frames
    def scan(from: Int, until: Int): Unit =
      walkChunks(b, from, until) { (cid, cat, clen) =>
        // ##dc (compressed) / ##db (uncompressed-name, still JPEG
        // under MJPG) video chunks of ANY stream number digit pair
        if (cid.length == 4 && cid(0).isDigit && cid(1).isDigit &&
          (cid.endsWith("dc") || cid.endsWith("db"))) {
          out += ((no, cat, clen))
          no += 1
        } else if (cid == "LIST" && ascii(b, cat, "rec "))
          scan(cat + 4, cat + clen)
      }
    walkChunks(b, 12, b.length) { (id, at, len) =>
      if (id == "LIST" && ascii(b, at, "movi"))
        scan(at + 4, at + len)
    }
    out.toSeq
  }

  /** Every `stride`-th frame (0, stride, 2·stride, …) decoded through
    * [[PixelDecoder]] — (frame_no, pixels). Only sampled payloads are
    * touched; a sampled frame that is not a decodable JPEG fails
    * loudly with its frame number.
    */
  def sampleFrames(b: Array[Byte], stride: Int): Iterator[(Int, Pixels)] =
    sampleFramesFrom(b, frameIndex(b), stride)

  /** [[sampleFrames]] over a PRE-built frame index (so a caller that
    * also needs the frame count walks the container once). Returns a
    * LAZY iterator: a decode happens only when the consumer pulls the
    * frame — a keyframe-only consumer decodes ONE frame, a pairwise
    * scene scan holds TWO rasters, never the whole clip (a strict Seq
    * here once decoded every sampled frame of a clip up front, which
    * at one-hour clips is an OOM, not a constant factor).
    */
  def sampleFramesFrom(b: Array[Byte], idx: Seq[(Int, Int, Int)],
                       stride: Int): Iterator[(Int, Pixels)] = {
    require(stride >= 1, s"stride $stride")
    idx.iterator
      .filter { case (no, _, _) => no % stride == 0 }
      .map { case (no, at, len) =>
        val payload = java.util.Arrays.copyOfRange(b, at, at + len)
        val px = PixelDecoder.decode(payload).getOrElse(
          fail(s"frame $no is not a decodable image payload"))
        (no, px)
      }
  }

  /** RIFF chunk walk over [from, until): yields (fourcc, payload
    * offset, payload length); LIST payloads INCLUDE their 4-byte list
    * type so callers can recurse after reading it. Enforces the
    * even-byte chunk padding and loud-overrun contract.
    */
  private def walkChunks(b: Array[Byte], from: Int, until: Int)
                        (f: (String, Int, Int) => Unit): Unit = {
    var i = from
    while (i < until) {
      if (i + 8 > until)
        fail(s"truncated chunk header at offset $i")
      val id = new String(b, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val len = le32u(b, i + 4)
      if (len > Int.MaxValue || i + 8 + len > until)
        fail(s"chunk $id ($len bytes at offset $i) overruns its parent")
      f(id, i + 8, len.toInt)
      i += 8 + len.toInt + (len & 1).toInt // even-byte padding
    }
  }

  // -- fixture/test encoder -------------------------------------------

  /** Minimal MJPEG AVI writer for fixtures and specs: one 'vids'
    * MJPG stream, `frames` as '00dc' chunks with even padding —
    * exactly the subset [[parse]]/[[frameIndex]] read back.
    * `recGrouped` wraps each frame chunk in a 'LIST rec ' record the
    * way interleaved muxers do (AVI RIFF reference), exercising
    * [[frameIndex]]'s record-unwrapping path; bytes are unchanged
    * when false.
    */
  def encode(frames: Seq[Array[Byte]], w: Int, h: Int,
             usPerFrame: Int, recGrouped: Boolean = false): Array[Byte] = {
    require(frames.nonEmpty, "AVI encode: no frames")
    val out = new java.io.ByteArrayOutputStream()
    def s4(s: String): Unit =
      out.write(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def w32(v: Int): Unit = { w16(v & 0xffff); w16(v >>> 16) }
    def chunk(id: String, body: Array[Byte]): Unit = {
      s4(id); w32(body.length); out.write(body)
      if ((body.length & 1) == 1) out.write(0)
    }
    def buildBytes(f: java.io.ByteArrayOutputStream => Unit): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream(); f(o); o.toByteArray
    }
    def sub4(o: java.io.ByteArrayOutputStream, s: String): Unit =
      o.write(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    def sub16(o: java.io.ByteArrayOutputStream, v: Int): Unit = {
      o.write(v & 0xff); o.write((v >> 8) & 0xff)
    }
    def sub32(o: java.io.ByteArrayOutputStream, v: Int): Unit = {
      sub16(o, v & 0xffff); sub16(o, v >>> 16)
    }
    val avih = buildBytes { o =>
      sub32(o, usPerFrame); sub32(o, 0); sub32(o, 0); sub32(o, 0)
      sub32(o, frames.length); sub32(o, 0); sub32(o, 1); sub32(o, 0)
      sub32(o, w); sub32(o, h)
      for (_ <- 0 until 4) sub32(o, 0)
    }
    val strh = buildBytes { o =>
      sub4(o, "vids"); sub4(o, "MJPG")
      sub32(o, 0); sub16(o, 0); sub16(o, 0); sub32(o, 0)
      sub32(o, usPerFrame); sub32(o, 1000000) // scale/rate = frame time
      sub32(o, 0); sub32(o, frames.length); sub32(o, 0); sub32(o, 0)
      sub32(o, 0)
      sub16(o, 0); sub16(o, 0); sub16(o, w); sub16(o, h)
    }
    val strf = buildBytes { o =>
      sub32(o, 40); sub32(o, w); sub32(o, h); sub16(o, 1); sub16(o, 24)
      sub4(o, "MJPG"); sub32(o, 0); sub32(o, 0); sub32(o, 0)
      sub32(o, 0); sub32(o, 0)
    }
    val strl = buildBytes { o =>
      sub4(o, "strl")
      sub4(o, "strh"); sub32(o, strh.length); o.write(strh)
      sub4(o, "strf"); sub32(o, strf.length); o.write(strf)
    }
    val hdrl = buildBytes { o =>
      sub4(o, "hdrl")
      sub4(o, "avih"); sub32(o, avih.length); o.write(avih)
      sub4(o, "LIST"); sub32(o, strl.length); o.write(strl)
    }
    val movi = buildBytes { o =>
      sub4(o, "movi")
      for (f <- frames) {
        val padded = (f.length + 1) & ~1
        if (recGrouped) {
          // LIST(rec ) body = 'rec ' + the frame chunk (+ its pad)
          sub4(o, "LIST"); sub32(o, 4 + 8 + padded); sub4(o, "rec ")
        }
        sub4(o, "00dc"); sub32(o, f.length); o.write(f)
        if ((f.length & 1) == 1) o.write(0)
      }
    }
    val riffBody = 4 + (8 + hdrl.length) + (8 + movi.length)
    s4("RIFF"); w32(riffBody); s4("AVI ")
    chunk("LIST", hdrl)
    chunk("LIST", movi)
    out.toByteArray
  }
}
