package graft.sources

import java.io.{ByteArrayInputStream, InputStream}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.ByteReader.{le16, le32u, u8}

/** Distributed WARC (ISO 28500) reader — the container format web
  * corpora actually arrive in (Common Crawl ships ~90k .warc.gz files
  * per snapshot). Same grain as [[ZipSource]]: each archive file is
  * ONE `binaryFile` row expanded on an executor, so reading a crawl
  * fans out file-per-task with no driver materialization; the
  * per-file memory bound is the archive size (the standard ~1 GB
  * crawl segment), the cluster-landing contract ZipSource documents.
  *
  * Format notes (WARC/1.0 and 1.1): a record is a version line,
  * CRLF-terminated named header lines (case-insensitive names) up to
  * an empty line, exactly Content-Length payload bytes, then the
  * mandatory two CRLFs before the next record. Gzip archives are
  * detected by MAGIC BYTES (1f 8b), not filename — crawl mirrors
  * rename files — and per-record gzip members (the Common Crawl
  * layout) are decompressed member by member ([[GzipMembers]]), each
  * trailer CRC-verified and every compressed byte accounted for.
  * Malformed records fail LOUDLY with the record number and what was
  * seen (the ZipSource error contract): a silently-skipped record is
  * corpus loss no downstream check can catch — which is also why the
  * JDK's `GZIPInputStream` is NOT used here (it treats a corrupt
  * next-member header as clean EOF, silently shortening the record
  * iterator).
  */
object WarcSource {

  /** One row per WARC record across every file under `path`:
    * (path, record_no, warc_type, target_uri, warc_date,
    * content_type, content_length, payload).
    */
  def warcRecords(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    // pathGlobFilter instead of a glob IN the path: a glob path makes
    // every load log a spurious FileStreamSink metadata-probe WARN
    // with a FileNotFoundException stack, and the filter also skips
    // _SUCCESS markers when pointed at a staged directory
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.warc*").load(path)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (p, bytes) => parseAll(p, bytes) }
      .toDF("path", "record_no", "warc_type", "target_uri",
        "warc_date", "content_type", "content_length", "payload")
  }

  /** The text-pipeline view: `response` records only, HTTP headers
    * stripped, body decoded as UTF-8 — (target_uri, warc_date,
    * text). The input table every curation chain here starts from.
    */
  def warcResponses(spark: SparkSession, path: String): DataFrame =
    warcRecords(spark, path)
      .filter(col("warc_type") === "response")
      .select(col("target_uri"), col("warc_date"),
        httpBodyUtf8(col("payload")).as("text"))

  /** Strip an HTTP response head (status line + headers + CRLFCRLF)
    * from a payload and decode the body as UTF-8; a payload that is
    * not an HTTP message decodes whole. Pure column expression —
    * codegen'd, no UDF.
    */
  private[sources] def httpBodyUtf8(payload: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val s = decode(payload, "UTF-8")
    val head = substring_index(s, "\r\n\r\n", 1)
    when(s.startsWith("HTTP/") && s.contains("\r\n\r\n"),
      s.substr(length(head) + lit(5), length(s)))
      .otherwise(s)
  }

  /** Stage a (uri, date, text) frame as per-record-gzip WARC response
    * archives under `root/name__fp<hex>`, once per `fingerprint` —
    * the [[JsonlSource.stage]] publish protocol (tmp write, stale-
    * sibling delete, atomic rename, _SUCCESS marker) so the
    * round-trip query can exercise the READER against a corpus whose
    * ground truth is known. The write is distributed: each partition
    * streams its own `part-NNNNN.warc.gz` (one gzip member per
    * record, the Common Crawl layout — so a downstream range reader
    * could seek to any record). A retried task truncates-and-
    * rewrites its own part file, and nothing publishes until the
    * whole action has succeeded. Dev/test harness plumbing: `root`
    * must be a filesystem every executor can reach (local dir here;
    * a shared mount or fuse point on a real cluster — production
    * corpora already ARRIVE as WARC, nothing writes them from Spark).
    */
  def stageResponses(df: DataFrame, root: String, name: String,
                     fingerprint: Long): String = {
    import df.sparkSession.implicits._
    Staging.publishOnce(root, name, fingerprint, "WarcSource") { tmp =>
      val tmpPath = tmp.getAbsolutePath
      df.select(col("uri").cast("string"), col("date").cast("string"),
          col("text").cast("string"))
        .as[(String, String, String)]
        .foreachPartition { it: Iterator[(String, String, String)] =>
          val f = Staging.partFile(tmpPath, "warc.gz")
          val fos = new java.io.FileOutputStream(f) // truncate = retry-safe
          // close() each member's GZIPOutputStream through a
          // close-shield: finish() alone leaks the Deflater's native
          // (off-heap) buffers until GC finalization — a partition
          // with millions of records would exhaust native memory —
          // while a bare close() would close the shared file stream
          // after the first record
          val shield = new java.io.FilterOutputStream(fos) {
            override def write(b: Array[Byte], off: Int, len: Int): Unit =
              fos.write(b, off, len)
            override def close(): Unit = fos.flush()
          }
          try for ((uri, date, text) <- it) {
            // loud-failure contract: a NULL uri would serialize as
            // the literal header value "null" (silent corruption the
            // round-trip census cannot catch); a NULL text would NPE
            // with no record context
            if (uri == null || date == null || text == null)
              throw new IllegalArgumentException(
                "WarcSource.stageResponses: record with NULL " +
                  s"uri/date/text (uri=$uri, date=$date) — scrub or " +
                  "synthesize upstream")
            val g = new java.util.zip.GZIPOutputStream(shield)
            g.write(responseRecord(uri, date, text))
            g.close() // ends the member AND frees its Deflater
          } finally fos.close()
        }
    }
  }

  /** One WARC/1.0 response record (headers + HTTP head + UTF-8 body
    * + the mandatory trailing CRLFCRLF) — byte-identical to what
    * [[parseAll]] + [[httpBodyUtf8]] invert.
    */
  private[sources] def responseRecord(uri: String, date: String,
                                      text: String): Array[Byte] = {
    val body = text.getBytes(StandardCharsets.UTF_8)
    val head = ("HTTP/1.1 200 OK\r\n" +
      "Content-Type: text/plain; charset=utf-8\r\n\r\n")
      .getBytes(StandardCharsets.UTF_8)
    val len = head.length + body.length
    (s"WARC/1.0\r\nWARC-Type: response\r\n" +
      s"WARC-Target-URI: $uri\r\nWARC-Date: $date\r\n" +
      "Content-Type: application/http; msgtype=response\r\n" +
      s"Content-Length: $len\r\n\r\n").getBytes(StandardCharsets.UTF_8) ++
      head ++ body ++ "\r\n\r\n".getBytes(StandardCharsets.UTF_8)
  }

  // -- per-file record parser (executor-side) -------------------------

  private[graft] def parseAll(path: String, bytes: Array[Byte])
      : Iterator[(String, Int, String, String, String, String, Long,
        Array[Byte])] = {
    // BufferedInputStream over the gzip member stream: the header
    // reader below pulls single bytes, and an unbuffered read() costs
    // one JNI inflate call PER BYTE (~30M round-trips on a 1 GiB
    // 100k-record archive); the buffer batches them without touching
    // the bulk payload path
    val in: InputStream =
      if (bytes.length >= 2 && (bytes(0) & 0xff) == 0x1f &&
        (bytes(1) & 0xff) == 0x8b)
        new java.io.BufferedInputStream(new GzipMembers(bytes), 1 << 16)
      else new ByteArrayInputStream(bytes)
    var no = 0
    new Iterator[(String, Int, String, String, String, String, Long,
        Array[Byte])] {
      private var nextRec: Option[(String, Int, String, String, String,
        String, Long, Array[Byte])] = None
      private var done = false
      private def advance(): Unit = if (!done && nextRec.isEmpty) {
        // skip inter-record blank lines; EOF here is a clean end
        var line = readLine(in)
        while (line != null && line.isEmpty) line = readLine(in)
        if (line == null) { done = true; return }
        if (!line.startsWith("WARC/"))
          fail(s"record ${no + 1}: expected a WARC/ version line, " +
            s"got '${line.take(40)}'")
        no += 1
        val headers = scala.collection.mutable.Map[String, String]()
        var h = readLine(in)
        while (h != null && h.nonEmpty) {
          val i = h.indexOf(':')
          if (i <= 0) fail(s"record $no: malformed header '${h.take(40)}'")
          headers(h.substring(0, i).trim.toLowerCase) =
            h.substring(i + 1).trim
          h = readLine(in)
        }
        if (h == null) fail(s"record $no: EOF inside the header block")
        val lenStr = headers.getOrElse("content-length",
          fail(s"record $no: missing Content-Length"))
        val len = lenStr.toLongOption.getOrElse(
          fail(s"record $no: non-numeric Content-Length '${
            lenStr.take(20)}'"))
        if (len < 0 || len > Int.MaxValue.toLong)
          fail(s"record $no: unreasonable Content-Length $len")
        val payload = new Array[Byte](len.toInt)
        var off = 0
        while (off < payload.length) {
          val r = in.read(payload, off, payload.length - off)
          if (r < 0) fail(s"record $no: EOF at payload byte $off of $len")
          off += r
        }
        nextRec = Some((path, no,
          headers.getOrElse("warc-type", ""),
          headers.getOrElse("warc-target-uri", ""),
          headers.getOrElse("warc-date", ""),
          headers.getOrElse("content-type", ""), len, payload))
      }
      override def hasNext: Boolean = { advance(); nextRec.isDefined }
      override def next(): (String, Int, String, String, String, String,
          Long, Array[Byte]) = {
        advance()
        val r = nextRec.getOrElse(throw new NoSuchElementException)
        nextRec = None
        r
      }
    }
  }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"WARC parse: $msg")

  /** Explicit multi-member gzip decompression over an in-memory
    * archive — one `Inflater` per member with CRC32/ISIZE trailer
    * verification, tracking exactly how many compressed bytes each
    * member consumed. Replaces `GZIPInputStream`, whose JDK
    * implementation treats a CORRUPT next-member header (or any
    * inter-member garbage) as a clean EOF (`readTrailer` catches the
    * IOException and "ignores the garbage") — which would silently
    * truncate a damaged multi-member archive to however many members
    * preceded the damage, exactly the silent corpus loss this
    * module's loud-failure contract exists to prevent. Here, any
    * byte after a verified member trailer that is not the start of a
    * well-formed next member fails loudly with the member count and
    * offset. RFC 1952 header layout (magic, CM=8, FLG with
    * FEXTRA/FNAME/FCOMMENT/FHCRC, MTIME/XFL/OS) parsed field by
    * field.
    */
  private[graft] final class GzipMembers(bytes: Array[Byte])
      extends InputStream {
    private var off = 0            // next unconsumed compressed byte
    private var member = 0         // members fully decoded so far
    private var inf: java.util.zip.Inflater = _
    private val crc = new java.util.zip.CRC32
    private var memberOut = 0L     // decompressed bytes this member
    private var eof = false
    private val one = new Array[Byte](1)

    private def gzFail(msg: String): Nothing = fail(
      s"gzip member ${member + 1} (offset $off, after $member " +
        s"complete member(s)): $msg")

    /** Parse one member header at `off`, positioning `off` at the
      * deflate stream and arming a fresh Inflater.
      */
    private def startMember(): Unit = {
      if (off + 10 > bytes.length) gzFail("truncated header")
      if (u8(bytes, off) != 0x1f || u8(bytes, off + 1) != 0x8b)
        gzFail(f"bad magic ${u8(bytes, off)}%02x${u8(bytes, off + 1)}%02x")
      if (u8(bytes, off + 2) != 8)
        gzFail(s"unsupported CM ${u8(bytes, off + 2)}")
      val flg = u8(bytes, off + 3)
      if ((flg & 0xe0) != 0) gzFail(f"reserved FLG bits set ($flg%02x)")
      var i = off + 10 // magic(2) CM(1) FLG(1) MTIME(4) XFL(1) OS(1)
      if ((flg & 4) != 0) { // FEXTRA
        if (i + 2 > bytes.length) gzFail("truncated FEXTRA")
        i += 2 + le16(bytes, i)
      }
      def skipZeroTerminated(what: String): Unit = {
        while (i < bytes.length && bytes(i) != 0) i += 1
        if (i >= bytes.length) gzFail(s"unterminated $what")
        i += 1
      }
      if ((flg & 8) != 0) skipZeroTerminated("FNAME")
      if ((flg & 16) != 0) skipZeroTerminated("FCOMMENT")
      if ((flg & 2) != 0) i += 2 // FHCRC
      if (i > bytes.length) gzFail("truncated header fields")
      off = i
      if (inf != null) inf.end()
      inf = new java.util.zip.Inflater(true)
      inf.setInput(bytes, off, bytes.length - off)
      crc.reset()
      memberOut = 0L
    }

    /** Verify the finished member's trailer, advance past it, and
      * either arm the next member or mark clean EOF — failing loudly
      * on anything that is not a well-formed continuation.
      */
    private def finishMember(): Unit = {
      off = bytes.length - inf.getRemaining
      inf.end(); inf = null
      if (off + 8 > bytes.length) gzFail("truncated trailer")
      val wantCrc = le32u(bytes, off)
      val wantIsize = le32u(bytes, off + 4)
      if (crc.getValue != wantCrc)
        gzFail(f"CRC32 mismatch (got ${crc.getValue}%08x, " +
          f"trailer says $wantCrc%08x)")
      if ((memberOut & 0xffffffffL) != wantIsize)
        gzFail(s"ISIZE mismatch (got $memberOut, trailer says $wantIsize)")
      off += 8
      member += 1
      if (off >= bytes.length) eof = true // whole input consumed: clean
      else startMember() // anything else MUST be a next member
    }

    private def ensureMember(): Unit =
      if (inf == null && !eof) startMember()

    override def read(): Int =
      if (read(one, 0, 1) < 0) -1 else one(0) & 0xff

    override def read(b: Array[Byte], o: Int, len: Int): Int = {
      if (len == 0) return 0
      ensureMember()
      while (!eof) {
        val n =
          try inf.inflate(b, o, len)
          catch {
            case e: java.util.zip.DataFormatException =>
              gzFail(s"corrupt deflate data (${e.getMessage})")
          }
        if (n > 0) {
          crc.update(b, o, n); memberOut += n; return n
        }
        if (inf.finished()) finishMember()
        else if (inf.needsInput())
          gzFail("deflate stream ran off the end of the archive")
        // else dictionary/zero-progress: loop (cannot happen nowrap)
      }
      -1
    }

    override def close(): Unit = { if (inf != null) inf.end(); eof = true }
  }

  /** CRLF- (or bare-LF-) terminated line as ISO-8859-1 (header bytes
    * are ASCII by spec); null at EOF before any byte.
    */
  private def readLine(in: InputStream): String = {
    val buf = new java.io.ByteArrayOutputStream(80)
    var b = in.read()
    if (b < 0) return null
    while (b >= 0 && b != '\n') {
      if (b != '\r') buf.write(b)
      b = in.read()
    }
    // EOF mid-line returns the partial line; only EOF at a line
    // START is null (the clean end-of-archive signal)
    new String(buf.toByteArray, StandardCharsets.ISO_8859_1)
  }
}
