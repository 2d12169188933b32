package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.util.zip.{Deflater, Inflater}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.Json

/** Avro Object Container File ingestion — the ROW-oriented
  * interchange sibling of [[OrcSource]]/[[JsonlSource]] (Kafka
  * pipelines and schema-registry shops publish Avro where lakehouses
  * publish parquet/ORC). Implemented from scratch on the public Avro
  * 1.12 specification only (container layout §"Object Container
  * Files", binary encoding §"Binary Encoding"): `Obj\x01` magic, the
  * metadata map carrying the writer schema JSON and codec, then
  * sync-marker-delimited blocks of `count, byteLen, payload` — so the
  * reader, not a library, owns the loud-failure contract.
  *
  * Supported subset (loud failure outside it):
  *   - flat records of `long`/`int`/`double`/`boolean`/`string`/
  *     `bytes`, each optionally the nullable union `["null", T]` —
  *     the shapes the test tables and typical event/doc corpora use;
  *   - `null` and `deflate` codecs (deflate is RAW RFC 1951 per the
  *     spec — zlib-wrapped data is a corrupt member, not a fallback).
  *
  * Failure contract ([[WarcSource]] discipline): schema drift is
  * checked PER FILE on the executor (names, types and nullability in
  * order against the declared schema) — a mixed-schema directory
  * fails at the drifted file with both schemas in the message, never
  * null-fills; a sync-marker mismatch, truncated block, or inflate
  * error names the file offset. Silently-skipped rows are corpus
  * loss no downstream census can localize.
  *
  * Scale notes: the grain is one container FILE per task (Avro blocks
  * are internally sequential — the sync markers exist for split
  * resync, but a from-scratch splitter buys nothing at the ~128 MiB
  * part sizes the writer emits), so a corpus fans out file-per-task
  * exactly like [[ZipSource]]; per-task memory is bounded by one
  * file. The decode is executor-side `flatMap` over `binaryFile`
  * rows — a byte-level codec with no Catalyst expression form.
  */
object AvroSource {

  // -- binary primitives (Avro spec "Binary Encoding") ---------------

  /** Zigzag varint — Avro's int/long wire form. */
  private[sources] def writeLong(out: ByteArrayOutputStream, v: Long): Unit = {
    var z = (v << 1) ^ (v >> 63)
    while ((z & ~0x7fL) != 0) {
      out.write(((z & 0x7f) | 0x80).toInt)
      z >>>= 7
    }
    out.write(z.toInt)
  }

  private final class Cursor(val b: Array[Byte], val path: String) {
    var i = 0
    def u8(): Int = {
      if (i >= b.length)
        fail(s"truncated varint/byte at offset $i")
      val v = b(i) & 0xff; i += 1; v
    }
    def readLong(): Long = {
      var z = 0L; var shift = 0
      var more = true
      while (more) {
        if (shift > 63) fail(s"varint overruns 64 bits at offset $i")
        val c = u8()
        z |= (c & 0x7fL) << shift
        shift += 7
        more = (c & 0x80) != 0
      }
      (z >>> 1) ^ -(z & 1)
    }
    def readBytes(n: Long): Array[Byte] = {
      // n > b.length - i, NOT i + n > b.length: a corrupt varint can
      // carry n near Long.MaxValue, where i + n wraps NEGATIVE and
      // the guard passes — copying a wrong-length slice (n.toInt)
      // and desyncing the cursor instead of failing with the offset
      if (n < 0 || n > b.length - i)
        fail(s"$n-byte item at offset $i overruns the ${b.length}-byte file")
      val r = java.util.Arrays.copyOfRange(b, i, i + n.toInt)
      i += n.toInt; r
    }
    def readString(): String =
      new String(readBytes(readLong()), StandardCharsets.UTF_8)
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"AvroSource: $path: $msg")
  }

  // -- schema JSON ----------------------------------------------------

  private def avroType(dt: DataType): String = dt match {
    case LongType    => "long"
    case IntegerType => "int"
    case DoubleType  => "double"
    case BooleanType => "boolean"
    case StringType  => "string"
    case BinaryType  => "bytes"
    case other => throw new IllegalArgumentException(
      s"AvroSource: unsupported column type ${other.simpleString} — " +
        "the subset is long/int/double/boolean/string/binary")
  }

  /** The writer-schema JSON for a flat record over `schema` —
    * nullable fields as the union `["null", T]` with a null default,
    * the canonical Avro idiom for optional columns.
    */
  private[sources] def schemaJson(name: String, schema: StructType): String = {
    val fields = schema.fields.map { f =>
      val t =
        if (f.nullable) s"""["null", ${Json.str(avroType(f.dataType))}]"""
        else Json.str(avroType(f.dataType))
      s"""{"name": ${Json.str(f.name)}, "type": $t""" +
        (if (f.nullable) """, "default": null}""" else "}")
    }
    s"""{"type": "record", "name": ${Json.str(name)}, """ +
      s""""fields": [${fields.mkString(", ")}]}"""
  }

  /** Parse a writer schema into (name, avro type name, nullable,
    * nullFirst) tuples, normalizing the three JSON spellings a type
    * can take — a bare string, `{"type": "..."}`, or the nullable
    * union `["null", T]` in either member order (nullFirst records
    * which, for the decoder's branch-index test).
    */
  private[sources] def parseFields(json: String, path: String)
      : Array[(String, String, Boolean, Boolean)] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    def bad(msg: String): Nothing =
      throw new IllegalArgumentException(s"AvroSource: $path: $msg")
    // (type name, nullable, nullFirst): BOTH union orders are valid
    // Avro and normalize to the same nullable field, but the DECODER
    // must know which branch index means null — a reversed union read
    // with the null-first assumption emits values as NULLs and
    // desyncs the block bytes
    def typeName(v: JValue): (String, Boolean, Boolean) = v match {
      case JString(s) => (s, false, true)
      case JObject(attrs) =>
        attrs.collectFirst { case ("type", JString(s)) => (s, false, true) }
          .getOrElse(bad(s"unsupported type object $v"))
      case JArray(members) =>
        val names = members.map(m => typeName(m)._1)
        names match {
          case List("null", t) => (t, true, true)
          case List(t, "null") => (t, true, false)
          case other => bad(s"unsupported union [${other.mkString(", ")}] " +
            "— only the nullable two-branch union is in the subset")
        }
      case other => bad(s"unsupported type $other")
    }
    JsonMethods.parse(json) match {
      case JObject(attrs) =>
        val m = attrs.toMap
        if (!m.get("type").contains(JString("record")))
          bad(s"writer schema is not a record: ${m.get("type")}")
        m.get("fields") match {
          case Some(JArray(fs)) => fs.map {
            case JObject(fattrs) =>
              val fm = fattrs.toMap
              val name = fm.get("name") match {
                case Some(JString(n)) => n
                case _ => bad("record field without a name")
              }
              val (t, nullable, nullFirst) =
                typeName(fm.getOrElse("type", bad(s"field $name has no type")))
              (name, t, nullable, nullFirst)
            case other => bad(s"malformed field $other")
          }.toArray
          case _ => bad("record schema without a fields array")
        }
      case other => bad(s"writer schema is not a JSON object: $other")
    }
  }

  // -- write ----------------------------------------------------------

  private val Magic = Array[Byte]('O', 'b', 'j', 1)

  /** Stage `df` as Avro container files under `root/name__fp<hex>` at
    * most once per `fingerprint` — the [[JsonlSource.stage]] publish
    * protocol (stale-sibling cleanup, tmp write, atomic rename,
    * _SUCCESS sentinel). The write is distributed: each partition
    * streams its own `part-NNNNN.avro` (deflate codec, ~64 KiB
    * uncompressed blocks, a deterministic per-part sync marker so a
    * retried task rewrites byte-identical output). Dev/test harness
    * plumbing — production Avro ARRIVES from Kafka/connectors; this
    * exists so the round-trip query can exercise the reader against
    * a corpus whose ground truth is known.
    */
  def stage(df: DataFrame, root: String, name: String,
            fingerprint: Long): String = {
    val schema = df.schema
    schema.fields.foreach(f => avroType(f.dataType)) // validate early
    val json = schemaJson(name.map(c =>
      if (c.isLetterOrDigit || c == '_') c else '_'), schema)
    Staging.publishOnce(root, name, fingerprint, "AvroSource") { tmp =>
      val tmpPath = tmp.getAbsolutePath
      val fields = schema.fields
      df.foreachPartition { it: Iterator[Row] =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val sync = java.security.MessageDigest.getInstance("MD5")
          .digest(s"graft-avro:$fingerprint:$pid"
            .getBytes(StandardCharsets.UTF_8))
        val f = Staging.partFile(tmpPath, "avro")
        val fos = new java.io.FileOutputStream(f) // truncate = retry-safe
        try {
          val head = new ByteArrayOutputStream()
          head.write(Magic)
          // metadata map: one block of 2 entries, then the 0 end
          writeLong(head, 2)
          writeString(head, "avro.schema"); writeString(head, json)
          writeString(head, "avro.codec"); writeString(head, "deflate")
          writeLong(head, 0)
          head.write(sync)
          fos.write(head.toByteArray)
          val block = new ByteArrayOutputStream(96 * 1024)
          var n = 0L
          def flush(): Unit = if (n > 0) {
            val raw = block.toByteArray
            // RAW deflate (nowrap) — the spec's RFC 1951 stream, not
            // zlib-wrapped; one Deflater per block, end()ed so native
            // buffers never wait for GC (the WarcSource lesson)
            val d = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
            val packed = new ByteArrayOutputStream(raw.length / 2 + 64)
            d.setInput(raw); d.finish()
            val buf = new Array[Byte](8192)
            while (!d.finished()) packed.write(buf, 0, d.deflate(buf))
            d.end()
            val frame = new ByteArrayOutputStream()
            writeLong(frame, n)
            writeLong(frame, packed.size().toLong)
            packed.writeTo(frame)
            frame.write(sync)
            fos.write(frame.toByteArray)
            block.reset(); n = 0
          }
          for (row <- it) {
            var c = 0
            while (c < fields.length) {
              val fld = fields(c)
              if (fld.nullable) {
                if (row.isNullAt(c)) writeLong(block, 0)
                else { writeLong(block, 1); writeValue(block, fld.dataType, row, c) }
              } else {
                if (row.isNullAt(c))
                  throw new IllegalArgumentException(
                    s"AvroSource: null in non-nullable column ${fld.name}")
                writeValue(block, fld.dataType, row, c)
              }
              c += 1
            }
            n += 1
            if (block.size() >= 64 * 1024) flush()
          }
          flush()
        } finally fos.close()
      }
    }
  }

  private def writeString(out: ByteArrayOutputStream, s: String): Unit = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    writeLong(out, b.length.toLong)
    out.write(b)
  }

  private def writeValue(out: ByteArrayOutputStream, dt: DataType,
                         row: Row, c: Int): Unit = dt match {
    case LongType    => writeLong(out, row.getLong(c))
    case IntegerType => writeLong(out, row.getInt(c).toLong)
    case BooleanType => out.write(if (row.getBoolean(c)) 1 else 0)
    case DoubleType =>
      val bits = java.lang.Double.doubleToLongBits(row.getDouble(c))
      var k = 0
      while (k < 8) { out.write(((bits >>> (8 * k)) & 0xff).toInt); k += 1 }
    case StringType => writeString(out, row.getString(c))
    case BinaryType =>
      val b = row.getAs[Array[Byte]](c)
      writeLong(out, b.length.toLong); out.write(b)
    case other => throw new IllegalArgumentException(
      s"AvroSource: unsupported type $other") // unreachable post-validate
  }

  // -- read -----------------------------------------------------------

  /** Read Avro container files under `path` with the declared
    * `schema`, drift-guarded per file (see object doc).
    */
  def read(spark: SparkSession, path: String,
           schema: StructType): DataFrame = {
    schema.fields.foreach(f => avroType(f.dataType))
    val want = schema.fields.map(f =>
      (f.name, avroType(f.dataType), f.nullable))
    val rows = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.avro").load(path)
      .select("path", "content")
      .rdd.flatMap(r =>
        decodeFile(r.getString(0), r.getAs[Array[Byte]](1), want, schema))
    spark.createDataFrame(rows, schema)
  }

  private[graft] def decodeFile(
      path: String, bytes: Array[Byte],
      want: Array[(String, String, Boolean)],
      schema: StructType): Iterator[Row] = {
    val cur = new Cursor(bytes, path)
    if (bytes.length < 4 || !java.util.Arrays.equals(
        java.util.Arrays.copyOf(bytes, 4), Magic))
      cur.fail("not an Avro object container file (bad magic)")
    cur.i = 4
    // metadata map: blocks of count (negative count carries a byte
    // size to skip-scan past — we still read entry by entry) until 0
    var schemaJson: String = null
    var codec = "null"
    var blockCount = cur.readLong()
    while (blockCount != 0) {
      if (blockCount < 0) { cur.readLong(); blockCount = -blockCount }
      var k = 0L
      while (k < blockCount) {
        val key = cur.readString()
        val value = cur.readBytes(cur.readLong())
        key match {
          case "avro.schema" =>
            schemaJson = new String(value, StandardCharsets.UTF_8)
          case "avro.codec" =>
            codec = new String(value, StandardCharsets.UTF_8)
          case _ => // other metadata is legal and ignored
        }
        k += 1
      }
      blockCount = cur.readLong()
    }
    if (schemaJson == null) cur.fail("header has no avro.schema")
    if (codec != "null" && codec != "deflate")
      cur.fail(s"unsupported codec '$codec' (subset: null, deflate)")
    val got = parseFields(schemaJson, path)
    // drift compares the NORMALIZED (name, type, nullable) triple —
    // union member order is the writer's choice, not drift; the
    // decoder honors it via valueBranch below
    if (!got.map(t => (t._1, t._2, t._3)).sameElements(want))
      cur.fail("schema drift — writer " +
        got.map(t => s"${t._1}:${t._2}${if (t._3) "?" else ""}")
          .mkString("(", ", ", ")") +
        " vs declared " +
        want.map(t => s"${t._1}:${t._2}${if (t._3) "?" else ""}")
          .mkString("(", ", ", ")"))
    // the union branch index that carries the VALUE in this file:
    // ["null", T] -> 1, [T, "null"] -> 0
    val valueBranch = got.map(t => if (t._4) 1L else 0L)
    val sync = cur.readBytes(16)
    val fields = schema.fields

    new Iterator[Row] {
      private var block: Cursor = _
      private var left = 0L
      private def advance(): Boolean = {
        while ((block == null || left == 0) && cur.i < cur.b.length) {
          val n = cur.readLong()
          val size = cur.readLong()
          val payload = cur.readBytes(size)
          val marker = cur.readBytes(16)
          if (!java.util.Arrays.equals(marker, sync))
            cur.fail(s"sync marker mismatch after the block ending at " +
              s"offset ${cur.i} — file corrupt or spliced")
          if (n < 0) cur.fail(s"negative row count $n in a data block")
          val raw =
            if (codec == "null") payload
            else {
              val inf = new Inflater(true)
              inf.setInput(payload)
              val out = new ByteArrayOutputStream(payload.length * 3 + 64)
              val buf = new Array[Byte](8192)
              try {
                while (!inf.finished()) {
                  val k = inf.inflate(buf)
                  // one inflate call can CONSUME the final (possibly
                  // empty) deflate block and return 0 with both
                  // finished() and needsInput() true — truncation is
                  // only the k==0 state where the stream is NOT done
                  // (found by the r18 container fuzz on a spec-legal
                  // empty data block)
                  if (k == 0 && !inf.finished() && inf.needsInput())
                    cur.fail("deflate block truncated")
                  out.write(buf, 0, k)
                }
              } finally inf.end()
              out.toByteArray
            }
          block = new Cursor(raw, path)
          left = n
        }
        left > 0
      }
      override def hasNext: Boolean = advance()
      override def next(): Row = {
        if (!advance()) throw new NoSuchElementException
        val vals = new Array[Any](fields.length)
        var c = 0
        while (c < fields.length) {
          val f = fields(c)
          val present = !f.nullable || {
            val idx = block.readLong()
            if (idx != 0L && idx != 1L)
              block.fail(s"union branch $idx for ${f.name} " +
                "(two-branch union has only 0 and 1)")
            idx == valueBranch(c)
          }
          vals(c) =
            if (!present) null
            else f.dataType match {
              case LongType    => block.readLong()
              case IntegerType =>
                val v = block.readLong()
                if (v < Int.MinValue || v > Int.MaxValue)
                  block.fail(s"int value $v overflows 32 bits")
                v.toInt
              case BooleanType => block.u8() match {
                case 0 => false
                case 1 => true
                case b => block.fail(s"boolean byte $b")
              }
              case DoubleType =>
                var bits = 0L; var k = 0
                while (k < 8) { bits |= block.u8().toLong << (8 * k); k += 1 }
                java.lang.Double.longBitsToDouble(bits)
              case StringType => block.readString()
              case BinaryType => block.readBytes(block.readLong())
              case other => block.fail(s"unsupported type $other")
            }
          c += 1
        }
        left -= 1
        if (left == 0 && block.i != block.b.length)
          block.fail(s"${block.b.length - block.i} undecoded bytes left " +
            "after the block's declared row count — row encoding drift")
        Row.fromSeq(vals.toIndexedSeq)
      }
    }
  }
}
