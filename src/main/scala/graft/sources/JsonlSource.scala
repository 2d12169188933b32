package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** JSON-Lines ingestion — the interchange format LLM training corpora
  * actually ship in (one JSON object per line: The Pile, RedPajama,
  * Dolma all distribute this way).
  *
  * The load contract is EXPLICIT-SCHEMA, FAILFAST:
  *   - `spark.read.json` without a schema runs a full inference scan
  *     before the real read — at 100 TB that is a second pass over
  *     the corpus producing a schema you then can't trust (a field
  *     null in the sampled files types as string). Production
  *     ingestion declares the schema; this reader requires it.
  *   - FAILFAST surfaces a corrupt line as a load error instead of
  *     PERMISSIVE's silent null row — a malformed shard should stop
  *     the pipeline, not thin it.
  *
  * JSONL is line-splittable, so the read parallelizes like any text
  * source (`maxPartitionBytes` sizing, no whole-file decode barrier —
  * the property that makes the format the 100 TB interchange default
  * despite its verbosity).
  */
object JsonlSource {

  /** Stage `df` as JSONL under `root/name__fp<hex>` at most once per
    * `fingerprint` (the [[Staging.publishOnce]] contract: a changed
    * input hashes to a new directory, stale siblings are deleted
    * before the write publishes via _SUCCESS). Returns the staged
    * path. Dev/test harness plumbing — production corpora already
    * ARRIVE as JSONL; this exists so the round-trip query can
    * exercise the reader against a corpus whose ground truth is
    * known.
    */
  def stage(df: DataFrame, root: String, name: String,
            fingerprint: Long): String =
    Staging.publishOnce(root, name, fingerprint, "JsonlSource") { tmp =>
      df.write.mode("overwrite").json(tmp.toString)
    }

  /** Read JSONL at `path` with the declared `schema` — no inference
    * pass, corrupt lines fail the load (see object doc).
    */
  def read(spark: SparkSession, path: String,
           schema: StructType): DataFrame =
    spark.read.schema(schema).option("mode", "FAILFAST").json(path)

  // -- compressed shards (.jsonl.zst / .jsonl.gz) ---------------------

  /** Stage `df` as ZSTD-compressed JSONL shards (`part-NNNNN.jsonl
    * .zst`) under `root/name__fp<hex>` — the format large corpora
    * actually distribute (Dolma and RedPajama-v2 ship .json.zst, The
    * Pile .jsonl.zst/gz). Same fingerprint-once publish protocol as
    * [[stage]]; rows serialize through Spark's own JSON writer
    * (`toJSON`) so the line format matches what [[read]] parses. The
    * write is distributed, one shard per partition, zstd level 3 (the
    * distribution default).
    */
  def stageZst(df: DataFrame, root: String, name: String,
               fingerprint: Long): String =
    Staging.publishOnce(root, name, fingerprint, "JsonlSource") { tmp =>
      val tmpPath = tmp.getAbsolutePath
      df.toJSON.foreachPartition { it: Iterator[String] =>
        val f = Staging.partFile(tmpPath, "jsonl.zst")
        val out = new com.github.luben.zstd.ZstdOutputStream(
          new java.io.FileOutputStream(f), 3) // truncate = retry-safe
        try for (line <- it) {
          out.write(line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          out.write('\n')
        } finally out.close()
      }
    }

  /** Read compressed JSONL shards with the declared `schema`,
    * dispatching per file on MAGIC BYTES (zstd `28 B5 2F FD`, gzip
    * `1f 8b` — corpus mirrors rename files, the [[WarcSource]]
    * lesson): zstd frames stream through zstd-jni, gzip through the
    * CRC-verifying member walk (never `GZIPInputStream`, which
    * treats a corrupt next-member header as clean EOF — silent
    * corpus loss). Lines parse via `from_json` in FAILFAST spirit: a
    * corrupt line raises, never nulls. The grain is FILE-per-task
    * (neither codec is splittable without an external seek table);
    * distributed corpora ship thousands of ~100-500 MB shards, so
    * the fan-out matches the cluster the way [[ZipSource]] documents.
    */
  def readCompressed(spark: SparkSession, path: String,
                     schema: StructType): DataFrame = {
    import spark.implicits._
    val lines = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.jsonl.*").load(path)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (p, bytes) =>
        val in: java.io.InputStream =
          if (bytes.length >= 4 && (bytes(0) & 0xff) == 0x28 &&
            (bytes(1) & 0xff) == 0xb5 && (bytes(2) & 0xff) == 0x2f &&
            (bytes(3) & 0xff) == 0xfd)
            new com.github.luben.zstd.ZstdInputStream(
              new java.io.ByteArrayInputStream(bytes))
          else if (bytes.length >= 2 && (bytes(0) & 0xff) == 0x1f &&
            (bytes(1) & 0xff) == 0x8b)
            new WarcSource.GzipMembers(bytes)
          else throw new IllegalArgumentException(
            s"JsonlSource: $p is neither zstd nor gzip " +
              "(magic bytes unrecognized)")
        val r = new java.io.BufferedReader(
          new java.io.InputStreamReader(in,
            java.nio.charset.StandardCharsets.UTF_8))
        // close at exhaustion AND at task end: the zstd stream holds
        // a NATIVE decompression context that otherwise waits for GC
        // finalization (the WarcSource/Deflater lesson) — thousands
        // of shards per executor accumulate off-heap until OOM-kill;
        // the task listener also covers early-stopped iterators
        // (limit/take), which never reach exhaustion
        var closed = false
        def closeOnce(): Unit = if (!closed) { closed = true; r.close() }
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => closeOnce()))
        Iterator.continually(r.readLine()).takeWhile { l =>
          if (l == null) closeOnce()
          l != null
        }
      }
    // declared-schema parse; a corrupt line must raise (FAILFAST
    // contract), never null-fill — from_json alone yields null rows,
    // so guard explicitly
    lines.toDF("__line")
      .select(from_json(col("__line"), schema,
        Map("mode" -> "FAILFAST")).as("__row"), col("__line"))
      .select(when(col("__row").isNull, raise_error(concat(
          lit("JsonlSource: corrupt JSON line: "),
          substring(col("__line"), 1, 120))))
          .otherwise(col("__row")).as("__row"))
      .select(col("__row.*"))
  }
}
