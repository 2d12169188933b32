package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.sql.functions._

/** Readers for the driver-generated test tables (TESTDATA.md) and for
  * LOINC-shaped CSV inputs (the reference's two sources,
  * Angelo_ETL_Task.py:144-145).
  *
  * Parquet carries its own schema; CSV gets an explicit `StructType` —
  * the reference relies on pandas whole-file inference
  * (`pd.read_csv(..., low_memory=False)`, Angelo_ETL_Task.py:26), which
  * we replace with declared schemas for determinism and speed (no
  * inference pass over 100 TB).
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Inferred-schema cache, keyed by parquet path. Footer inference is
    * a driver job that lists and reads file footers on EVERY
    * `spark.read.parquet` call — at 100 TB that is thousands of footer
    * reads per query. One inference per path per JVM, then every read
    * passes the schema explicitly and plans straight from it.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, StructType)]()

  /** Cache fingerprint: fold (mtime, length) of every regular file in
    * the tree (or of the single file). Rewriting a part file in place
    * changes its own mtime/length without bumping any ancestor
    * directory's mtime, and directory mtime has 1-second granularity
    * on some filesystems — both would make a directory-mtime key serve
    * a stale schema. Recursing covers partitioned layouts (`key=…`
    * subdirectories), where a rewrite two levels down is equally
    * invisible to the top-level listing.
    */
  private[graft] def fingerprint(path: String): Long = {
    // a file: URI must be UNWRAPPED before the local walk —
    // java.io.File cannot resolve a URI STRING, so new File("file:///x")
    // never exists and every such path would fingerprint to the same
    // constant (serving stale schemas/staged fixtures forever, the
    // exact bug this function exists to prevent)
    val local =
      if (path.startsWith("file:"))
        try java.nio.file.Paths.get(java.net.URI.create(path)).toString
        catch { // a malformed file: form still walks its path part
          case _: Exception => path.stripPrefix("file:")
        }
      else path
    if (path.contains("://") && !path.startsWith("file:")) {
      // remote filesystem (hdfs://, s3a://, …): java.io.File sees
      // nothing there and would return a CONSTANT — every regeneration
      // would then hit the cache and serve a stale schema, the exact
      // bug the fingerprint exists to prevent. List through Hadoop.
      try {
        val p = new org.apache.hadoop.fs.Path(path)
        val conf = org.apache.spark.sql.SparkSession.getActiveSession
          .map(_.sparkContext.hadoopConfiguration)
          .getOrElse(new org.apache.hadoop.conf.Configuration())
        val it = p.getFileSystem(conf).listFiles(p, true)
        val stats = scala.collection.mutable.ArrayBuffer
          .empty[org.apache.hadoop.fs.LocatedFileStatus]
        while (it.hasNext) stats += it.next()
        stats.sortBy(_.getPath.toString)
          .foldLeft(stats.length.toLong) { (acc, st) =>
            31L * (31L * acc + st.getModificationTime) + st.getLen
          }
      } catch {
        case scala.util.control.NonFatal(_) =>
          System.nanoTime() // unknown state: never serve a cached schema
      }
    } else {
      // symlinked fixtures can form directory cycles — track canonical
      // paths or the walk recurses forever
      val seen = scala.collection.mutable.Set.empty[String]
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) {
          if (!seen.add(f.getCanonicalPath)) Seq.empty
          else
            // listFiles() order is unspecified — sort, or identical
            // content could fingerprint differently and spuriously
            // re-infer
            Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
              .sortBy(_.getName).toSeq.flatMap(walk)
        } else Seq(f)
      val files = walk(new java.io.File(local))
      files.foldLeft(files.length.toLong) { (acc, p) =>
        31L * (31L * acc + p.lastModified) + p.length
      }
    }

  }

  private def readCached(spark: SparkSession, path: String): DataFrame = {
    // a regenerated fixture re-infers instead of silently reading with
    // a stale schema; the stale entry is REPLACED (one entry per path,
    // bounded cache)
    val fp = fingerprint(path)
    val (_, schema) = schemaCache.compute(path, (_, cur) =>
      if (cur != null && cur._1 == fp) cur
      else (fp, narrowArrayElements(spark.read.parquet(path).schema)))
    spark.read.schema(schema).parquet(path)
  }

  /** Declare the KNOWN vector column's elements non-null at read.
    * The fixtures' writer marks list elements optional (the pyarrow
    * default) even though `embedding` never carries a null element;
    * reading with containsNull=false lets the vector kernels compile
    * their multiply-add loops WITHOUT per-element null-bit probes
    * (~2x on the ANN hot path — the probe defeats vectorization).
    *
    * Scoped to `embedding` ONLY, and honestly: Spark's vectorized
    * parquet reader does NOT enforce a declared non-null element — a
    * null slot would silently read as 0.0, not fail. So the narrow is
    * a fixture contract for the one column the driver generates
    * null-free (TESTDATA.md), not a scan-time check; any other array
    * column keeps its real nullability so the general-path kernels'
    * NULL guards stay live.
    */
  private def narrowArrayElements(s: StructType): StructType =
    StructType(s.fields.map {
      case f @ StructField("embedding", ArrayType(et, true), _, _) =>
        f.copy(dataType = ArrayType(et, containsNull = false))
      case f => f
    })

  /** Load one test table from a scale-factor directory.
    *
    * `events.ts` has shipped in two fixture generations: nanosecond
    * parquet timestamps (which Spark reads only as raw long nanos via
    * the legacy conf) and plain `timestamp[us]`. Branch on the ACTUAL
    * file schema: a long column is nanos and gets truncated to a
    * microsecond TimestampType (`ts div 1000` keeps long integer
    * division: a double roundtrip would lose precision above 2^53 ns);
    * a timestamp column passes through untouched. Both land on the same
    * TimestampType the oracles use. The nanosAsLong conf is set before
    * inference so a ns file infers as LongType instead of throwing, and
    * the session's prior value is RESTORED once the file proves to be
    * µs/timestamp-typed — a library must not leave a session conf
    * mutated behind a caller's back. For a ns file the conf must stay
    * set: parquet scans re-read it when the PHYSICAL plan is built
    * (lazily, at action time, long after this method returns), so
    * restoring it would make every downstream action on the loaded
    * frame throw on the TIMESTAMP(NANOS) column.
    * The schema cache needs no extra invalidation for the branch: the
    * branch is derived from the cached schema itself, and a regenerated
    * fixture re-fingerprints and re-infers.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "events") {
      val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
      val prior = spark.conf.getOption(nanosKey)
      def restore(): Unit = prior match {
        case Some(v) => spark.conf.set(nanosKey, v)
        case None => spark.conf.unset(nanosKey)
      }
      spark.conf.set(nanosKey, "true")
      // restore on the EXCEPTION path too (missing/corrupt file): a
      // thrown read previously left the session flag set, silently
      // changing how every later parquet read in the session infers
      // nanos timestamps — the exact conf-mutation leak the note
      // below forbids
      val raw =
        try readCached(spark, s"$sfDir/events.parquet")
        catch { case e: Throwable => restore(); throw e }
      if (raw.schema("ts").dataType != LongType) restore()
      val ts = raw.schema("ts").dataType match {
        case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        // timestamp[us] with no zone infers as NTZ; cast to the
        // TimestampType every downstream query was built on (identity
        // under the UTC session timezone both harnesses set)
        case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
        case TimestampType => raw
        case other => throw new IllegalStateException(
          s"events.ts has unsupported type $other (expected long nanos or timestamp)")
      }
      ts.select("event_id", "ts", "user_id", "event_type", "value", "props")
    } else readCached(spark, s"$sfDir/$name.parquet")
  }

  // ---- LOINC-shaped CSV sources (reference inputs) -------------------

  /** Columns of Loinc.csv the reference consumes (SURVEY §1.3). */
  val loincSchema: StructType = StructType(Seq(
    StructField("LOINC_NUM", StringType, nullable = false),
    StructField("COMPONENT", StringType, nullable = true),
    StructField("PROPERTY", StringType, nullable = true),
    StructField("TIME_ASPCT", StringType, nullable = true),
    StructField("SYSTEM", StringType, nullable = true),
    StructField("SCALE_TYP", StringType, nullable = true),
    StructField("METHOD_TYP", StringType, nullable = true),
    StructField("STATUS", StringType, nullable = true)))

  /** MultiAxialHierarchy.csv columns consumed by the reference, plus an
    * explicit `seq` row-order column: pandas dict-building is last-row-
    * in-file-order-wins (Angelo_ETL_Task.py:163-170); a distributed read
    * has no file order, so the order must be a real column.
    */
  val hierarchySchema: StructType = StructType(Seq(
    StructField("CODE", StringType, nullable = false),
    StructField("CODE_TEXT", StringType, nullable = true),
    StructField("PATH_TO_ROOT", StringType, nullable = true),
    StructField("IMMEDIATE_PARENT", StringType, nullable = true),
    StructField("seq", LongType, nullable = false)))
}
