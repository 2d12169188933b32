package graft

import java.util.Properties

import org.apache.spark.sql.functions._
import graft.pipeline.{I2b2Config, I2b2Pipeline, LoadOrchestrator}
import graft.queries.LoincShim
import graft.sources.{StubFetcher, Tables, ZipSource}

/** Sink (L1–L6) and source (S1–S2) specs: the JDBC load bracket runs
  * against embedded Derby (ships with Spark); zip→CSV reads a fixture
  * archive written to a temp dir.
  */
class LoadSpec extends SparkSpec {
  import spark.implicits._

  // Spark's built-in Derby dialect maps StringType -> CLOB, and Derby
  // refuses setNull(CLOB) on VARCHAR columns; our DDL (like the
  // reference's Postgres DDL) uses VARCHAR, so register a VARCHAR
  // mapping ahead of it. Test-only — Postgres needs no override.
  org.apache.spark.sql.jdbc.JdbcDialects.registerDialect(
    new org.apache.spark.sql.jdbc.JdbcDialect {
      override def canHandle(url: String): Boolean =
        url.startsWith("jdbc:derby")
      override def getJDBCType(dt: org.apache.spark.sql.types.DataType)
          : Option[org.apache.spark.sql.jdbc.JdbcType] = dt match {
        case org.apache.spark.sql.types.StringType =>
          Some(org.apache.spark.sql.jdbc.JdbcType(
            "VARCHAR(4000)", java.sql.Types.VARCHAR))
        case _ => None
      }
    })

  private val runTs = "01-01-2026 00:00:00"

  private def i2b2Rows = {
    val part = Tables.load(spark, "/root/testdata/sf0.001", "part")
    I2b2Pipeline.build(LoincShim.loinc(part), LoincShim.hierarchy(part),
      I2b2Config(runTimestamp = runTs))
  }

  /** The transform output with a column that fails when evaluated:
    * any Spark job that materializes the frame (the load's cached
    * `count()`) throws, while building the frame and probing the DB
    * do not.
    */
  private def poisoned(n: Int) = i2b2Rows.limit(n)
    .withColumn("C_COMMENT", raise_error(lit("poisoned row")).cast("string"))

  private def isPoison(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("poisoned row")))

  test("load: creates table, appends, verifies count (L1, L3, L4)") {
    val url = "jdbc:derby:memory:graftdb1;create=true"
    // ordered limit: an unordered .limit(50) is free to pick DIFFERENT
    // rows on the write pass vs the `want` pass below
    val df = i2b2Rows.orderBy("C_FULLNAME").limit(50)
    val report = LoadOrchestrator.load(df, url, "I2B2",
      new Properties(), runTs)
    assert(report.createdTable)
    assert(report.firstImportDate.isEmpty)
    assert(report.rowsWritten === 50)
    assert(report.verifiedCount === 50)
    // row contents survive the JDBC write: varchar, INT (C_HLEVEL) and
    // TIMESTAMP columns all round-trip
    val back = spark.read.jdbc(url, "I2B2", new Properties())
    val want = df.select($"C_FULLNAME", $"C_HLEVEL").as[(String, Int)]
      .collect().sorted.toSeq
    val got = back.select($"C_FULLNAME", $"C_HLEVEL").as[(String, Int)]
      .collect().sorted.toSeq
    assert(got === want)
    assert(back.select(countDistinct($"UPDATE_DATE")).as[Long]
      .collect().head === 1)
  }

  test("load: second run stamps the first run's IMPORT_DATE (L2)") {
    val url = "jdbc:derby:memory:graftdb2;create=true"
    val df = i2b2Rows.limit(10)
    LoadOrchestrator.load(df, url, "I2B2", new Properties(), runTs)
    val laterTs = "02-01-2026 12:00:00"
    val later = df
      .withColumn("UPDATE_DATE", lit(laterTs))
      .withColumn("DOWNLOAD_DATE", lit(laterTs))
      .withColumn("IMPORT_DATE", lit(laterTs))
    val report = LoadOrchestrator.load(later, url, "I2B2",
      new Properties(), laterTs)
    assert(!report.createdTable)
    // min(IMPORT_DATE) from run 1 overrides run 2's import date
    assert(report.firstImportDate.map(_.toString)
      === Some("2026-01-01 00:00:00.0"))
    assert(report.verifiedCount === 10)
    val back = spark.read.jdbc(url, "I2B2", new Properties())
    assert(back.count() === 20)
    assert(back.select(countDistinct($"IMPORT_DATE")).as[Long]
      .collect().head === 1)
  }

  test("csv export writes the inserted rows with header (L5)") {
    val url = "jdbc:derby:memory:graftdb3;create=true"
    val out = java.nio.file.Files
      .createTempDirectory("graft_l5").toString + "/export"
    LoadOrchestrator.load(i2b2Rows.limit(5), url, "I2B2",
      new Properties(), runTs, csvOut = Some(out))
    val back = spark.read.option("header", "true").csv(out)
    assert(back.count() === 5)
    assert(back.columns.toSeq === I2b2Pipeline.outputCols)
  }

  test("load failure compensates: the failed run's rows are deleted (L6)") {
    val url = "jdbc:derby:memory:graftdb6;create=true"
    LoadOrchestrator.load(i2b2Rows.limit(5), url, "I2B2",
      new Properties(), runTs)
    // Reproduce the partial-write state Spark's per-partition commits
    // can leave: 3 rows of run B already committed, then a write of
    // the same run fails (NOT NULL violation). The compensating
    // DELETE keyed on UPDATE_DATE = runTs must remove every run-B row
    // while leaving run A untouched — the reference's rollback()
    // semantics (Angelo_ETL_Task.py:366-374).
    val tsB = "03-01-2026 09:00:00"
    def stamped(df: org.apache.spark.sql.DataFrame, ts: String) = df
      .withColumn("UPDATE_DATE", lit(ts))
      .withColumn("DOWNLOAD_DATE", lit(ts))
      .withColumn("IMPORT_DATE", lit(ts))
    LoadOrchestrator.load(stamped(i2b2Rows.limit(3), tsB), url, "I2B2",
      new Properties(), tsB)
    assert(spark.read.jdbc(url, "I2B2", new Properties()).count() === 8)
    // Run C fails mid-write (NOT NULL violation on one row) under a
    // FRESH timestamp: the compensating DELETE removes exactly run C's
    // partial rows, leaving runs A and B untouched.
    val tsC = "04-01-2026 10:00:00"
    val bad = stamped(i2b2Rows.limit(4), tsC).withColumn("C_NAME",
      when(monotonically_increasing_id() === 0, lit(null).cast("string"))
        .otherwise($"C_NAME"))
    intercept[Exception] {
      LoadOrchestrator.load(bad, url, "I2B2", new Properties(), tsC)
    }
    val back = spark.read.jdbc(url, "I2B2", new Properties())
    assert(back.count() === 8)
    assert(back.filter($"UPDATE_DATE" === to_timestamp(lit(tsC),
      "dd-MM-yyyy HH:mm:ss")).count() === 0)
  }

  test("load failure on a FRESH database drops the table this run " +
      "created — matching the reference's transactional-DDL rollback " +
      "(zero trace), not an empty table a retry would misread (L6)") {
    val url = "jdbc:derby:memory:graftdb6b;create=true"
    val bad = i2b2Rows.limit(4).withColumn("C_NAME",
      when(monotonically_increasing_id() === 0, lit(null).cast("string"))
        .otherwise($"C_NAME"))
    intercept[Exception] {
      LoadOrchestrator.load(bad, url, "I2B2", new Properties(), runTs)
    }
    val conn = java.sql.DriverManager.getConnection(url, new Properties())
    try assert(!LoadOrchestrator.tableExists(conn, "I2B2"))
    finally conn.close()
  }

  test("load refuses a colliding run timestamp instead of risking " +
    "another run's rows (L6)") {
    val url = "jdbc:derby:memory:graftdb7;create=true"
    LoadOrchestrator.load(i2b2Rows.limit(3), url, "I2B2",
      new Properties(), runTs)
    // A second load reusing the SAME runTs must fail fast BEFORE
    // writing: had it proceeded and failed mid-write, the compensating
    // DELETE (keyed only on UPDATE_DATE) would destroy the first
    // run's committed rows. The frame is poisoned, so the refusal
    // must come before any Spark job evaluates it.
    val e = intercept[IllegalStateException] {
      LoadOrchestrator.load(poisoned(2), url, "I2B2",
        new Properties(), runTs)
    }
    assert(e.getMessage.contains("collision"))
    assert(spark.read.jdbc(url, "I2B2", new Properties()).count() === 3)
  }

  test("load failure before any insert leaves no trace: a fresh " +
    "database keeps no table, an existing table keeps the earlier " +
    "run's rows (L6)") {
    val fresh = "jdbc:derby:memory:graftdb8;create=true"
    val e1 = intercept[Exception] {
      LoadOrchestrator.load(poisoned(4), fresh, "I2B2",
        new Properties(), runTs)
    }
    assert(isPoison(e1), e1)
    val conn = java.sql.DriverManager.getConnection(fresh, new Properties())
    try assert(!LoadOrchestrator.tableExists(conn, "I2B2"))
    finally conn.close()

    val url = "jdbc:derby:memory:graftdb9;create=true"
    LoadOrchestrator.load(i2b2Rows.limit(5), url,
      "I2B2", new Properties(), runTs)
    def rows() = spark.read.jdbc(url, "I2B2", new Properties())
      .collect().map(_.mkString("|")).sorted.toSeq
    val before = rows()
    val tsB = "07-01-2026 08:00:00"
    val e2 = intercept[Exception] {
      LoadOrchestrator.load(poisoned(4)
        .withColumn("UPDATE_DATE", lit(tsB))
        .withColumn("DOWNLOAD_DATE", lit(tsB))
        .withColumn("IMPORT_DATE", lit(tsB)),
        url, "I2B2", new Properties(), tsB)
    }
    assert(isPoison(e2), e2)
    val after = rows()
    assert(after.size === 5)
    assert(after === before)
  }

  test("zipEntryCsv: distributed unzip honors entry name and schema (S2)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zip")
    val zipPath = dir.resolve("data.zip")
    val zos = new java.util.zip.ZipOutputStream(
      java.nio.file.Files.newOutputStream(zipPath))
    zos.putNextEntry(new java.util.zip.ZipEntry("other.txt"))
    zos.write("junk\n".getBytes("UTF-8"))
    zos.closeEntry()
    zos.putNextEntry(new java.util.zip.ZipEntry("Loinc.csv"))
    zos.write(
      ("LOINC_NUM,COMPONENT,PROPERTY,TIME_ASPCT,SYSTEM,SCALE_TYP," +
        "METHOD_TYP,STATUS\n" +
        "4548-4,Hemoglobin A1c,MFr,Pt,Bld,Qn,M1,ACTIVE\n" +
        "123-4,Sodium,SCnc,Pt,Ser,Qn,,DEPRECATED\n").getBytes("UTF-8"))
    zos.closeEntry()
    zos.close()
    val df = ZipSource.zipEntryCsv(spark, zipPath.toString, "Loinc.csv",
      Tables.loincSchema)
    val rows = df.orderBy("LOINC_NUM").collect()
    assert(rows.length === 2)
    assert(rows(1).getAs[String]("LOINC_NUM") === "4548-4")
    assert(rows(1).getAs[String]("STATUS") === "ACTIVE")
    assert(rows(0).isNullAt(rows(0).fieldIndex("METHOD_TYP")))
  }

  test("zipEntryCsv binds columns by header NAME: the real ~40-column " +
    "LOINC layout and reordered hierarchy columns read correctly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zip_named")
    val zipPath = dir.resolve("real_layout.zip")
    val zos = new java.util.zip.ZipOutputStream(
      java.nio.file.Files.newOutputStream(zipPath))
    zos.putNextEntry(new java.util.zip.ZipEntry("Loinc.csv"))
    // real-file shape: extra columns interleaved, CLASS in position 8
    // where a positional bind would have read STATUS, declared columns
    // scattered out of declaration order
    zos.write(
      ("LOINC_NUM,COMPONENT,PROPERTY,TIME_ASPCT,SYSTEM,SCALE_TYP," +
        "METHOD_TYP,CLASS,VersionLastChanged,CHNG_TYPE,STATUS\n" +
        "4548-4,Hemoglobin A1c,MFr,Pt,Bld,Qn,M1,HEM/BC,2.77,MIN,ACTIVE\n")
        .getBytes("UTF-8"))
    zos.closeEntry()
    zos.close()
    val df = ZipSource.zipEntryCsv(spark, zipPath.toString, "Loinc.csv",
      Tables.loincSchema)
    val r = df.collect().head
    assert(r.getAs[String]("STATUS") === "ACTIVE") // NOT 'HEM/BC'
    assert(r.getAs[String]("METHOD_TYP") === "M1")
    // a declared column missing from the header fails LOUDLY
    val badZip = dir.resolve("missing_col.zip")
    val z2 = new java.util.zip.ZipOutputStream(
      java.nio.file.Files.newOutputStream(badZip))
    z2.putNextEntry(new java.util.zip.ZipEntry("Loinc.csv"))
    z2.write("LOINC_NUM,COMPONENT\n1-1,X\n".getBytes("UTF-8"))
    z2.closeEntry(); z2.close()
    val e1 = intercept[org.apache.spark.SparkException] {
      ZipSource.zipEntryCsv(spark, badZip.toString, "Loinc.csv",
        Tables.loincSchema).collect()
    }
    assert(e1.getMessage.contains("missing") ||
      Option(e1.getCause).exists(_.getMessage.contains("missing")))
    // a body that is not a zip at all (failed-login HTML) fails LOUDLY
    val html = dir.resolve("error_page.zip")
    java.nio.file.Files.write(html,
      "<html>login failed</html>".getBytes("UTF-8"))
    val e2 = intercept[org.apache.spark.SparkException] {
      ZipSource.zipEntryCsv(spark, html.toString, "Loinc.csv",
        Tables.loincSchema).collect()
    }
    assert(e2.getMessage.contains("not found") ||
      Option(e2.getCause).exists(_.getMessage.contains("not found")))
  }

  test("zipEntryCsv: RFC-4180 quoted newlines and escaped quotes survive") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zip_rfc")
    val zipPath = dir.resolve("data.zip")
    val zos = new java.util.zip.ZipOutputStream(
      java.nio.file.Files.newOutputStream(zipPath))
    zos.putNextEntry(new java.util.zip.ZipEntry("Loinc.csv"))
    zos.write(
      ("LOINC_NUM,COMPONENT,PROPERTY,TIME_ASPCT,SYSTEM,SCALE_TYP," +
        "METHOD_TYP,STATUS\r\n" +
        "1-1,\"multi\nline \"\"quoted\"\" text\",P,Pt,Ser,Qn,M,ACTIVE\r\n" +
        "2-2,plain,P,Pt,Ser,Qn,M,ACTIVE\n").getBytes("UTF-8"))
    zos.closeEntry()
    zos.close()
    val df = ZipSource.zipEntryCsv(spark, zipPath.toString, "Loinc.csv",
      Tables.loincSchema)
    val rows = df.orderBy("LOINC_NUM").collect()
    assert(rows.length === 2)
    assert(rows(0).getAs[String]("COMPONENT") ===
      "multi\nline \"quoted\" text")
    assert(rows(1).getAs[String]("LOINC_NUM") === "2-2")
  }

  test("EtlMain.run drives the full chain: fetch -> zip -> transform " +
    "-> load (S1..L6)") {
    def zipBytes(entry: String, content: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val zos = new java.util.zip.ZipOutputStream(bos)
      zos.putNextEntry(new java.util.zip.ZipEntry(entry))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry(); zos.close()
      bos.toByteArray
    }
    val loincCsv =
      "LOINC_NUM,COMPONENT,PROPERTY,TIME_ASPCT,SYSTEM,SCALE_TYP," +
        "METHOD_TYP,STATUS\n" +
        "100-1,Alpha,Mass,PT,Ser,Qn,M0,ACTIVE\n" +
        "200-2,Beta,Conc,PT,Bld,Ql,M1,ACTIVE\n" +
        "LP55,Gamma,Prop,PT,Sys,Qn,M2,ACTIVE\n"
    // 100-1 appears twice: the SECOND row must win (R2 last-wins in
    // file order), which the minted seq column has to reproduce.
    val hierCsv =
      "CODE,CODE_TEXT,PATH_TO_ROOT,IMMEDIATE_PARENT\n" +
        "100-1,Alpha one,R.A,A\n" +
        "200-2,Beta two,R.B,B\n" +
        "LP55,Gamma lab,R.C,C\n" +
        "100-1,Alpha v2,R.A2,A2\n"
    val fetcher = new StubFetcher(Map(
      graft.pipeline.EtlMain.LoginUrl -> Array.emptyByteArray,
      graft.pipeline.EtlMain.LoincZipUrl ->
        zipBytes("Loinc.csv", loincCsv),
      graft.pipeline.EtlMain.HierarchyZipUrl ->
        zipBytes("MultiAxialHierarchy.csv", hierCsv)))
    val url = "jdbc:derby:memory:graftdb_etl;create=true"
    val cfg = graft.pipeline.EtlMain.EtlConfig(
      loincUser = "u", loincPassword = "p", jdbcUrl = Some(url))
    val report = graft.pipeline.EtlMain.run(spark, fetcher, cfg, runTs)
    assert(report.createdTable)
    assert(report.rowsWritten === 3)
    assert(report.verifiedCount === 3) // the L4 gate
    // read back with the SAME credentials the load used: Derby scopes
    // unqualified tables to a per-user schema, so an anonymous read
    // would look in APP while the load wrote to POSTGRES
    val backProps = new Properties()
    backProps.setProperty("user", cfg.pgUser)
    backProps.setProperty("password", cfg.pgPassword)
    val back = spark.read.jdbc(url, "I2B2", backProps)
    val fullname = back.filter($"C_BASECODE".endsWith("100-1"))
      .select("C_FULLNAME").as[String].collect().head
    assert(fullname.contains("Alpha v2"),
      s"last-wins hierarchy row lost: $fullname")
  }

  test("ParquetSink writes pruned layout: partition dirs, bounded " +
    "files, cluster-sorted rows") {
    val out = java.nio.file.Files
      .createTempDirectory("graft_sink").toString + "/t"
    val df = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", $"lang", $"text")
    val written = graft.sources.ParquetSink.write(df, out,
      partitionCols = Seq("lang"), clusterKey = $"doc_id",
      buckets = 2, maxRecordsPerFile = 20)
    assert(written === df.count())
    // directory-level partition pruning layout
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("lang=")))
    // roundtrip equality
    val back = spark.read.parquet(out)
    assert(back.select("doc_id", "lang", "text").except(df).isEmpty &&
      df.except(back.select("doc_id", "lang", "text")).isEmpty)
    // bounded file sizes and tight cluster ranges: every file holds
    // at most maxRecordsPerFile rows, sorted by the cluster key (row
    // order within a small parquet file survives the roundtrip)
    import org.apache.spark.sql.functions.input_file_name
    val perFile = back.select(input_file_name().as("f"), $"doc_id")
      .as[(String, Long)].collect().groupBy(_._1).values
    assert(perFile.forall(_.length <= 20))
    perFile.foreach { rows =>
      val ids = rows.map(_._2).toSeq
      assert(ids === ids.sorted, "rows not cluster-sorted within file")
    }
  }

  test("extract refuses a non-local master unless the landing dir is " +
      "declared shared (cluster-mode zip contract)") {
    import graft.pipeline.EtlMain
    val cfg = EtlMain.EtlConfig(loincUser = "u", loincPassword = "p")
    // local masters: fine with any landing config
    EtlMain.requireExecutorVisibleLanding("local[32]", cfg)
    EtlMain.requireExecutorVisibleLanding("local", cfg)
    // cluster master: must name the dir AND confirm it is shared
    val e = intercept[IllegalArgumentException] {
      EtlMain.requireExecutorVisibleLanding("spark://host:7077", cfg)
    }
    assert(e.getMessage.contains("--work-dir-shared"))
    assert(e.getMessage.contains("spark://host:7077"))
    intercept[IllegalArgumentException] {
      EtlMain.requireExecutorVisibleLanding("yarn",
        cfg.copy(workDir = Some("/mnt/shared")))  // dir but no promise
    }
    EtlMain.requireExecutorVisibleLanding("spark://host:7077",
      cfg.copy(workDir = Some("/mnt/shared"), workDirShared = true))
  }

  test("Tables.load leaves the session nanosAsLong conf exactly as it " +
      "found it after a µs-typed events load — the library must not " +
      "mutate session state behind the caller's back") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    // the key is a REGISTERED conf, so its effective value (default
    // "false" when unset) is the observable surface — assert the load
    // does not leave it flipped to "true"
    spark.conf.unset(key)
    val before = spark.conf.get(key)
    assert(before === "false")
    val df = graft.sources.Tables.load(spark,
      "/root/testdata/sf0.001", "events")
    assert(df.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
    assert(spark.conf.get(key) === before,
      "load left the session nanosAsLong conf mutated")
    spark.conf.unset(key)
  }

  test("StubFetcher serves canned bytes; pipelines depend on Fetcher (S1)") {
    val fetcher = new StubFetcher(
      Map("https://example.test/dl" -> "zipbytes".getBytes("UTF-8")))
    assert(new String(fetcher.post("https://example.test/dl",
      Map("file" -> "loinc")), "UTF-8") === "zipbytes")
    intercept[java.io.IOException] {
      fetcher.post("https://example.test/missing", Map.empty)
    }
  }

  test("JsonlSource: lossless round-trip with explicit schema; " +
    "FAILFAST surfaces a corrupt line; staging is fingerprint-once") {
    import graft.sources.JsonlSource
    val root = java.nio.file.Files
      .createTempDirectory("graft-jsonl").toString
    val df = Seq(
      (1L, "plain text", "en"),
      (2L, "newline\nand \"quotes\" and unicode é中", "fr"),
      (3L, null.asInstanceOf[String], "de")).toDF("id", "text", "lang")
    val p1 = JsonlSource.stage(df, root, "t", fingerprint = 7L)
    val back = JsonlSource.read(spark, p1, df.schema)
      .as[(Long, String, String)].collect().toSet
    assert(back === Set((1L, "plain text", "en"),
      (2L, "newline\nand \"quotes\" and unicode é中", "fr"),
      (3L, null, "de")))
    // same fingerprint → the staged dir is reused, not rewritten
    val mtime = new java.io.File(p1, "_SUCCESS").lastModified()
    assert(JsonlSource.stage(df, root, "t", 7L) === p1)
    assert(new java.io.File(p1, "_SUCCESS").lastModified() === mtime)
    // a NEW fingerprint stages fresh and deletes the stale sibling
    val p2 = JsonlSource.stage(df.limit(1), root, "t", 8L)
    assert(p2 !== p1)
    assert(!new java.io.File(p1).exists())
    // corrupt line: FAILFAST fails the read instead of nulling the row
    val bad = new java.io.File(root, "bad")
    bad.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(bad, "part-0.json").toPath,
      "{\"id\": 1, \"text\": \"ok\", \"lang\": \"en\"}\n{not json\n"
        .getBytes("UTF-8"))
    intercept[org.apache.spark.SparkException] {
      JsonlSource.read(spark, bad.toString, df.schema).collect()
    }
  }

  test("WarcSource: plain and per-record-gzip archives parse to the " +
    "same records; responses strip HTTP heads; truncation is loud") {
    import graft.sources.WarcSource
    def rec(typ: String, uri: String, payload: String): Array[Byte] = {
      val p = payload.getBytes("UTF-8")
      (s"WARC/1.0\r\nWARC-Type: $typ\r\n" +
        (if (uri.nonEmpty) s"WARC-Target-URI: $uri\r\n" else "") +
        "WARC-Date: 2024-01-02T03:04:05Z\r\n" +
        "Content-Type: application/http\r\n" +
        s"Content-Length: ${p.length}\r\n\r\n").getBytes("UTF-8") ++
        p ++ "\r\n\r\n".getBytes("UTF-8")
    }
    val http = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
      "<html>corps é中</html>"
    val recs = rec("warcinfo", "", "software: test") ++
      rec("response", "https://a.example/x", http) ++
      rec("request", "https://a.example/x", "GET /x HTTP/1.1")
    val dir = java.nio.file.Files.createTempDirectory("graft_warc")
    java.nio.file.Files.write(dir.resolve("plain.warc"), recs)
    // per-record gzip members, concatenated — the Common Crawl layout
    val gz = new java.io.ByteArrayOutputStream()
    for (r <- Seq(rec("warcinfo", "", "software: test"),
      rec("response", "https://a.example/x", http),
      rec("request", "https://a.example/x", "GET /x HTTP/1.1"))) {
      val g = new java.util.zip.GZIPOutputStream(gz)
      g.write(r); g.finish()
    }
    java.nio.file.Files.write(dir.resolve("cc.warc.gz"), gz.toByteArray)
    for (f <- Seq("plain.warc", "cc.warc.gz")) {
      val got = WarcSource.warcRecords(spark, dir.resolve(f).toString)
        .orderBy("record_no")
        .select("record_no", "warc_type", "target_uri", "content_length")
        .as[(Int, String, String, Long)].collect().toSeq
      assert(got === Seq(
        (1, "warcinfo", "", 14L),
        (2, "response", "https://a.example/x", http.getBytes("UTF-8")
          .length.toLong),
        (3, "request", "https://a.example/x", 15L)), f)
      val resp = WarcSource.warcResponses(spark, dir.resolve(f).toString)
        .as[(String, String, String)].collect().toSeq
      assert(resp === Seq(("https://a.example/x",
        "2024-01-02T03:04:05Z", "<html>corps é中</html>")), f)
    }
    // a payload truncated mid-record fails with the record number,
    // never a silently short corpus
    java.nio.file.Files.write(dir.resolve("trunc.warc"),
      recs.dropRight(30))
    val e = intercept[org.apache.spark.SparkException] {
      WarcSource.warcRecords(spark,
        dir.resolve("trunc.warc").toString).collect()
    }
    assert(e.getCause.getMessage.contains("record 3"))
  }

  test("WarcSource: a damaged multi-member gzip archive fails loudly " +
    "instead of silently truncating the record iterator") {
    import graft.sources.WarcSource
    def member(payload: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(payload); g.close()
      bos.toByteArray
    }
    def rec(no: Int): Array[Byte] =
      (s"WARC/1.0\r\nWARC-Type: response\r\n" +
        s"WARC-Target-URI: https://ex/$no\r\n" +
        "WARC-Date: 2024-01-02T03:04:05Z\r\n" +
        "Content-Type: application/http\r\n" +
        "Content-Length: 2\r\n\r\nok\r\n\r\n").getBytes("UTF-8")
    val m1 = member(rec(1))
    val m2 = member(rec(2))
    def mutated(src: Array[Byte])(f: Array[Byte] => Unit): Array[Byte] = {
      val b = src.clone(); f(b); b
    }
    // JDK GZIPInputStream yields ONE record then clean EOF on each of
    // these; the explicit member walk must fail loudly instead
    val corruptMagic = m1 ++ mutated(m2)(b => b(1) = 0x00)
    val interGarbage = m1 ++ Array[Byte](1, 2, 3) ++ m2
    val trailingGarbage = m1 ++ m2 ++ Array[Byte](0x42, 0x42)
    val corruptCrc = m1 ++ mutated(m2)(b =>
      b(b.length - 5) = (b(b.length - 5) ^ 0xff).toByte)
    for ((bytes, mno, what) <- Seq(
      (corruptMagic, 2, "bad magic"), (interGarbage, 2, "bad magic"),
      (trailingGarbage, 3, "truncated header"),
      (corruptCrc, 2, "CRC32 mismatch"))) {
      val e = intercept[IllegalArgumentException] {
        WarcSource.parseAll("p", bytes).toList
      }
      assert(e.getMessage.contains(s"gzip member $mno"), what)
      assert(e.getMessage.contains(what), e.getMessage)
    }
    // and a CLEAN multi-member archive still parses whole
    assert(WarcSource.parseAll("p", m1 ++ m2).size === 2)
  }

  test("JsonlSource compressed shards: zstd round-trip, gzip by magic " +
    "dispatch, corrupt JSON raises, unknown magic raises") {
    import graft.sources.JsonlSource
    val root = java.nio.file.Files
      .createTempDirectory("graft-jsonl-zst").toString
    val df = Seq(
      (1L, "plain text", "en"),
      (2L, "newline\\n \"quotes\" é中", "fr"),
      (3L, null.asInstanceOf[String], "de")).toDF("id", "text", "lang")
    val p = JsonlSource.stageZst(df, root, "t", 5L)
    assert(new java.io.File(p).listFiles()
      .exists(_.getName.endsWith(".jsonl.zst")))
    val back = JsonlSource.readCompressed(spark, p, df.schema)
      .as[(Long, String, String)].collect().toSet
    assert(back === Set((1L, "plain text", "en"),
      (2L, "newline\\n \"quotes\" é中", "fr"), (3L, null, "de")))
    // a GZIP shard in the same dir dispatches by magic, not name
    val gz = new java.io.File(p, "part-gz.jsonl.gz")
    val go = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(gz))
    go.write("{\"id\":9,\"text\":\"gz member\",\"lang\":\"xx\"}\n"
      .getBytes("UTF-8"))
    go.close()
    val withGz = JsonlSource.readCompressed(spark, p, df.schema)
      .as[(Long, String, String)].collect().toSet
    assert(withGz === back + ((9L, "gz member", "xx")))
    gz.delete()
    // a corrupt line RAISES (never a silent null row)
    val badDir = new java.io.File(root, "bad"); badDir.mkdirs()
    val bz = new com.github.luben.zstd.ZstdOutputStream(
      new java.io.FileOutputStream(
        new java.io.File(badDir, "part-0.jsonl.zst")), 3)
    bz.write("{\"id\":1,\"text\":\"ok\",\"lang\":\"en\"}\n{not json\n"
      .getBytes("UTF-8"))
    bz.close()
    val e = intercept[Exception] {
      JsonlSource.readCompressed(spark, badDir.toString, df.schema)
        .collect()
    }
    def chain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString("|")
    assert(chain(e).toLowerCase.contains("malformed") ||
      chain(e).contains("corrupt JSON line"), chain(e).take(300))
    // unrecognized magic is loud, not skipped
    val junkDir = new java.io.File(root, "junk"); junkDir.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(junkDir, "part-0.jsonl.xz").toPath,
      Array[Byte](1, 2, 3, 4, 5))
    val e2 = intercept[Exception] {
      JsonlSource.readCompressed(spark, junkDir.toString, df.schema)
        .collect()
    }
    assert(chain(e2).contains("magic bytes unrecognized"), chain(e2).take(300))
  }

  test("AvroSource: lossless round-trip over every subset type incl. " +
    "varint/double edge values; fingerprint-once staging; schema " +
    "drift and a corrupted sync marker fail loudly") {
    import graft.sources.AvroSource
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val root = java.nio.file.Files
      .createTempDirectory("graft-avro").toString
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("n", IntegerType, nullable = true),
      StructField("x", DoubleType, nullable = true),
      StructField("ok", BooleanType, nullable = false),
      StructField("text", StringType, nullable = true),
      StructField("blob", BinaryType, nullable = true)))
    val rows = Seq(
      Row(Long.MinValue, Int.MinValue, -0.0d, false, "", Array[Byte]()),
      Row(Long.MaxValue, Int.MaxValue, Double.NaN, true,
        "unicode é中\nline2", Array[Byte](0, -1, 127)),
      Row(-1L, null, Double.PositiveInfinity, true, null, null),
      Row(0L, 0, null, false, "\"quotes\" and \\backslash",
        Array[Byte](1, 2, 3, 4, 5)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val p1 = AvroSource.stage(df, root, "t", fingerprint = 11L)
    val back = AvroSource.read(spark, p1, schema).collect()
    assert(back.length === 4)
    val byId = back.map(r => r.getLong(0) -> r).toMap
    assert(byId(Long.MaxValue).getInt(1) === Int.MaxValue)
    assert(byId(Long.MaxValue).getDouble(2).isNaN)
    assert(byId(Long.MaxValue).getString(4) === "unicode é中\nline2")
    assert(byId(Long.MinValue).getDouble(2) === -0.0d &&
      (1.0 / byId(Long.MinValue).getDouble(2)).isNegInfinity)
    assert(byId(Long.MinValue).getAs[Array[Byte]](5).length === 0)
    assert(byId(-1L).isNullAt(1) && byId(-1L).isNullAt(4) &&
      byId(-1L).isNullAt(5))
    assert(byId(-1L).getDouble(2).isPosInfinity)
    assert(byId(0L).getAs[Array[Byte]](5).toSeq === Seq[Byte](1, 2, 3, 4, 5))
    // fingerprint-once: same fp reuses, new fp deletes the sibling
    val mtime = new java.io.File(p1, "_SUCCESS").lastModified()
    assert(AvroSource.stage(df, root, "t", 11L) === p1)
    assert(new java.io.File(p1, "_SUCCESS").lastModified() === mtime)
    val p2 = AvroSource.stage(df.limit(1), root, "t", 12L)
    assert(p2 !== p1)
    assert(!new java.io.File(p1).exists())
    // schema drift: a reader declaring n:long (writer wrote int) and
    // one declaring text non-nullable must both fail with BOTH shapes
    for (drifted <- Seq(
      StructType(schema.fields.updated(1,
        StructField("n", LongType, nullable = true))),
      StructType(schema.fields.updated(4,
        StructField("text", StringType, nullable = false))))) {
      val e = intercept[org.apache.spark.SparkException] {
        AvroSource.read(spark, p2, drifted).collect()
      }
      assert(e.getMessage.contains("schema drift") ||
        e.getCause.getMessage.contains("schema drift"))
    }
    // a flipped byte inside the first block's sync marker fails
    // loudly, never yields a short result
    val part = new java.io.File(p2).listFiles()
      .filter(_.getName.endsWith(".avro")).head
    val bytes = java.nio.file.Files.readAllBytes(part.toPath)
    val mangled = bytes.clone()
    mangled(mangled.length - 1) = (mangled(mangled.length - 1) ^ 0x7f).toByte
    val e2 = intercept[IllegalArgumentException] {
      AvroSource.decodeFile("p", mangled,
        schema.fields.map(f => (f.name,
          f.dataType match {
            case LongType => "long"; case IntegerType => "int"
            case DoubleType => "double"; case BooleanType => "boolean"
            case StringType => "string"; case _ => "bytes"
          }, f.nullable)), schema).toList
    }
    assert(e2.getMessage.contains("sync marker mismatch"))
  }

  test("AvroSource: the REVERSED nullable union [T, 'null'] decodes " +
      "correctly — branch 0 carries the value in that member order, " +
      "so a null-first assumption would null the values and desync") {
    import graft.sources.AvroSource
    import org.apache.spark.sql.types._
    import org.apache.avro.generic.{GenericDatumWriter, GenericData}
    import org.apache.avro.file.DataFileWriter
    val avroSchema = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"t","fields":[
        |{"name":"id","type":"long"},
        |{"name":"v","type":["long","null"]}]}""".stripMargin)
    val dir = java.nio.file.Files.createTempDirectory("graft-avro-rev")
    val f = new java.io.File(dir.toFile, "part-00000.avro")
    val w = new DataFileWriter[GenericData.Record](
      new GenericDatumWriter[GenericData.Record](avroSchema))
    w.create(avroSchema, f)
    val r1 = new GenericData.Record(avroSchema)
    r1.put("id", 1L); r1.put("v", 7L)
    val r2 = new GenericData.Record(avroSchema)
    r2.put("id", 2L); r2.put("v", null)
    w.append(r1); w.append(r2); w.close()
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", LongType, nullable = true)))
    val got = AvroSource.read(spark, dir.toString, schema)
      .as[(Long, Option[Long])].collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, Some(7L)), (2L, None)))
  }

  test("AvroSource interop: the reference Avro library reads our " +
    "container files byte-for-byte, and our reader decodes files the " +
    "reference library wrote (null and deflate codecs)") {
    import graft.sources.AvroSource
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import org.apache.avro.generic.{GenericDatumReader, GenericDatumWriter, GenericRecord, GenericData}
    import org.apache.avro.file.{DataFileReader, DataFileWriter, SeekableByteArrayInput, CodecFactory}
    val root = java.nio.file.Files
      .createTempDirectory("graft-avro-iop").toString
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("text", StringType, nullable = true),
      StructField("score", DoubleType, nullable = false)))
    val rows = (0 until 500).map(i =>
      Row(i.toLong * 7919L - 100000L,
        if (i % 11 == 0) null else s"doc $i é中 ${"x" * (i % 40)}",
        i * 0.125 - 3.0))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), schema)
    // our writer -> reference reader
    val p = AvroSource.stage(df, root, "t", 99L)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Double)]
    for (f <- new java.io.File(p).listFiles().sortBy(_.getName)
        if f.getName.endsWith(".avro")) {
      val in = new SeekableByteArrayInput(
        java.nio.file.Files.readAllBytes(f.toPath))
      val r = new DataFileReader[GenericRecord](in,
        new GenericDatumReader[GenericRecord]())
      while (r.hasNext) {
        val rec = r.next()
        seen += ((rec.get("id").asInstanceOf[Long],
          Option(rec.get("text")).map(_.toString).orNull,
          rec.get("score").asInstanceOf[Double]))
      }
      r.close()
    }
    val want = rows.map(r =>
      (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(seen.toSet === want && seen.size === 500)
    // reference writer (both codecs) -> our reader
    for (codec <- Seq(null, CodecFactory.deflateCodec(6))) {
      val avroSchema = new org.apache.avro.Schema.Parser().parse(
        """{"type": "record", "name": "t", "fields": [
          |  {"name": "id", "type": "long"},
          |  {"name": "text", "type": ["null", "string"], "default": null},
          |  {"name": "score", "type": "double"}]}""".stripMargin)
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](avroSchema))
      if (codec != null) w.setCodec(codec)
      val dir = new java.io.File(root, s"ref-${codec == null}")
      dir.mkdirs()
      val out = new java.io.File(dir, "part-00000.avro")
      w.create(avroSchema, out)
      for (r <- rows) {
        val rec = new GenericData.Record(avroSchema)
        rec.put("id", r.getLong(0))
        rec.put("text", r.getString(1))
        rec.put("score", r.getDouble(2))
        w.append(rec)
      }
      w.close()
      val got = AvroSource.read(spark, dir.toString, schema)
        .collect().map(r =>
          (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      assert(got === want, s"codec=$codec")
    }
  }

  test("Avro property fuzz: randomized containers from a test-side " +
    "spec-derived encoder — fuzzed block splits incl. empty data " +
    "blocks, multi-block + negative-count metadata, reversed unions, " +
    "varint extremes, both codecs — decode identically to the " +
    "reference library") {
    import graft.sources.AvroSource
    import org.apache.spark.sql.types._
    import java.io.ByteArrayOutputStream
    import java.nio.charset.StandardCharsets.UTF_8
    // container encoder derived from the Avro 1.11 spec, written
    // independently of AvroSource's writer: zigzag varints, metadata
    // map in SEVERAL blocks including the negative-count byte-size
    // form (spec-legal, never emitted by real writers), per-block
    // sync markers, raw-deflate codec
    def zz(out: ByteArrayOutputStream, v: Long): Unit = {
      var u = (v << 1) ^ (v >> 63)
      while ((u & ~0x7fL) != 0) {
        out.write(((u & 0x7f) | 0x80).toInt); u >>>= 7
      }
      out.write(u.toInt)
    }
    def zbytes(out: ByteArrayOutputStream, b: Array[Byte]): Unit = {
      zz(out, b.length.toLong); out.write(b)
    }
    def zstr(out: ByteArrayOutputStream, s: String): Unit =
      zbytes(out, s.getBytes(UTF_8))
    def deflateRaw(b: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater(
        java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
      d.setInput(b); d.finish()
      val out = new ByteArrayOutputStream()
      val buf = new Array[Byte](b.length + 64)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end(); out.toByteArray
    }
    val schemaJson =
      """{"type":"record","name":"fz","fields":[
        |{"name":"id","type":"long"},
        |{"name":"v","type":["null","long"]},
        |{"name":"s","type":["string","null"]}]}""".stripMargin
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", LongType, nullable = true),
      StructField("s", StringType, nullable = true)))
    val want = schema.fields.map(f =>
      (f.name, if (f.dataType == LongType) "long" else "string",
        f.nullable))
    // varint edges: the 1-byte/2-byte zigzag boundaries and the
    // 10-byte Long extremes
    val longPool = IndexedSeq(0L, 1L, -1L, 63L, 64L, -64L, -65L,
      Long.MaxValue, Long.MinValue, Long.MaxValue - 1,
      Long.MinValue + 1, 1L << 35, -(1L << 35))
    val strPool = IndexedSeq("", "a", "é", "中", "😀",
      "line\nbreak", "\"q\" \\b", "x" * 300)
    for (seed <- 0 until 20) {
      val rnd = new scala.util.Random(seed)
      val deflate = seed % 2 == 1
      val nRows = rnd.nextInt(50)
      case class R(id: Long, v: java.lang.Long, s: String)
      val rows = (0 until nRows).map { _ =>
        R(if (rnd.nextBoolean()) longPool(rnd.nextInt(longPool.size))
          else rnd.nextLong(),
          if (rnd.nextDouble() < 0.3) null
          else java.lang.Long.valueOf(
            if (rnd.nextBoolean()) longPool(rnd.nextInt(longPool.size))
            else rnd.nextLong()),
          if (rnd.nextDouble() < 0.3) null
          else Seq.fill(rnd.nextInt(4))(
            strPool(rnd.nextInt(strPool.size))).mkString)
      }
      def encodeRow(out: ByteArrayOutputStream, r: R): Unit = {
        zz(out, r.id)
        if (r.v == null) zz(out, 0L) else { zz(out, 1L); zz(out, r.v) }
        if (r.s == null) zz(out, 1L) else { zz(out, 0L); zstr(out, r.s) }
      }
      val junkMeta = Array.fill(rnd.nextInt(9))(rnd.nextInt(256).toByte)
      val sync = Array.fill[Byte](16)(rnd.nextInt(256).toByte)
      // data-block row splits with empty (count = 0) blocks spliced in
      var pos = 0
      val counts = scala.collection.mutable.ArrayBuffer.empty[Int]
      while (pos < nRows) {
        if (rnd.nextDouble() < 0.15) counts += 0
        val k = math.min(1 + rnd.nextInt(7), nRows - pos)
        counts += k; pos += k
      }
      if (rnd.nextBoolean()) counts += 0 // trailing empty block
      def build(blockCounts: Seq[Int]): Array[Byte] = {
        val out = new ByteArrayOutputStream()
        out.write('O'); out.write('b'); out.write('j'); out.write(1)
        // metadata block 1 (positive count): the codec
        zz(out, 1L); zstr(out, "avro.codec")
        zbytes(out, (if (deflate) "deflate" else "null").getBytes(UTF_8))
        // metadata block 2 (NEGATIVE count + byte size): schema + junk
        val mb = new ByteArrayOutputStream()
        zstr(mb, "avro.schema"); zbytes(mb, schemaJson.getBytes(UTF_8))
        zstr(mb, "junk.meta"); zbytes(mb, junkMeta)
        zz(out, -2L); zz(out, mb.size.toLong); out.write(mb.toByteArray)
        zz(out, 0L) // metadata terminator
        out.write(sync)
        var at = 0
        for (c <- blockCounts) {
          val body = new ByteArrayOutputStream()
          rows.slice(at, at + c).foreach(encodeRow(body, _)); at += c
          val payload =
            if (deflate) deflateRaw(body.toByteArray) else body.toByteArray
          zz(out, c.toLong); zz(out, payload.length.toLong)
          out.write(payload); out.write(sync)
        }
        out.toByteArray
      }
      val wantTriples = rows.map(r => (r.id, Option(r.v).map(_.longValue),
        Option(r.s))).toList
      def ours(bytes: Array[Byte]) =
        AvroSource.decodeFile(s"fuzz-$seed", bytes, want, schema)
          .map(r => (r.getLong(0),
            if (r.isNullAt(1)) None else Some(r.getLong(1)),
            Option(r.getString(2)))).toList
      // our decoder handles BOTH variants — including the spec-legal
      // empty data block the reference library cannot cross-check
      // (org.apache.avro's DataFileStream stops iterating at a
      // count-0 block, silently truncating; verified while building
      // this test, which is why the reference comparison below runs
      // on the empties-free variant only)
      assert(ours(build(counts.toSeq)) === wantTriples,
        s"seed=$seed deflate=$deflate (with empty blocks)")
      val noEmpties = build(counts.toSeq.filter(_ > 0))
      assert(ours(noEmpties) === wantTriples,
        s"seed=$seed deflate=$deflate (no empty blocks)")
      // the reference library must read the same container the same
      // way — cross-validating the test-side encoder itself
      import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
      import org.apache.avro.file.{DataFileReader, SeekableByteArrayInput}
      val ref = new DataFileReader[GenericRecord](
        new SeekableByteArrayInput(noEmpties),
        new GenericDatumReader[GenericRecord]())
      val refGot = scala.collection.mutable.ListBuffer
        .empty[(Long, Option[Long], Option[String])]
      while (ref.hasNext) {
        val rec = ref.next()
        refGot += ((rec.get("id").asInstanceOf[Long],
          Option(rec.get("v")).map(_.asInstanceOf[Long].longValue),
          Option(rec.get("s")).map(_.toString)))
      }
      ref.close()
      assert(refGot.toList === wantTriples, s"reference, seed=$seed")
      // negative leg: a deflate payload CUT SHORT (declared size
      // honest, data incomplete) must fail loud as truncated — the
      // empty-block fix must not have silenced genuine truncation
      if (deflate && counts.exists(_ > 0)) {
        val c0 = counts.find(_ > 0).get
        val body = new ByteArrayOutputStream()
        rows.take(c0).foreach(encodeRow(body, _))
        val full = deflateRaw(body.toByteArray)
        if (full.length > 4) {
          val cut = java.util.Arrays.copyOf(full, full.length - 3)
          val o2 = new ByteArrayOutputStream()
          o2.write(build(Seq.empty))
          zz(o2, c0.toLong); zz(o2, cut.length.toLong)
          o2.write(cut); o2.write(sync)
          val e = intercept[IllegalArgumentException](
            AvroSource.decodeFile(s"trunc-$seed", o2.toByteArray,
              want, schema).toList)
          assert(e.getMessage.contains("deflate block truncated"),
            s"seed=$seed: ${e.getMessage}")
        }
      }
    }
  }

  test("WARC property fuzz: the record stream sliced into pathological " +
    "gzip member splits — members cut at arbitrary byte boundaries so " +
    "records straddle members, every RFC 1952 optional header field, " +
    "empty members — parses to the same records as the plain archive") {
    import graft.sources.WarcSource
    import java.io.ByteArrayOutputStream
    def rec(no: Int, payload: String): Array[Byte] = {
      val p = payload.getBytes("UTF-8")
      (s"WARC/1.0\r\nWARC-Type: response\r\n" +
        s"WARC-Target-URI: https://ex/$no\r\n" +
        "WARC-Date: 2024-01-02T03:04:05Z\r\n" +
        "Content-Type: application/http\r\n" +
        s"Content-Length: ${p.length}\r\n\r\n").getBytes("UTF-8") ++
        p ++ "\r\n\r\n".getBytes("UTF-8")
    }
    // member writer derived from RFC 1952, independent of the JDK's
    // GZIPOutputStream: every optional header field can appear
    // (FEXTRA/FNAME/FCOMMENT/FHCRC — the JDK writer emits none of
    // them, so the parser's skip logic was never exercised by real
    // archives), raw-deflate body, CRC32 + ISIZE trailer
    def gzMember(payload: Array[Byte],
                 rnd: scala.util.Random): Array[Byte] = {
      val head = new ByteArrayOutputStream()
      val (fextra, fname, fcomment, fhcrc) = (rnd.nextBoolean(),
        rnd.nextBoolean(), rnd.nextBoolean(), rnd.nextBoolean())
      val flg = (if (fhcrc) 2 else 0) | (if (fextra) 4 else 0) |
        (if (fname) 8 else 0) | (if (fcomment) 16 else 0)
      head.write(0x1f); head.write(0x8b); head.write(8); head.write(flg)
      for (_ <- 0 until 4) head.write(rnd.nextInt(256)) // MTIME
      head.write(0); head.write(255)                    // XFL, OS
      if (fextra) {
        val n = rnd.nextInt(6)
        head.write(n & 0xff); head.write((n >> 8) & 0xff)
        for (_ <- 0 until n) head.write(rnd.nextInt(256))
      }
      if (fname) { "shard.warc".foreach(c => head.write(c)); head.write(0) }
      if (fcomment) { "fuzz member".foreach(c => head.write(c)); head.write(0) }
      if (fhcrc) {
        val c = new java.util.zip.CRC32; c.update(head.toByteArray)
        val v = (c.getValue & 0xffff).toInt
        head.write(v & 0xff); head.write((v >> 8) & 0xff)
      }
      val bos = new ByteArrayOutputStream()
      bos.write(head.toByteArray)
      val d = new java.util.zip.Deflater(
        java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
      d.setInput(payload); d.finish()
      val buf = new Array[Byte](payload.length + 64)
      while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
      d.end()
      val crc = new java.util.zip.CRC32; crc.update(payload)
      def le32(v: Long): Unit = (0 until 4).foreach(i =>
        bos.write(((v >> (8 * i)) & 0xff).toInt))
      le32(crc.getValue); le32(payload.length.toLong)
      bos.toByteArray
    }
    val all = (1 to 8).map(i =>
      rec(i, s"HTTP/1.1 200 OK\r\n\r\nbody $i é中 ${"x" * (i * 13)}"))
      .reduce(_ ++ _)
    def view(t: (String, Int, String, String, String, String, Long,
        Array[Byte])) = (t._2, t._3, t._4, t._7, t._8.toSeq)
    val expected = WarcSource.parseAll("plain", all).map(view).toList
    assert(expected.size === 8)
    for (seed <- 0 until 10) {
      val rnd = new scala.util.Random(seed)
      val out = new ByteArrayOutputStream()
      var i = 0
      while (i < all.length) {
        if (rnd.nextDouble() < 0.08)
          out.write(gzMember(Array.emptyByteArray, rnd)) // empty member
        val k = math.min(1 + rnd.nextInt(13), all.length - i)
        out.write(gzMember(java.util.Arrays.copyOfRange(all, i, i + k),
          rnd))
        i += k
      }
      if (rnd.nextBoolean())
        out.write(gzMember(Array.emptyByteArray, rnd)) // trailing empty
      val got = WarcSource.parseAll(s"fuzz-$seed", out.toByteArray)
        .map(view).toList
      assert(got === expected, s"seed=$seed")
    }
  }
}
