package graft.pipeline

import java.nio.file.{Files, Paths}
import java.util.Properties

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sources.{Fetcher, JdkFetcher, Tables, ZipSource}

/** The end-to-end ETL entry point — the reference's `__main__`
  * (Angelo_ETL_Task.py:377-390) as one runnable composition:
  *
  *   extract (S1 authenticated fetch + S2 zip→CSV)
  *     → transform (I2b2Pipeline.build, R1–F14)
  *     → load (LoadOrchestrator.load, L1–L6)
  *
  * The fetcher is injected so tests (and air-gapped runs) drive the
  * identical chain through `StubFetcher` + embedded Derby; the
  * default is the real cookie-session JDK client against loinc.org.
  *
  * Usage:
  * {{{
  * spark-submit --class graft.pipeline.EtlMain graft.jar \
  *   --loinc-user U --loinc-pass P \
  *   [--pg-host localhost] [--pg-port 5432] [--pg-db postgres] \
  *   [--pg-user postgres] [--pg-password postgres] \
  *   [--table I2B2] [--csv-out /path] [--work-dir /tmp/...] \
  *   [--work-dir-shared]      # REQUIRED on a non-local master:
  *                            # confirms --work-dir is a mount every
  *                            # executor shares (NFS/HDFS)
  *   [--jdbc-url jdbc:...]    # overrides the pg-* url construction
  *   [--spec-fullname]        # corrected C_FULLNAME instead of strict
  *                            # reference parity (F2 bug-compat)
  * }}}
  *
  * Secrets can (and should) come from the environment instead of
  * flags — `LOINC_PASS` and `PGPASSWORD` are used when the
  * corresponding flag is absent, keeping passwords out of process
  * listings and shell history.
  */
object EtlMain {

  case class EtlConfig(
      loincUser: String,
      loincPassword: String,
      pgHost: String = "localhost",
      pgPort: String = "5432",
      pgDb: String = "postgres",
      pgUser: String = "postgres",
      pgPassword: String = "postgres",
      table: String = "I2B2",
      csvOut: Option[String] = None,
      workDir: Option[String] = None,
      jdbcUrl: Option[String] = None,
      bugCompatFullname: Boolean = true,
      // on a non-local master the landing dir is written driver-side
      // but scanned by executors; this flag is the operator's explicit
      // promise that --work-dir is a shared mount (NFS/HDFS/fuse)
      workDirShared: Boolean = false)

  /** Public endpoints the reference posts to (Angelo_ETL_Task.py:
    * 138-142): session login, then one form POST per ZIP artifact.
    */
  val LoginUrl = "https://loinc.org/wp-login.php"
  val LoincZipUrl = "https://loinc.org/download/loinc-table-file-csv/"
  val HierarchyZipUrl =
    "https://loinc.org/download/loinc-multiaxial-hierarchy/"

  /** S1+S2: authenticate, download both ZIPs, land them in `workDir`,
    * and read each CSV entry distributed. Returns (loinc, hierarchy)
    * frames shaped for [[I2b2Pipeline.build]].
    *
    * The reference unzips in driver memory; landing the archives on
    * disk keeps the driver footprint at one archive and lets the
    * zip→CSV expansion run on executors. The landing directory is
    * written with driver-local java.nio, so on a non-local master
    * [[requireExecutorVisibleLanding]] fails fast unless the operator
    * passed both `--work-dir` and `--work-dir-shared`; the local[. ]
    * default matches the reference's single-machine deployment.
    * `seq` is minted from record
    * order: each archive is ONE binaryFile row, so its records stay in
    * file order inside one partition and `monotonically_increasing_id`
    * preserves exactly the order pandas saw — the R2 last-wins dedup
    * depends on it.
    */
  /** The cluster-mode landing contract, enforced instead of noted: a
    * non-local master runs executors on other hosts, but the archives
    * land via driver-local java.nio — so the operator must both pick
    * the directory (`--work-dir`) and explicitly confirm it is a
    * shared mount (`--work-dir-shared`). Factored out of [[extract]]
    * so the spec can pin the message without a real cluster.
    */
  private[graft] def requireExecutorVisibleLanding(
      master: String, cfg: EtlConfig): Unit =
    if (!master.startsWith("local"))
      require(cfg.workDir.isDefined && cfg.workDirShared,
        s"master '$master' runs executors on other hosts, but the zip " +
          "landing directory is written with driver-local file I/O — " +
          "pass --work-dir pointing at a filesystem every executor " +
          "mounts AND --work-dir-shared to confirm it is shared " +
          "(NFS/HDFS); otherwise the distributed zip scan cannot see " +
          "the downloaded archives")

  def extract(spark: SparkSession, fetcher: Fetcher, cfg: EtlConfig)
      : (DataFrame, DataFrame) = {
    requireExecutorVisibleLanding(spark.sparkContext.master, cfg)
    fetcher.post(LoginUrl,
      Map("log" -> cfg.loincUser, "pwd" -> cfg.loincPassword))
    val form = Map("tc_submit" -> "Download", "tc_accepted" -> "1")
    // A self-minted landing dir is cleaned at JVM EXIT, not in a
    // finally: the returned DataFrames are LAZY and the distributed
    // zip scan reads the archives when the caller executes them, so
    // an eager delete would yank the files out from under the plan.
    // deleteOnExit runs in reverse registration order — dir first,
    // then files, so the files go before their directory. A
    // caller-provided --work-dir is the caller's to manage.
    val selfMinted = cfg.workDir.isEmpty
    val dir = Paths.get(cfg.workDir.getOrElse(
      Files.createTempDirectory("graft_etl").toString))
    Files.createDirectories(dir)
    if (selfMinted) dir.toFile.deleteOnExit()
    val loincZip = dir.resolve("loinc.zip")
    val hierZip = dir.resolve("hierarchy.zip")
    if (selfMinted) {
      loincZip.toFile.deleteOnExit()
      hierZip.toFile.deleteOnExit()
    }
    Files.write(loincZip, fetcher.post(LoincZipUrl, form))
    Files.write(hierZip, fetcher.post(HierarchyZipUrl, form))

    val loinc = ZipSource.zipEntryCsv(
      spark, loincZip.toString, "Loinc.csv", Tables.loincSchema)
    val hierCsvSchema = StructType(
      Tables.hierarchySchema.fields.filterNot(_.name == "seq"))
    val hierarchy = ZipSource.zipEntryCsv(
        spark, hierZip.toString, "MultiAxialHierarchy.csv", hierCsvSchema)
      .withColumn("seq", monotonically_increasing_id())
    (loinc, hierarchy)
  }

  /** The full chain with an injected fetcher and run timestamp — the
    * testable seam (`LoadSpec` drives it through StubFetcher + Derby).
    */
  def run(spark: SparkSession, fetcher: Fetcher, cfg: EtlConfig,
          runTs: String): LoadOrchestrator.LoadReport = {
    val (loinc, hierarchy) = extract(spark, fetcher, cfg)
    val out = I2b2Pipeline.build(loinc, hierarchy,
      I2b2Config(runTimestamp = runTs,
        bugCompatFullname = cfg.bugCompatFullname))
    val url = cfg.jdbcUrl.getOrElse(
      s"jdbc:postgresql://${cfg.pgHost}:${cfg.pgPort}/${cfg.pgDb}")
    // credentials apply to --jdbc-url targets too (Derby ignores them)
    val props = new Properties()
    props.setProperty("user", cfg.pgUser)
    props.setProperty("password", cfg.pgPassword)
    LoadOrchestrator.load(out, url, cfg.table, props, runTs, cfg.csvOut)
  }

  private def parse(args: Array[String]): EtlConfig = {
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(
        s"$msg\n(see EtlMain scaladoc for usage)")
    var cfg = EtlConfig(loincUser = null, loincPassword = null)
    var i = 0
    while (i < args.length) {
      def value: String = {
        if (i + 1 >= args.length) fail(s"missing value for ${args(i)}")
        i += 1; args(i)
      }
      args(i) match {
        case "--loinc-user" => cfg = cfg.copy(loincUser = value)
        case "--loinc-pass" => cfg = cfg.copy(loincPassword = value)
        case "--pg-host" => cfg = cfg.copy(pgHost = value)
        case "--pg-port" => cfg = cfg.copy(pgPort = value)
        case "--pg-db" => cfg = cfg.copy(pgDb = value)
        case "--pg-user" => cfg = cfg.copy(pgUser = value)
        case "--pg-password" => cfg = cfg.copy(pgPassword = value)
        case "--table" => cfg = cfg.copy(table = value)
        case "--csv-out" => cfg = cfg.copy(csvOut = Some(value))
        case "--work-dir" => cfg = cfg.copy(workDir = Some(value))
        case "--work-dir-shared" => cfg = cfg.copy(workDirShared = true)
        case "--jdbc-url" => cfg = cfg.copy(jdbcUrl = Some(value))
        case "--spec-fullname" => cfg = cfg.copy(bugCompatFullname = false)
        case other => fail(s"unknown argument: $other")
      }
      i += 1
    }
    // env-var fallbacks for secrets: CLI flags show up in process
    // listings and shell history, so prefer LOINC_PASS / PGPASSWORD
    // (the latter is the standard libpq variable) when the flag is
    // absent
    if (cfg.loincPassword == null)
      sys.env.get("LOINC_PASS").foreach(p =>
        cfg = cfg.copy(loincPassword = p))
    if (!args.contains("--pg-password"))
      sys.env.get("PGPASSWORD").foreach(p => cfg = cfg.copy(pgPassword = p))
    if (cfg.loincUser == null || cfg.loincPassword == null)
      fail("--loinc-user and --loinc-pass (or LOINC_PASS) are required")
    cfg
  }

  def main(args: Array[String]): Unit = {
    val cfg = parse(args)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-etl")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    // F11: ONE timestamp stamped on every row of the run (the
    // reference takes it once at transform start, :182)
    val runTs = java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter
        .ofPattern(I2b2Config.RunTimestampFormat))
    val report = run(spark, new JdkFetcher(), cfg, runTs)
    println(s"table created: ${report.createdTable}; " +
      s"rows written: ${report.rowsWritten}; " +
      s"verified count: ${report.verifiedCount}; " +
      s"first import date: ${report.firstImportDate.getOrElse("(this run)")}")
    spark.stop()
  }
}
