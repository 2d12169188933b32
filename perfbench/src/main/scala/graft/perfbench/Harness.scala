package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.{Instant, LocalDateTime}
import java.time.format.DateTimeFormatter
import java.util.Properties

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.jdbc.{JdbcDialect, JdbcDialects, JdbcType}
import org.apache.spark.sql.types.{DataType, StringType}

import graft.SparkEntry
import graft.pipeline.{EtlMain, I2b2Config, I2b2Pipeline, LoadOrchestrator}
import graft.queries.{CoreQueries, ExtensionQueries, I2b2Oracle, LoincShim}
import graft.sources.StubFetcher

/** The JVM side of the benchmark (perfbench/run.py drives it).
  *
  * {{{
  * Harness dump-sql <out.json>
  * Harness <etl_ref|etl_spec|registry> --inputs DIR --work DIR
  *         --out FILE --seconds N --trace 0|1
  * }}}
  *
  * One closed-loop client on `local[nproc]`: each operation starts
  * after the previous one ends. The first operation in the JVM is the
  * cold one; then [[WarmupOps]] unmeasured ones let the JIT settle, and
  * measured warm ones follow for `--seconds` (at least [[MinWarmOps]]),
  * with a [[CachePeak]] attached. With `--trace 1` a traced operation
  * follows, with the [[Probe]] listener attached and spans around each
  * layer call; it is kept out of the untraced figures. Everything is written to `--out` as JSON; the Python side
  * checks it against the DuckDB oracle and derives the metrics.
  */
object Harness {

  /** Unmeasured warm operations after the cold one: the JIT is still
    * compiling the hot paths for the first few, and a median taken there
    * swings with how fast it gets on.
    */
  val WarmupOps = Map("etl_ref" -> 4, "etl_spec" -> 4, "registry" -> 3)
  val MinWarmOps = 3

  /** The registry slice one pass runs: the shared stages it rebuilds
    * after evicting the memo, then the queries it counts. It keeps the
    * i2b2 family and one query from each of eight other families, sized
    * so that a cold pass and the warm ones fit the run's time.
    */
  val RegistryStages = Seq("i2b2_spine", "kmeans8_cent")
  val RegistryQueries = Seq(
    "i2b2_pipeline", "i2b2_pipeline_bugcompat", "r2_lastwins_dedup",
    "sim_bruteforce_topk", "agg_stats", "dedup_exact", "emb_project",
    "ew_sessions", "join_semi", "tpch_q1", "win_rank")

  final case class Args(workload: String, inputs: String, work: String,
                        out: String, seconds: Double, trace: Boolean) {
    val cpus: Int = Runtime.getRuntime.availableProcessors
  }

  private def parse(a: Array[String]): Args = {
    val kv = a.drop(1).grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    Args(a(0), kv("inputs"), kv("work"), kv("out"), kv("seconds").toDouble,
      kv("trace") == "1")
  }

  def main(argv: Array[String]): Unit = argv.headOption match {
    case Some("dump-sql") => dumpSql(argv(1))
    case Some("etl_ref" | "etl_spec" | "registry") =>
      val a = parse(argv)
      val res = run(a)
      Files.write(Paths.get(a.out), res.getBytes("UTF-8"))
    case _ =>
      System.err.println("usage: Harness dump-sql FILE | " +
        "Harness <etl_ref|etl_spec|registry> --inputs DIR --work DIR " +
        "--out FILE --seconds N --trace 0|1")
      sys.exit(2)
  }

  /** The oracle statements the Python side runs in DuckDB. The registry
    * map is read first: CoreQueries and I2b2Oracle refer to each other,
    * and entered from I2b2Oracle the map would capture its statements
    * before they are assigned (null).
    */
  private def dumpSql(out: String): Unit = {
    val oracle = SparkEntry.oracleSql
    val json = Json.obj(
      "loinc_ctes" -> LoincShim.oracleCtes,
      "i2b2_sql" -> I2b2Oracle.sql,
      "i2b2_bugcompat_sql" -> I2b2Oracle.bugCompatSql,
      "oracle_run_ts" -> CoreQueries.RunTs,
      "query_names" -> SparkEntry.queries.keys.toSeq.sorted,
      "queries" -> oracle)
    Files.write(Paths.get(out), json.getBytes("UTF-8"))
  }

  private def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Spark's built-in Derby dialect maps StringType to CLOB, which
    * Derby refuses for setNull on the VARCHAR columns of the i2b2 DDL;
    * the same VARCHAR mapping the load specs register. Postgres, the
    * production target, needs none (and is not reachable offline).
    */
  private def registerDerbyDialect(): Unit =
    JdbcDialects.registerDialect(new JdbcDialect {
      override def canHandle(url: String): Boolean =
        url.startsWith("jdbc:derby")
      override def getJDBCType(dt: DataType): Option[JdbcType] = dt match {
        case StringType => Some(JdbcType("VARCHAR(4000)", java.sql.Types.VARCHAR))
        case _ => None
      }
    })

  private def dropDerby(db: String): Unit =
    try java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true")
      .close()
    catch { case _: java.sql.SQLException => () } // 08006: dropped

  private def epochS(): Double = {
    val i = Instant.now()
    i.getEpochSecond + i.getNano / 1e9
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  private def errText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")
      .takeWhile(_ != '\n').take(200)}"

  private def rm(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.delete(x))
      finally s.close()
    }

  private def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }

  private def median(xs: Iterable[Double]): Double = {
    val s = xs.toSeq.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def run(a: Args): String = {
    val spark = session(a)
    registerDerbyDialect()
    Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    dropDerby("perfbench_probe") // loads the engine
    java.sql.DriverManager
      .getConnection("jdbc:derby:memory:perfbench_probe;create=true").close()
    dropDerby("perfbench_probe")
    val ready = epochS()
    try {
      val body =
        if (a.workload == "registry") registry(spark, a)
        else etl(spark, a)
      Json.obj("workload" -> a.workload, "ready_epoch_s" -> ready,
        "peak_rss_mb" -> peakRssMb(), "body" -> Json.Raw(body))
    } finally spark.stop()
  }

  /** Runs `op` for `seconds` and at least [[MinWarmOps]] times with a
    * [[CachePeak]] attached; returns the median over the operations of
    * the peak MB of Spark blocks each one cached.
    */
  private def measured(spark: SparkSession, seconds: Double)(op: => Unit): Double = {
    val sc = spark.sparkContext
    val cache = new CachePeak(sc)
    sc.addSparkListener(cache)
    try {
      val t0 = System.nanoTime()
      var n = 0
      while ((System.nanoTime() - t0) / 1e9 < seconds || n < MinWarmOps) {
        cache.startOp()
        op
        n += 1
      }
    } finally {
      org.apache.spark.perfbench.Drain(sc)
      sc.removeSparkListener(cache)
    }
    median(cache.opPeaksMb)
  }

  // ---------------------------------------------------------------- ETL

  private def etl(spark: SparkSession, a: Args): String = {
    val bugCompat = a.workload == "etl_ref"
    val in = Paths.get(a.inputs)
    val loincZip = Files.readAllBytes(in.resolve("loinc.zip"))
    val hierZip = Files.readAllBytes(in.resolve("hierarchy.zip"))
    val fetcher = new StubFetcher(Map(
      EtlMain.LoginUrl -> Array.emptyByteArray,
      EtlMain.LoincZipUrl -> loincZip,
      EtlMain.HierarchyZipUrl -> hierZip))
    val tsFmt = DateTimeFormatter.ofPattern("dd-MM-yyyy HH:mm:ss")
    val base = LocalDateTime.of(2026, 1, 1, 0, 0, 0)
    val work = Paths.get(a.work)

    final case class Op(kind: String, i: Int, wallS: Double,
                        rowsWritten: Long, verified: Long, csv: String,
                        error: Option[String])
    val ops = ArrayBuffer.empty[Op]

    /** One product-path run into a fresh in-memory Derby database,
      * dropped afterwards; `body` wraps the timed call.
      */
    def once(kind: String)(body: (EtlMain.EtlConfig, String) =>
        LoadOrchestrator.LoadReport): Op = {
      val i = ops.size
      val db = s"bench_$i"
      val cfg = EtlMain.EtlConfig(loincUser = "bench", loincPassword = "bench",
        jdbcUrl = Some(s"jdbc:derby:memory:$db;create=true"),
        csvOut = Some(work.resolve(s"csv_$i").toString),
        workDir = Some(work.resolve(s"landing_$i").toString),
        bugCompatFullname = bugCompat)
      val runTs = base.plusSeconds(i.toLong).format(tsFmt)
      val t0 = System.nanoTime()
      val op =
        try {
          val r = body(cfg, runTs)
          Op(kind, i, (System.nanoTime() - t0) / 1e9, r.rowsWritten,
            r.verifiedCount, cfg.csvOut.get, None)
        } catch {
          case e: Throwable =>
            Op(kind, i, (System.nanoTime() - t0) / 1e9, -1, -1,
              cfg.csvOut.get, Some(errText(e)))
        } finally {
          dropDerby(db)
          rm(work.resolve(s"landing_$i"))
        }
      ops += op
      op
    }
    def product(cfg: EtlMain.EtlConfig, runTs: String) =
      EtlMain.run(spark, fetcher, cfg, runTs)

    once("cold")(product)
    (1 to WarmupOps(a.workload)).foreach(_ => once("warmup")(product))
    val cached = measured(spark, a.seconds)(once("warm")(product))
    val warmMedian = median(ops.filter(_.kind == "warm").map(_.wallS))

    val layers: Map[String, Any] =
      if (!a.trace) Map.empty
      else {
        val sc = spark.sparkContext
        val probe = new Probe
        val spans = new Spans(sc)
        sc.addSparkListener(probe)
        try {
          // (1) one product-path run exactly as timed: whole-run
          // counters and the load layer's job split by call site
          val whole = once("traced") { (cfg, ts) =>
            spans("etl.run", "traced-run")(product(cfg, ts))
          }
          org.apache.spark.perfbench.Drain(sc)
          // the load's three Spark actions run in sequence: every job up
          // to the `count` job executes that action (with the parse and
          // transform it triggers), the jobs up to the `jdbc` job the
          // append, and the jobs after it the CSV export (the L4 verify
          // between them is plain JDBC)
          val runJobs = probe.inGroup("etl.run")
          def at(verb: String) = runJobs.indexWhere(
            _.callSite.startsWith(s"$verb at LoadOrchestrator"))
          val (iCount, iJdbc) = (at("count"), at("jdbc"))
          def phaseS(from: Int, until: Int): Double = {
            val js = runJobs.slice(from, until)
            if (from < 0 || js.isEmpty) 0.0
            else (js.map(_.endMs).max - js.map(_.startMs).min) / 1e3
          }
          // (2) the same chain composed layer by layer, as EtlMain.run
          // composes it; each layer's output is cached before the next
          // span starts, so each span holds only its own layer's work
          var loincRows, hierRows, rowsOut = 0L
          var csvPath = ""
          once("layers") { (cfg, ts) =>
            csvPath = cfg.csvOut.get
            spans("etl.layers", "layers") {
              val (loinc, hier) = spans("sources", "layers") {
                val (l, h) = spans("sources.fetch", "layers")(
                  EtlMain.extract(spark, fetcher, cfg))
                spans("sources.parse", "layers") {
                  l.cache(); h.cache()
                  loincRows = l.count(); hierRows = h.count()
                }
                (l, h)
              }
              val out = spans("pipeline.transform", "layers") {
                val o = I2b2Pipeline.build(loinc, hier, I2b2Config(
                  runTimestamp = ts, bugCompatFullname = cfg.bugCompatFullname))
                  .cache()
                rowsOut = o.count()
                o
              }
              try spans("pipeline.load", "layers") {
                val props = new Properties()
                props.setProperty("user", cfg.pgUser)
                props.setProperty("password", cfg.pgPassword)
                LoadOrchestrator.load(out, cfg.jdbcUrl.get, cfg.table, props,
                  ts, cfg.csvOut)
              } finally {
                out.unpersist(); loinc.unpersist(); hier.unpersist()
              }
            }
          }
          org.apache.spark.perfbench.Drain(sc)
          Files.write(work.resolve("spans.json"),
            spans.toJson.getBytes("UTF-8"))
          def dur(n: String) = spans.named(n).map(_.durS).sum
          def tot(p: String => Boolean) = Totals.of(probe.inGroups(p))
          val src = tot(_.startsWith("sources"))
          val parse = tot(_ == "sources.parse")
          val tr = tot(_ == "pipeline.transform")
          val ld = tot(_ == "pipeline.load")
          val root = spans.named("etl.layers").head
          val jdbcS = phaseS(iCount + 1, iJdbc + 1)
          Map(
            "sources.fetch_s" -> dur("sources.fetch"),
            "sources.parse_s" -> dur("sources.parse"),
            "sources.parse_tasks" -> parse.tasks,
            "sources.archive_scans" -> Totals.of(runJobs).archiveScanTasks,
            "sources.rows" -> (loincRows + hierRows),
            "sources.zip_mb" -> (loincZip.length + hierZip.length) / 1e6,
            "sources.cpu_s" -> src.cpuS,
            "pipeline.transform.s" -> dur("pipeline.transform"),
            "pipeline.transform.cpu_s" -> tr.cpuS,
            "pipeline.transform.shuffle_mb" -> tr.shuffleMb,
            "pipeline.transform.spill_mb" -> tr.spillMb,
            "pipeline.transform.gc_s" -> tr.gcS,
            "pipeline.transform.tasks" -> tr.tasks,
            "pipeline.transform.jobs" -> tr.jobs,
            "pipeline.transform.rows_out" -> rowsOut,
            "pipeline.transform.keep_ratio" ->
              (if (loincRows > 0) rowsOut.toDouble / loincRows else 0.0),
            "pipeline.load.s" -> dur("pipeline.load"),
            "pipeline.load.count_job_s" -> phaseS(0, iCount + 1),
            "pipeline.load.jdbc_job_s" -> jdbcS,
            "pipeline.load.csv_job_s" ->
              (if (iJdbc < 0) 0.0 else phaseS(iJdbc + 1, runJobs.size)),
            "pipeline.load.driver_s" ->
              math.max(0.0, dur("pipeline.load") - ld.jobWallS),
            "pipeline.load.jdbc_rows_per_s" ->
              (if (jdbcS > 0) whole.rowsWritten / jdbcS else 0.0),
            "pipeline.load.csv_mb" ->
              (if (Files.exists(Paths.get(csvPath)))
                dirBytes(Paths.get(csvPath)) / 1e6 else 0.0),
            "pipeline.load.cpu_s" -> ld.cpuS,
            "pipeline.load.gc_s" -> ld.gcS,
            "pipeline.load.task_failures" -> ld.failedTasks,
            "trace.run_s" -> whole.wallS,
            "trace.layers_s" -> root.durS,
            "trace.self_s" -> spans.selfS(root),
            "trace.overhead_s" -> (whole.wallS - warmMedian),
            "trace.call_sites" -> runJobs.map(_.callSite).distinct)
        } finally sc.removeSparkListener(probe)
      }

    Json.obj(
      "ops" -> ops.map(o => Json.Raw(Json.obj("kind" -> o.kind, "i" -> o.i,
        "wall_s" -> o.wallS, "rows_written" -> o.rowsWritten,
        "verified" -> o.verified, "csv" -> o.csv, "error" -> o.error))),
      "peak_cache_mb" -> cached, "layers" -> layers)
  }

  // ----------------------------------------------------------- registry

  /** Operator family of a registry query, by its name prefix: `i2b2`
    * takes i2b2_*, f01-f14 and r1-r5; unlisted prefixes fall in `other`.
    */
  def family(q: String): String = {
    val p = q.takeWhile(_ != '_')
    if (q.startsWith("i2b2_") || p.matches("f\\d\\d|r[1-5]")) "i2b2"
    else if (Set("agg", "curate", "dedup", "emb", "ew", "graph", "join",
      "mm", "rel", "sample", "sim", "src", "stats", "text", "tpch",
      "ts")(p)) p
    else "other"
  }

  private def registry(spark: SparkSession, a: Args): String = {
    val dir = Paths.get(a.inputs).toAbsolutePath.toString
    val all = SparkEntry.queries
    val names = RegistryQueries
    val thunks = ExtensionQueries.stageThunks(spark, dir).toMap
    val unknown = names.filterNot(all.contains) ++
      RegistryStages.filterNot(thunks.contains)
    require(unknown.isEmpty, s"unknown queries/stages: $unknown")

    final case class Q(name: String, s: Double, count: Long,
                       error: Option[String])
    final case class Pass(kind: String, wallS: Double, stages: Seq[Q],
                          queries: Seq[Q])
    val passes = ArrayBuffer.empty[Pass]

    def timed(name: String, spans: Option[Spans])(f: => Long): Q = {
      val t0 = System.nanoTime()
      try {
        val n = spans.fold(f)(sp => sp(name, "traced-pass")(f))
        Q(name, (System.nanoTime() - t0) / 1e9, n, None)
      } catch {
        case e: Throwable =>
          Q(name, (System.nanoTime() - t0) / 1e9, -1, Some(errText(e)))
      }
    }

    /** Evict the memoized stages, rebuild the selected ones, then count
      * every selected query once.
      */
    def pass(kind: String, spans: Option[Spans]): Pass = {
      def body(): Pass = {
        val t0 = System.nanoTime()
        ExtensionQueries.evictStages(spark, dir)
        val st = RegistryStages.map(n =>
          timed(s"stage:$n", spans)(thunks(n)().count()))
        val qs = names.map(n => timed(s"query:$n", spans)(all(n)(spark, dir)
          .count()))
        Pass(kind, (System.nanoTime() - t0) / 1e9,
          st.map(q => q.copy(name = q.name.stripPrefix("stage:"))),
          qs.map(q => q.copy(name = q.name.stripPrefix("query:"))))
      }
      val p = spans.fold(body())(sp => sp("registry.pass", "traced-pass")(body()))
      passes += p
      p
    }

    pass("cold", None)
    (1 to WarmupOps(a.workload)).foreach(_ => pass("warmup", None))
    val cached = measured(spark, a.seconds)(pass("warm", None))
    val warmMedian = median(passes.filter(_.kind == "warm").map(_.wallS))

    val layers: Map[String, Any] =
      if (!a.trace) Map.empty
      else {
        val sc = spark.sparkContext
        val probe = new Probe
        val spans = new Spans(sc)
        sc.addSparkListener(probe)
        try {
          val p = pass("traced", Some(spans))
          org.apache.spark.perfbench.Drain(sc)
          Files.write(Paths.get(a.work, "spans.json"),
            spans.toJson.getBytes("UTF-8"))
          val t = Totals.of(probe.all)
          val root = spans.named("registry.pass").head
          val fams = p.queries.groupBy(q => family(q.name)).toSeq.map {
            case (f, qs) => s"queries.family.${f}_s" -> qs.map(_.s).sum }
          val stages = p.stages.map(q => s"queries.stage.${q.name}_s" -> q.s)
          (Seq(
            "queries.stages_s" -> p.stages.map(_.s).sum,
            "queries.cpu_s" -> t.cpuS,
            "queries.cpu_per_wall" -> t.cpuS / p.wallS,
            "queries.shuffle_mb" -> t.shuffleMb,
            "queries.spill_mb" -> t.spillMb,
            "queries.gc_s" -> t.gcS,
            "queries.jobs" -> t.jobs,
            "queries.tasks" -> t.tasks,
            "queries.failed" ->
              (p.stages ++ p.queries).count(_.error.isDefined),
            "trace.run_s" -> p.wallS,
            "trace.layers_s" -> root.durS,
            "trace.self_s" -> spans.selfS(root),
            "trace.overhead_s" -> (p.wallS - warmMedian)) ++
            fams ++ stages).toMap
        } finally sc.removeSparkListener(probe)
      }

    def qj(q: Q) = Json.Raw(Json.obj("name" -> q.name, "s" -> q.s,
      "count" -> q.count, "error" -> q.error))
    Json.obj(
      "passes" -> passes.map(p => Json.Raw(Json.obj("kind" -> p.kind,
        "wall_s" -> p.wallS, "stages" -> p.stages.map(qj),
        "queries" -> p.queries.map(qj)))),
      "peak_cache_mb" -> cached, "layers" -> layers)
  }
}
