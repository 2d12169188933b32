package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // dev convenience: trailing args subset the queries to re-dump
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Staged format fixtures wiped, same as Bench: an oracle run must
    // compute every input from the parquet files — never read one a
    // previous run left behind. A subsetted dev re-dump may
    // legitimately reuse staged fixtures, so it skips the wipe.
    if (only.isEmpty) Bench.prepareSelfContainedRun()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    var failed = List.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // A failed query must become a FAILING case in the driver's
        // compare, never a silently-absent one (round 7 dropped 17
        // cases this way and recorded a regression as a clean pass).
        // Write a marker parquet whose schema can never match the
        // oracle, so the compare runs and records the mismatch.
        failed ::= name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // Delete any STALE prior dump FIRST: if the marker write
        // below also fails (plausibly the same disk/permission root
        // cause), a leftover dump from an earlier run would make the
        // compare pass this failing query against old output — the
        // same regression-as-clean-pass trap, one level deeper.
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
        }
        try rm(new java.io.File(s"$outDir/$name"))
        catch { case _: Throwable => () }
        try {
          import spark.implicits._
          Seq(s"${e.getClass.getSimpleName}: ${Option(e.getMessage)
            .getOrElse("").take(500)}").toDF("__query_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case _: Throwable => () }
      }
    }
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} FAILED: ${
        failed.sorted.mkString(", ")}")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
