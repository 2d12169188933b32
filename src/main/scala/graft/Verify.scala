package graft
import graft.sources.Staging
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // dev convenience: trailing args subset the queries to re-dump
    val only = args.drop(2).toSet
    // Staged format fixtures wiped, same as Bench: an oracle run must
    // compute every input from the parquet files — never read one a
    // previous run left behind. A subsetted dev re-dump may
    // legitimately reuse staged fixtures, so it skips the wipe.
    if (only.isEmpty) Bench.prepareSelfContainedRun()
    // Bench's session, so the oracle dump runs at the parallelism the
    // timings do
    val spark = Session.local()
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
        Staging.deleteTree(new java.io.File(s"$outDir/$name"))
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
    // every control char escaped: a tab or CR in an oracle's SQL would
    // otherwise fail the compare's JSON parse and silently zero the
    // correctness check
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
