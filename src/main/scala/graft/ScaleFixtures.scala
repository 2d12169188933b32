package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Replica-based fixture scaling for the tiers [[ScaleExponents]]
  * times (10× and 100× by default): replica k of a document carries
  * doc_id + k·10_000_000 and a replica-salted text prefix for k > 0,
  * so exact/near-dup structure is preserved (replica 0 is the
  * original corpus; salted replicas are near- but not exact dups of
  * it — the dedup families keep non-trivial work). Embeddings keep
  * their vectors with offset ids — exact-duplicate vectors across
  * replicas, the worst case for ANN candidate generation.
  *
  * Relational/event tables scale by disjoint key-offset replicas:
  * every id space (orders, customers, suppliers, parts, users,
  * events) shifts by k·offset, so each replica is a disjoint
  * subgraph — the graph and time-series operators see k× nodes,
  * edges and series, with per-key density unchanged (the scaling a
  * real corpus-growth exhibits; a key-collapsing scale-up would
  * instead densify hot keys k×). Ids are cast to LONG before the
  * offset so a 100× tier (k ≤ 99, offsets to 9.9·10⁹) cannot
  * overflow an int-typed source column.
  */
object ScaleFixtures {

  /** Writes a scaled-run record (SF10_SMOKE.md): the
    * generated `body`, then the earlier record's text from the
    * `<!-- MANUAL ANALYSIS -->` marker on — the generator owns only the
    * header and tables, so a re-run never clobbers the hand-written
    * cross-run analysis.
    */
  def writeRecord(path: String, body: String): Unit = {
    val marker = "<!-- MANUAL ANALYSIS -->"
    val p = Paths.get(path)
    val manual =
      if (Files.exists(p)) {
        val prev = new String(Files.readAllBytes(p), "UTF-8")
        val i = prev.indexOf(marker)
        if (i >= 0) prev.substring(i) else s"$marker\n"
      } else s"$marker\n"
    Files.write(p, (body + "\n" + manual).getBytes("UTF-8"))
  }

  /** A tier's size for a record header, counted rather than assumed
    * (the tiers scale whatever source dir they were generated from):
    * `"<n> documents / <n> embeddings / <n> lineitem"`.
    */
  def sizes(spark: SparkSession, dir: String): String =
    Seq("documents", "embeddings", "lineitem").map { t =>
      s"${graft.sources.Tables.load(spark, dir, t).count()} $t"
    }.mkString(" / ")

  /** Generate the scaled tier into `outDir` unless it already holds
    * this call's tier. The tier records its origin in `_SOURCE` (the
    * source dir's absolute path and the factor), written LAST: a tier
    * whose `_SOURCE` is missing (a crash mid-generation, or a tier of
    * unknown origin) or names another source or factor is regenerated,
    * every table rewritten, so a `target/x10` made from sf0.001 is
    * never served to an sf0.01 run.
    */
  def ensure(spark: SparkSession, srcDir: String, outDir: String,
             factor: Int): Unit = {
    val stamp = Paths.get(outDir, "_SOURCE")
    val origin =
      s"${Paths.get(srcDir).toAbsolutePath.normalize}\nfactor=$factor\n"
    if (Files.exists(stamp) &&
        new String(Files.readAllBytes(stamp), "UTF-8") == origin) return
    println(s"[scale] generating ${factor}x $srcDir into $outDir ...")
    Files.deleteIfExists(stamp)
    val reps = spark.range(factor).select(col("id").as("__k"))

    val docs = graft.sources.Tables.load(spark, srcDir, "documents")
    docs.crossJoin(reps)
      .select(
        (col("doc_id").cast("long") + col("__k") * 10000000L)
          .as("doc_id"),
        when(col("__k") === 0, col("text"))
          .otherwise(concat(lit("r"), col("__k").cast("string"),
            lit("salt "), col("text"))).as("text"),
        col("lang"), col("source"),
        (col("n_chars") + when(col("__k") === 0, 0).otherwise(7))
          .as("n_chars"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    val emb = graft.sources.Tables.load(spark, srcDir, "embeddings")
    emb.crossJoin(reps)
      .select((col("vec_id").cast("long") + col("__k") * 10000000L)
          .as("vec_id"),
        col("embedding"), col("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    def scaled(name: String, idCols: Map[String, Long]): Unit = {
      val src = graft.sources.Tables.load(spark, srcDir, name)
      src.crossJoin(reps)
        .select(src.columns.map { c =>
          idCols.get(c)
            .map(off =>
              (col(c).cast("long") + col("__k") * off).as(c))
            .getOrElse(col(c))
        }.toSeq: _*)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    }
    scaled("orders", Map("o_orderkey" -> 100000000L,
      "o_custkey" -> 10000000L))
    scaled("lineitem", Map("l_orderkey" -> 100000000L,
      "l_partkey" -> 10000000L, "l_suppkey" -> 10000000L))
    scaled("customer", Map("c_custkey" -> 10000000L))
    scaled("supplier", Map("s_suppkey" -> 10000000L))
    scaled("events", Map("event_id" -> 100000000L,
      "user_id" -> 10000000L))

    // the i2b2 spine and the TPC-H nation joins read the remaining
    // tables: part replicates with offset keys; nation and region are
    // FIXED-cardinality dims (25 / 5 rows at every TPC-H scale
    // factor) and copy verbatim
    val part = graft.sources.Tables.load(spark, srcDir, "part")
    part.crossJoin(reps)
      .select(part.columns.map { c =>
        if (c == "p_partkey")
          (col(c).cast("long") + col("__k") * 10000000L).as(c)
        else col(c)
      }.toSeq: _*)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/part.parquet")
    for (dim <- Seq("nation", "region"))
      graft.sources.Tables.load(spark, srcDir, dim)
        .write.mode("overwrite").parquet(s"$outDir/$dim.parquet")
    Files.write(stamp, origin.getBytes("UTF-8"))
  }
}
