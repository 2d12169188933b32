package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.queries.ExtensionQueries
import graft.sources.Tables

/** The scaled tiers and the record that ScaleExponents writes: a tier
  * is reused only when it was generated from the same source dir at
  * the same factor, and a re-run replaces the record's generated body
  * but keeps its hand-written analysis.
  */
class ScaleFixturesSpec extends SparkSpec {
  private val fixtures = "/root/testdata"

  private def withTempDir(prefix: String)(body: Path => Unit): Unit = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("ensure regenerates a tier made from another source dir") {
    withTempDir("scale_tier") { dir =>
      val tier = dir.toString
      // both fixture scales hold 500 documents; lineitem tells the
      // two tiers apart
      def rows(dir: String): Seq[Long] = Seq("documents", "lineitem")
        .map(Tables.load(spark, dir, _).count())
      val small = s"$fixtures/sf0.001"
      val large = s"$fixtures/sf0.01"
      assert(rows(large)(1) > rows(small)(1))
      ScaleFixtures.ensure(spark, small, tier, 2)
      assert(rows(tier) === rows(small).map(2 * _))
      ScaleFixtures.ensure(spark, large, tier, 2)
      assert(rows(tier) === rows(large).map(2 * _))
    }
  }

  test("writeRecord replaces the body and keeps the manual analysis") {
    withTempDir("scale_record") { dir =>
      val path = dir.resolve("RECORD.md")
      def text = new String(Files.readAllBytes(path), "UTF-8")
      ScaleFixtures.writeRecord(path.toString, "# first run")
      assert(text === "# first run\n<!-- MANUAL ANALYSIS -->\n")
      Files.write(path, (text + "hand-written\n").getBytes("UTF-8"))
      ScaleFixtures.writeRecord(path.toString, "# second run")
      assert(text ===
        "# second run\n<!-- MANUAL ANALYSIS -->\nhand-written\n")
    }
  }

  test("the scale run writes one record with a row per DataFrame " +
      "stage and per query, and a column per tier") {
    withTempDir("scale_run") { root =>
      val names = Seq("graph_pagerank", "ts_resample_locf")
      try ScaleExponents.run(spark, s"$fixtures/sf0.001", reps = 1,
        factors = Seq(2), names, root.toString)
      finally ExtensionQueries.evictStages(spark, s"$root/target/x2")
      assert(Files.list(root).iterator().asScala
        .filter(_.toString.endsWith(".md")).map(_.getFileName.toString)
        .toSeq === Seq("SF10_SMOKE.md"))
      val lines = Files.readAllLines(root.resolve("SF10_SMOKE.md"))
        .asScala.toSeq
      assert(lines.exists(_.startsWith("| stage/query | 1x s | 2x s |")))
      val rows = lines.collect {
        case l if l.startsWith("| `") =>
          l.split('|').map(_.trim).toSeq match {
            case Seq(_, label, t1, t2, _*) =>
              label.stripPrefix("`").stripSuffix("`") -> Seq(t1, t2)
          }
      }.toMap
      val stages = ExtensionQueries.stageThunks(spark, "unused")
        .map { case (n, _) => s"stage $n" }
      for (row <- stages ++ names) assert(rows.contains(row), row)
      // both queries ran at both tiers: a time, not an error class
      for (q <- names; t <- rows(q))
        assert(t.matches("[0-9]+\\.[0-9]{2}"), s"$q: $t")
    }
  }
}
