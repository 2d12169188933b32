package graft

import java.nio.file.Files

import graft.sources.Tables

/** The scaled tiers that Sf1Smoke and ScaleExponents time: a tier is
  * reused only when it was generated from the same source dir at the
  * same factor.
  */
class ScaleFixturesSpec extends SparkSpec {
  private val fixtures = "/root/testdata"

  test("ensure regenerates a tier made from another source dir") {
    val tier = Files.createTempDirectory("scale_tier").toString
    try {
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
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tier))
    }
  }
}
