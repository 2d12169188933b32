package graft

import com.fasterxml.jackson.databind.ObjectMapper

import graft.tools.TaskStats

/** The shared session factory, the probes' task listener and the one
  * JSON string escaper.
  */
class SessionSpec extends SparkSpec {

  test("Session.local(\"4\"): the spec session is local[4], 4 shuffle " +
    "partitions, UTC") {
    assert(spark.sparkContext.master === "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
  }

  test("TaskStats: one record per finished task after a drain, none " +
    "after a reset") {
    val stats = TaskStats.attach(spark.sparkContext)
    try {
      stats.reset()
      assert(spark.sparkContext.parallelize(1 to 100, 7).count() === 100)
      assert(stats.snapshot.tasks === 7)
      stats.reset()
      assert(stats.snapshot.tasks === 0)
    } finally spark.sparkContext.removeSparkListener(stats)
  }

  test("Json.str escapes U+0000-U+007F, quote and backslash; Jackson " +
    "reads the input back") {
    val all = (0 to 0x7f).map(_.toChar).mkString
    val cases = Seq(all, "\"", "\\", "a\"b\\c\td\ne\u0000", "", "plain")
    val mapper = new ObjectMapper()
    for (s <- cases) {
      val lit = Json.str(s)
      assert(!lit.exists(_ < ' '), s"raw control char in $lit")
      assert(mapper.readValue(lit, classOf[String]) === s)
    }
  }
}
