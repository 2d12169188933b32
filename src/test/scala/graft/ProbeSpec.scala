package graft

import java.io.ByteArrayOutputStream
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ListenerDrain

import graft.queries.ExtensionQueries
import graft.tools.Probe

/** The dev probe: its plan census, its query and stage reps, and its
  * refusal of unknown names.
  */
class ProbeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("census: i2b2_pipeline has exactly one SortMergeJoin") {
    // the figure PlanSpec pins, over a freshly built spine
    Seq("i2b2_spine", "i2b2_hier_last").foreach(n =>
      ExtensionQueries.evictStage(spark, dir, n))
    val c = Probe.census(SparkEntry.queries("i2b2_pipeline")(spark, dir))
    assert(c.smj === 1, c)
    assert(c.cart === 0 && c.bnl === 0 && !c.globalWindow, c)
  }

  test("census: only a window with no partition spec is global") {
    val df = spark.range(20).toDF("id")
    def rn(w: org.apache.spark.sql.expressions.WindowSpec) =
      Probe.census(df.withColumn("rn", row_number().over(w)))
    assert(rn(Window.orderBy(col("id"))).globalWindow)
    assert(!rn(Window.partitionBy(col("id") % 2).orderBy(col("id")))
      .globalWindow)
  }

  test("a query rep returns the rows the query produces") {
    val name = "graph_pagerank"
    val (_, rep) = Probe.target(spark, dir, name)
    val (secs, rows) = rep()
    assert(secs > 0)
    assert(rows === SparkEntry.queries(name)(spark, dir).collect().length)
  }

  test("a stage rep rebuilds: the memo returns a new frame") {
    val memo = ExtensionQueries.stageThunks(spark, dir)
      .collectFirst { case ("i2b2_spine", m) => m }.get
    val before = memo()
    val (_, rep) = Probe.target(spark, dir, "stage:i2b2_spine")
    val (_, rows) = rep()
    val after = memo()
    assert(!(after eq before))
    assert(rows === after.count())
  }

  test("a run prints the plan, a census line, one line per rep and " +
      "the totals") {
    val out = new ByteArrayOutputStream()
    Console.withOut(out) {
      Probe.run(spark, Seq(dir), reps = 2,
        Seq("agg_histogram", "stage:events_census"))
    }
    val lines = out.toString("UTF-8").linesIterator.toSeq
    for (name <- Seq("agg_histogram", "stage:events_census")) {
      def count(prefix: String) =
        lines.count(_.startsWith(s"[probe] $dir $name $prefix"))
      assert(count("census: ex=") === 1)
      assert(count("rep ") === 2)
    }
    assert(lines.count(_.startsWith("== Physical Plan ==")) === 2)
    assert(lines.last.startsWith(s"[probe] $dir TOTALS ex="))
    assert(lines.last.endsWith(" queries=1 stages=1"))
  }

  test("an unknown name is refused before any job runs") {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    ListenerDrain(sc)
    sc.addSparkListener(listener)
    try {
      // a side stage is not a DataFrame stage, so not a probe name
      val e = intercept[IllegalArgumentException](
        Probe.run(spark, Seq(dir), reps = 1,
          Seq("agg_histogram", "stage:incr_bloom", "no_such_query")))
      assert(e.getMessage.contains("stage:incr_bloom,no_such_query"))
      ListenerDrain(sc)
      assert(jobs.get === 0)
    } finally sc.removeSparkListener(listener)
  }
}
