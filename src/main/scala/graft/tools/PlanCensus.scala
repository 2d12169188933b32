package graft.tools

/** Registry-wide physical-plan census (round 19 dev tool): for every
  * declared query and every shared stage (listed as `stage:<name>`),
  * print the count of Exchange / SortAggregate / ObjectHashAggregate /
  * BroadcastNestedLoopJoin / CartesianProduct / Generate nodes plus
  * the plan's operator total, sorted by exchange count. A quick map
  * of where plan depth (the local scheduling floor AND the at-scale
  * shuffle count) actually lives — the optimization guide's "count
  * the Exchanges you did not expect" (§2.4) applied to the whole
  * surface at once. The optional prefix filters query and stage names
  * alike (on the bare name, without `stage:`).
  *
  * `runMain graft.tools.PlanCensus <sfDir> [prefix]`
  */
object PlanCensus {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.01")
    val prefix = args.lift(1).getOrElse("")
    val spark = graft.Session.local()
    val queries = graft.SparkEntry.queries.toSeq
      .filter(_._1.startsWith(prefix))
      .map { case (name, fn) => name -> (() => fn(spark, sfDir)) }
    val stages = graft.queries.ExtensionQueries.stageRawFrames(spark, sfDir)
      .filter(_._1.startsWith(prefix))
      .map { case (name, raw) => s"stage:$name" -> raw }
    val rows = (queries ++ stages)
      .sortBy(_._1)
      .flatMap { case (name, frame) =>
        try {
          // count over the FORMATTED tree text: the executed plan is
          // an AdaptiveSparkPlanExec whose inner plan is not reachable
          // via foreach, but explain prints it in full
          val txt = frame().queryExecution
            .explainString(org.apache.spark.sql.execution.SimpleMode)
          val lines = txt.linesIterator.toSeq
          def cnt(s: String) = lines.count(_.contains(s))
          val ex = cnt("Exchange hashpartitioning") +
            cnt("Exchange rangepartitioning") +
            cnt("Exchange RoundRobinPartitioning") +
            cnt("Exchange SinglePartition")
          Some((name, ex, cnt("SortAggregate"), cnt("ObjectHashAggregate"),
            cnt("BroadcastNestedLoopJoin"), cnt("CartesianProduct"),
            cnt("Generate"), cnt("SortMergeJoin"), lines.size))
        } catch {
          case e: Exception =>
            println(s"[census] $name FAILED: ${e.getMessage.take(80)}")
            None
        }
      }
    println(f"[census] ${"name"}%-28s ex sa oha bnl cart gen smj tot")
    rows.sortBy(r => (-r._2, -r._9)).foreach { r =>
      println(f"[census] ${r._1}%-28s ${r._2}%2d ${r._3}%2d ${r._4}%3d " +
        f"${r._5}%3d ${r._6}%4d ${r._7}%3d ${r._8}%3d ${r._9}%3d")
    }
    val totals = rows.map(r => (r._2, r._3, r._4, r._5, r._6)).fold(
      (0, 0, 0, 0, 0)) { case ((a1, a2, a3, a4, a5), (b1, b2, b3, b4, b5)) =>
      (a1 + b1, a2 + b2, a3 + b3, a4 + b4, a5 + b5)
    }
    val nStages = rows.count(_._1.startsWith("stage:"))
    println(s"[census] TOTALS ex=${totals._1} sortagg=${totals._2} " +
      s"objhashagg=${totals._3} bnlj=${totals._4} cartesian=${totals._5} " +
      s"queries=${rows.size - nStages} stages=$nStages")
    spark.stop()
  }
}
