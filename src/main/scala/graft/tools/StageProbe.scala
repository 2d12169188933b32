package graft.tools

import org.apache.spark.sql.DataFrame

import graft.queries.ExtensionQueries

/** Ad-hoc STAGE-build probe with task telemetry — the shared-stage
  * twin of [[QProbe]] (which times queries): for any stage of the
  * stage table, prints its raw build's formatted plan once per dir,
  * then fresh-builds it (evict → build → count) per rep, reporting
  * wall, task count, summed task time, max task, GC, and shuffle
  * bytes. Exists to separate WALL artifacts (AQE partition coalescing
  * under-filling threads on small tiers, scheduler/GC weather) from
  * WORK growth when a SF10_SMOKE.md cell looks anomalous — wall
  * moving while summed task time and shuffle bytes hold is idle
  * threads, not extra work.
  *
  * `runMain graft.tools.StageProbe <stage> <reps> <dir1,dir2,...>`
  * (default dirs: the 10× and 100× tiers [[graft.ScaleExponents]]
  * generates, `target/x10,target/x100`). For a stage's run-to-run
  * spread, probe it over one tier with several reps, e.g.
  * `StageProbe shingle_pairs 6 target/x10`. Dev-loop tool only;
  * official figures come from [[graft.Bench]] /
  * [[graft.ScaleExponents]]; the session is Bench's ([[graft.Session]]).
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val stageName = args.lift(0).getOrElse("ivfpq_adc20")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val dirs = args.lift(2).map(_.split(',').toSeq)
      .getOrElse(Seq("target/x10", "target/x100"))
    val spark = graft.Session.local()
    val stats = TaskStats.attach(spark.sparkContext)
    for (dir <- dirs) {
      def lookup(all: Seq[(String, () => DataFrame)]) =
        all.collectFirst { case (`stageName`, b) => b }
          .getOrElse(sys.error(s"no DataFrame stage '$stageName' in " +
            "the stage table (ExtensionSupport.StageTable)"))
      val build = lookup(ExtensionQueries.stageThunks(spark, dir))
      lookup(ExtensionQueries.stageRawFrames(spark, dir))()
        .explain("formatted")
      for (rep <- 1 to reps) {
        ExtensionQueries.evictStage(spark, dir, stageName)
        stats.reset()
        val t0 = System.nanoTime()
        val rows = build().count()
        val wall = (System.nanoTime() - t0) / 1e9
        val st = stats.snapshot
        println(f"[stageprobe] $dir $stageName rep $rep: " +
          f"wall=$wall%.2f s tasks=${st.tasks} sum=${st.sumS}%.1f " +
          f"max=${st.maxS}%.2f gc=${st.gcS}%.1f " +
          f"shufRead=${TaskStats.fmtBytes(st.shufRead)} " +
          f"rows=$rows")
      }
    }
    spark.stop()
  }
}
