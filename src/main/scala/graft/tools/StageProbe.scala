package graft.tools

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

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
  * Dev-loop tool only; official figures come from [[graft.Bench]] /
  * [[graft.ScaleExponents]]. Session config mirrors Bench
  * ([[graft.Bench.cpus]]) for the same reason QProbe's does.
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val stageName = args.lift(0).getOrElse("ivfpq_adc20")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val dirs = args.lift(2).map(_.split(',').toSeq)
      .getOrElse(Seq("target/sf1", "target/sf10"))
    val cpus = graft.Bench.cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val durs = ArrayBuffer.empty[Long]
    var shuf = 0L
    var gcMs = 0L
    val probe = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        synchronized {
          val m = t.taskMetrics
          if (m != null) {
            durs += t.taskInfo.duration
            shuf += m.shuffleReadMetrics.remoteBytesRead +
              m.shuffleReadMetrics.localBytesRead
            gcMs += m.jvmGCTime
          }
        }
    }
    spark.sparkContext.addSparkListener(probe)
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
        Thread.sleep(1000) // drain listener bus before reset
        probe.synchronized { durs.clear(); shuf = 0; gcMs = 0 }
        val t0 = System.nanoTime()
        val rows = build().count()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(1000) // let async task-end events land
        val (n, sum, max) = probe.synchronized {
          (durs.length, durs.sum / 1000.0,
            if (durs.isEmpty) 0.0 else durs.max / 1000.0)
        }
        println(f"[stageprobe] $dir $stageName rep $rep: " +
          f"wall=$wall%.2f s tasks=$n sum=$sum%.1f max=$max%.2f " +
          f"gc=${gcMs / 1000.0}%.1f shufRead=${shuf / (1024.0 * 1024)}%.1f MiB " +
          f"rows=$rows")
      }
    }
    spark.stop()
  }
}
