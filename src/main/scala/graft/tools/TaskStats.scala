package graft.tools

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.graft.ListenerDrain

/** Task telemetry of [[Probe]]'s reps, collected off
  * SparkListenerTaskEnd: per-task run time, GC and shuffle bytes of
  * every task that ends on `sc` while attached. The probe's rep line
  * prints every [[TaskStats.Snapshot]] field. `reset` and `snapshot`
  * first drain the listener bus, so no task of an earlier job lands
  * after a reset and every task of a finished job is counted.
  */
final class TaskStats private (sc: SparkContext) extends SparkListener {
  private val durs = ArrayBuffer.empty[Long] // ms
  private var shufRead = 0L
  private var shufWrite = 0L
  private var gcMs = 0L

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    synchronized {
      val m = t.taskMetrics
      if (m != null) {
        durs += t.taskInfo.duration
        shufRead += m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead
        shufWrite += m.shuffleWriteMetrics.bytesWritten
        gcMs += m.jvmGCTime
      }
    }

  def reset(): Unit = {
    ListenerDrain(sc)
    synchronized { durs.clear(); shufRead = 0; shufWrite = 0; gcMs = 0 }
  }

  def snapshot: TaskStats.Snapshot = {
    ListenerDrain(sc)
    synchronized {
      val d = durs.toArray.sorted
      TaskStats.Snapshot(
        tasks = d.length,
        sumS = d.map(_.toDouble).sum / 1000.0,
        maxS = if (d.isEmpty) 0.0 else d.last / 1000.0,
        p50S = if (d.isEmpty) 0.0 else d(d.length / 2) / 1000.0,
        gcS = gcMs / 1000.0,
        shufRead = shufRead,
        shufWrite = shufWrite)
    }
  }
}

object TaskStats {
  /** Times in seconds, shuffle figures in bytes. */
  final case class Snapshot(tasks: Int, sumS: Double, maxS: Double,
    p50S: Double, gcS: Double, shufRead: Long, shufWrite: Long)

  def attach(sc: SparkContext): TaskStats = {
    val stats = new TaskStats(sc)
    sc.addSparkListener(stats)
    stats
  }

  def fmtBytes(b: Long): String =
    if (b >= (1L << 30)) f"${b / (1024.0 * 1024 * 1024)}%.2f GiB"
    else f"${b / (1024.0 * 1024)}%.1f MiB"
}
