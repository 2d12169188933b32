package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** Counters of one Spark job, summed over its tasks. */
final class JobStats(val jobId: Int, val group: String,
                     val callSite: String, val startMs: Long) {
  @volatile var endMs: Long = -1L
  var tasks = 0L
  var failedTasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var archiveScanTasks = 0L

  def wallS: Double = if (endMs < 0) 0.0 else (endMs - startMs) / 1e3
}

/** Sums of [[JobStats]] over a set of jobs. */
final case class Totals(jobs: Int, tasks: Long, failedTasks: Long,
                        cpuS: Double, gcS: Double,
                        shuffleMb: Double, spillMb: Double,
                        jobWallS: Double, archiveScanTasks: Long)

object Totals {
  def of(js: Iterable[JobStats]): Totals = {
    val s = js.toSeq
    Totals(s.size, s.map(_.tasks).sum, s.map(_.failedTasks).sum,
      s.map(_.cpuNs).sum / 1e9, s.map(_.gcMs).sum / 1e3,
      s.map(j => j.shuffleReadBytes + j.shuffleWriteBytes).sum / 1e6,
      s.map(_.spillBytes).sum / 1e6, s.map(_.wallS).sum,
      s.map(_.archiveScanTasks).sum)
  }
}

/** The benchmark's own listener: per-job task counters keyed by the
  * job group the harness sets around each call, and by the call site
  * of the job's result stage ("count at LoadOrchestrator.scala:188").
  * Attached only for traced runs.
  */
final class Probe extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobStats]()
  private val stageToJob = new ConcurrentHashMap[Int, JobStats]()
  private val archiveStages = ConcurrentHashMap.newKeySet[Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty(
      "spark.jobGroup.id"))).getOrElse("")
    val last = e.stageInfos.maxByOption(_.stageId)
    val js = new JobStats(e.jobId, group, last.fold("")(_.name), e.time)
    jobs.put(e.jobId, js)
    e.stageInfos.foreach { si =>
      stageToJob.put(si.stageId, js)
      // a stage that scans the landed zips: its RDD scope names the
      // binaryFile source
      if (si.rddInfos.exists(r => r.name.contains("binaryFile") ||
          r.scope.exists(_.name.contains("binaryFile"))))
        archiveStages.add(si.stageId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val js = stageToJob.get(e.stageId)
    if (js != null) js.synchronized {
      js.tasks += 1
      if (e.reason != Success) js.failedTasks += 1
      if (archiveStages.contains(e.stageId)) js.archiveScanTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        js.cpuNs += m.executorCpuTime
        js.gcMs += m.jvmGCTime
        js.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        js.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        js.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def all: Seq[JobStats] = jobs.values.asScala.toSeq.sortBy(_.jobId)
  def inGroup(g: String): Seq[JobStats] = all.filter(_.group == g)
  def inGroups(p: String => Boolean): Seq[JobStats] = all.filter(j => p(j.group))
}

/** One traced interval. `parent` is the enclosing span's id (-1 at a
  * root); spans of one run share `run`.
  */
final case class Span(id: Int, name: String, parent: Int, run: String,
                      startNs: Long, endNs: Long) {
  def durS: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans nest through a stack; each span also
  * sets the Spark job group to its name, so the [[Probe]] can key the
  * span's jobs by it.
  */
final class Spans(sc: SparkContext) {
  private val done = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String)]
  private var nextId = 0

  def apply[A](name: String, run: String)(f: => A): A = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    stack = (id, name) :: stack
    sc.setJobGroup(name, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      done += Span(id, name, parent, run, t0, t1)
      stack = stack.tail
      stack.headOption match {
        case Some((_, up)) => sc.setJobGroup(up, up, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def all: Seq[Span] = done.toSeq.sortBy(_.id)
  def named(n: String): Seq[Span] = all.filter(_.name == n)

  /** Duration minus the part of it the span's children cover. */
  def selfS(s: Span): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.startNs, k.endNs))
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) covered += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    (s.endNs - s.startNs - covered) / 1e9
  }

  def toJson: String = all.map { s =>
    Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "run" -> s.run, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "dur_s" -> s.durS, "self_s" -> selfS(s))
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Peak memory of the Spark blocks (`cache()`, `persist()`) each
  * operation caches, from the listener bus. A block belongs to the
  * operation that created its RDD: RDD ids only grow, so operation k
  * owns the ids from its [[startOp]] on, and blocks an earlier
  * operation left cached do not count against it. A block update adds
  * a block's size when it is stored; an unpersisted RDD's blocks are
  * dropped without one, so its unpersist event takes them off.
  */
final class CachePeak(sc: SparkContext) extends SparkListener {
  private val firstRdd = scala.collection.mutable.ArrayBuffer.empty[Int]
  private val sizes = scala.collection.mutable.Map.empty[(Int, Int), Long]
  private val current = scala.collection.mutable.Map.empty[Int, Long]
  private val peaks = scala.collection.mutable.Map.empty[Int, Long]

  /** Called on the driver before each operation starts. */
  def startOp(): Unit = {
    val id = org.apache.spark.perfbench.NextRddId(sc)
    synchronized(firstRdd += id)
  }

  private def opOf(rdd: Int): Int = firstRdd.lastIndexWhere(_ <= rdd)

  private def add(op: Int, bytes: Long): Unit = {
    val cur = current.getOrElse(op, 0L) + bytes
    current(op) = cur
    peaks(op) = math.max(peaks.getOrElse(op, 0L), cur)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val b = e.blockUpdatedInfo
      b.blockId match {
        case RDDBlockId(rdd, split) if opOf(rdd) >= 0 =>
          val now = if (b.storageLevel.isValid) b.memSize else 0L
          add(opOf(rdd), now - sizes.getOrElse((rdd, split), 0L))
          sizes((rdd, split)) = now
        case _ => ()
      }
    }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
    synchronized {
      sizes.keys.filter(_._1 == e.rddId).toSeq.foreach { k =>
        add(opOf(e.rddId), -sizes.remove(k).getOrElse(0L))
      }
    }

  /** Peak MB of each operation, in order. */
  def opPeaksMb: Seq[Double] =
    synchronized(firstRdd.indices.map(peaks.getOrElse(_, 0L) / 1e6).toSeq)
}
