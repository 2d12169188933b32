package graft.tools

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
import org.apache.spark.sql.execution.SimpleMode

import graft.SparkEntry
import graft.queries.ExtensionQueries

/** The dev probe: explains, censuses and times registry queries and
  * shared stages over one or more fixture dirs.
  *
  * `runMain graft.tools.Probe <dir[,dir2,...]> [reps=0] [name,...]`
  *
  * A name is a registry query ([[SparkEntry.queries]]) or
  * `stage:<name>`, a DataFrame stage of the stage table
  * (`ExtensionSupport.StageTable`); no names means every query and
  * every DataFrame stage. Unknown names are refused before any Spark
  * job runs. Per dir and name it prints the formatted plan once (a
  * stage's raw build, since a memo explains as its checkpoint scan),
  * one census line ([[census]]), then one line per rep with wall time,
  * rows and [[TaskStats]] figures: a query rep is [[timeQuery]], a
  * stage rep evicts the stage and counts its memo (a fresh build).
  * Each dir ends with the census totals.
  *
  * Wall moving while summed task time and shuffle bytes hold is idle
  * threads (AQE coalescing, scheduler or GC weather), not extra work.
  * Dev-loop tool only; official figures come from [[graft.Bench]] and
  * [[graft.ScaleExponents]], whose session ([[graft.Session]]) and,
  * for the scale run, census and query timer this probe shares.
  */
object Probe {

  /** Plan-node counts of one plan: exchanges, SortAggregate,
    * ObjectHashAggregate, BroadcastNestedLoopJoin, CartesianProduct,
    * Generate, SortMergeJoin, the plan's operator total, and whether
    * the optimized plan has a Window with no partition spec (one task
    * ranks the whole input).
    */
  final case class Census(ex: Int, sa: Int, oha: Int, bnl: Int, cart: Int,
                          gen: Int, smj: Int, tot: Int,
                          globalWindow: Boolean) {
    override def toString: String =
      s"ex=$ex sa=$sa oha=$oha bnl=$bnl cart=$cart gen=$gen smj=$smj " +
        s"tot=$tot global-window=$globalWindow"
  }

  /** The census of `df`'s current plan. */
  def census(df: DataFrame): Census = {
    val qe = df.queryExecution
    // count over the explained tree text: the executed plan is an
    // AdaptiveSparkPlanExec whose inner plan is not reachable via
    // foreach, but explain prints it in full
    val lines = qe.explainString(SimpleMode).linesIterator.toSeq
    def cnt(s: String) = lines.count(_.contains(s))
    Census(
      ex = Seq("hashpartitioning", "rangepartitioning",
        "RoundRobinPartitioning", "SinglePartition")
        .map(p => cnt(s"Exchange $p")).sum,
      sa = cnt("SortAggregate"), oha = cnt("ObjectHashAggregate"),
      bnl = cnt("BroadcastNestedLoopJoin"), cart = cnt("CartesianProduct"),
      gen = cnt("Generate"), smj = cnt("SortMergeJoin"), tot = lines.size,
      globalWindow = qe.optimizedPlan.collectFirst {
        case w: LWindow if w.partitionSpec.isEmpty => w }.isDefined)
  }

  /** Builds query `name` over `dir` afresh and runs it through
    * `queryExecution.toRdd.count()`: (the frame, seconds, rows). Not
    * `df.count()`: that plans a new Aggregate in which Catalyst drops
    * row-preserving joins (graph_pagerank's rank joins vanish), so it
    * under-times such queries.
    */
  def timeQuery(spark: SparkSession, dir: String,
                name: String): (DataFrame, Double, Long) = {
    val t0 = System.nanoTime()
    val df = SparkEntry.queries(name)(spark, dir)
    val rows = df.queryExecution.toRdd.count()
    (df, (System.nanoTime() - t0) / 1e9, rows)
  }

  private val StagePrefix = "stage:"

  /** `names`, or every query and DataFrame stage when empty; refuses
    * an unknown name before anything runs.
    */
  private def resolve(spark: SparkSession,
                      names: Seq[String]): Seq[String] = {
    val stages =
      ExtensionQueries.stageThunks(spark, "").map(StagePrefix + _._1)
    val all = if (names.nonEmpty) names
      else SparkEntry.queries.keys.toSeq.sorted ++ stages
    val unknown = all.filterNot(n =>
      SparkEntry.queries.contains(n) || stages.contains(n))
    require(unknown.isEmpty,
      s"no such query or stage: ${unknown.mkString(",")}")
    all
  }

  /** The frame `name` explains over `dir`, and one timed rep of it:
    * (seconds, rows).
    */
  private[graft] def target(spark: SparkSession, dir: String, name: String)
      : (() => DataFrame, () => (Double, Long)) =
    if (name.startsWith(StagePrefix)) {
      val stage = name.stripPrefix(StagePrefix)
      def lookup(all: Seq[(String, () => DataFrame)]) =
        all.collectFirst { case (`stage`, f) => f }.get
      val memo = lookup(ExtensionQueries.stageThunks(spark, dir))
      (lookup(ExtensionQueries.stageRawFrames(spark, dir)), { () =>
        ExtensionQueries.evictStage(spark, dir, stage)
        val t0 = System.nanoTime()
        val rows = memo().count()
        ((System.nanoTime() - t0) / 1e9, rows)
      })
    } else {
      (() => SparkEntry.queries(name)(spark, dir), { () =>
        val (_, secs, rows) = timeQuery(spark, dir, name)
        (secs, rows)
      })
    }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: Probe <dir[,dir2,...]> [reps=0] [name,...]")
    val spark = graft.Session.local()
    try run(spark, args(0).split(',').toSeq, args.lift(1).fold(0)(_.toInt),
      args.lift(2).fold(Seq.empty[String])(_.split(',').toSeq))
    finally spark.stop()
  }

  /** The probe over `dirs`, printing to stdout. */
  def run(spark: SparkSession, dirs: Seq[String], reps: Int,
          names: Seq[String]): Unit = {
    val labels = resolve(spark, names)
    val stats = TaskStats.attach(spark.sparkContext)
    try for (dir <- dirs) {
      val censuses = labels.flatMap { name =>
        try {
          val (plan, rep) = target(spark, dir, name)
          val df = plan()
          df.explain("formatted")
          val c = census(df)
          println(s"[probe] $dir $name census: $c")
          for (i <- 1 to reps) {
            stats.reset()
            val (wall, rows) = rep()
            val st = stats.snapshot
            println(f"[probe] $dir $name rep $i: wall=$wall%.3f s " +
              f"rows=$rows tasks=${st.tasks} sum=${st.sumS}%.1f " +
              f"max=${st.maxS}%.2f p50=${st.p50S}%.2f gc=${st.gcS}%.1f " +
              s"shufRead=${TaskStats.fmtBytes(st.shufRead)} " +
              s"shufWrite=${TaskStats.fmtBytes(st.shufWrite)}")
          }
          Some(name -> c)
        } catch {
          case NonFatal(e) =>
            println(s"[probe] $dir $name FAILED: ${e.toString.take(120)}")
            None
        }
      }
      val cs = censuses.map(_._2)
      val nStages = censuses.count(_._1.startsWith(StagePrefix))
      println(s"[probe] $dir TOTALS ex=${cs.map(_.ex).sum} " +
        s"sortagg=${cs.map(_.sa).sum} objhashagg=${cs.map(_.oha).sum} " +
        s"bnlj=${cs.map(_.bnl).sum} cartesian=${cs.map(_.cart).sum} " +
        s"queries=${cs.size - nStages} stages=$nStages")
    } finally spark.sparkContext.removeSparkListener(stats)
  }
}
