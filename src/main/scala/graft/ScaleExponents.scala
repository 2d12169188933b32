package graft

import scala.collection.mutable
import scala.util.Try
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.queries.ExtensionQueries
import graft.tools.Probe

/** Scale run (dev tool): times every shared stage and every named
  * query over the source fixtures (1×) and their replica-scaled tiers
  * ([[ScaleFixtures]]), and writes SF10_SMOKE.md with each row's
  * minimum time per tier, the measured growth exponent α per hop, row
  * counts and two plan flags. α ≈ 1 is linear; the plan audits
  * (PlanSpec) argue no stage is super-linear by construction, this
  * run checks it by measurement.
  *
  * `runMain graft.ScaleExponents <srcDir> [reps] [factors] [q1,q2,...]`
  * — `reps` defaults to 2, `factors` to `10,100` (the k× tier is
  * generated into `target/x<k>`), the queries to every
  * [[SparkEntry.queries]] name. Tiers and the record are written
  * relative to the cwd.
  *
  * One untimed pass over the 1× tier (evict, prebuild, each query
  * once) comes first, so JIT warm-up is not charged to the first hop.
  * Each rep then evicts every stage and rebuilds the stage table
  * through `prebuildStages` (fresh builds, never a memo hit), then
  * times each query over the built stages with [[Probe.timeQuery]]
  * and takes its plan flags from [[Probe.census]]. A query that fails
  * records its error class in its row and the run goes on.
  */
object ScaleExponents {

  /** One row at one tier: the minimum seconds over the reps, the row
    * count, the plan flags and the error class of a failed rep.
    */
  private final case class Cell(secs: Double = Double.PositiveInfinity,
                                rows: Option[Long] = None,
                                flags: Seq[String] = Nil,
                                error: Option[String] = None) {
    def ok: Boolean = error.isEmpty && !secs.isInfinite
    def time: String = error.getOrElse(if (ok) f"$secs%.2f" else "—")
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(2)
    val factors = args.lift(2).map(_.split(',').toSeq.map(_.toInt))
      .getOrElse(Seq(10, 100))
    val names = args.lift(3).map(_.split(',').toSeq)
      .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    val spark = Session.local()
    try run(spark, srcDir, reps, factors, names, ".")
    finally spark.stop()
  }

  /** The scale run, with the tiers and `SF10_SMOKE.md` under `root`. */
  def run(spark: SparkSession, srcDir: String, reps: Int,
          factors: Seq[Int], names: Seq[String], root: String): Unit = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"no such queries: ${unknown.mkString(",")}")
    val tiers = (1, srcDir) +: factors.map { f =>
      val dir = s"$root/target/x$f"
      ScaleFixtures.ensure(spark, srcDir, dir, f)
      (f, dir)
    }
    // cells(row)(factor)
    val cells = mutable.LinkedHashMap.empty[String, mutable.Map[Int, Cell]]
    def update(row: String, f: Int)(g: Cell => Cell): Cell = {
      val byTier = cells.getOrElseUpdate(row, mutable.Map.empty)
      val c = g(byTier.getOrElse(f, Cell()))
      byTier(f) = c
      c
    }
    ExtensionQueries.evictStages(spark, srcDir)
    ExtensionQueries.prebuildStages(spark, srcDir)
    names.foreach(n => Try(Probe.timeQuery(spark, srcDir, n)))
    for ((f, dir) <- tiers; rep <- 1 to reps) {
      ExtensionQueries.evictStages(spark, dir)
      for ((name, secs) <- ExtensionQueries.prebuildStages(spark, dir)) {
        update(s"stage $name", f)(c => c.copy(secs = c.secs min secs))
        println(f"[scale] ${f}x rep $rep stage $name: $secs%.2f s")
      }
      // row counts read the memo the prebuild just filled
      if (rep == reps)
        for ((name, memo) <- ExtensionQueries.stageThunks(spark, dir))
          update(s"stage $name", f)(_.copy(rows = Some(memo().count())))
      for (name <- names) {
        val c = update(name, f) { c =>
          try {
            val (df, secs, rows) = Probe.timeQuery(spark, dir, name)
            val census = Probe.census(df)
            c.copy(secs = c.secs min secs, rows = Some(rows),
              flags = Seq("CartesianProduct" -> (census.cart > 0),
                "global-window" -> census.globalWindow)
                .collect { case (flag, true) => flag })
          } catch {
            case NonFatal(e) => c.copy(error = Some(e.getClass.getSimpleName))
          }
        }
        println(s"[scale] ${f}x rep $rep $name: best ${c.time}")
      }
    }

    val fs = tiers.map(_._1)
    val hops = fs.zip(fs.drop(1))
    val sb = new StringBuilder
    sb ++= s"# Scale exponents (${fs.map(f => s"${f}x").mkString(" -> ")})\n\n"
    sb ++= s"Replica-scaled tiers of `$srcDir` (`graft.ScaleFixtures`): " +
      tiers.map { case (f, d) => s"${f}x = ${ScaleFixtures.sizes(spark, d)}" }
        .mkString(", ") +
      s". ${spark.sparkContext.master}, min of $reps reps after one " +
      "untimed pass over the 1x tier; each rep " +
      "evicts and rebuilds every stage (`prebuildStages`), then runs each " +
      "query through `toRdd.count()` over the built stages, " +
      s"${java.time.LocalDate.now()}. alpha = log(t_next / t_prev) / " +
      "log(data ratio) per hop: 1.0 is linear, <1 sub-linear (fixed " +
      "overheads amortizing), >1 super-linear. Plan flags: " +
      "`CartesianProduct` in the executed plan, `global-window` = a " +
      "Window with no partition spec in the optimized plan.\n\n"
    val cols = fs.map(f => s"${f}x s") ++
      hops.map { case (a, b) => s"a($a->$b)" } ++
      fs.map(f => s"rows ${f}x") :+ "plan flags"
    sb ++= cols.mkString("| stage/query | ", " | ", " |\n")
    sb ++= Seq.fill(cols.size + 1)("---").mkString("|", "|", "|\n")
    for ((row, byTier) <- cells) {
      val at = fs.map(f => byTier.getOrElse(f, Cell()))
      val alphas = at.zip(at.drop(1)).zip(hops).map {
        case ((a, b), (fa, fb)) if a.ok && b.ok && a.secs > 0 =>
          f"${math.log(b.secs / a.secs) / math.log(fb.toDouble / fa)}%.2f"
        case _ => "—"
      }
      val rows = at.map(_.rows.fold("—")(_.toString))
      val flags = at.flatMap(_.flags).distinct.mkString(",")
      sb ++= (at.map(_.time) ++ alphas ++ rows :+ flags)
        .mkString(s"| `$row` | ", " | ", " |\n")
    }
    ScaleFixtures.writeRecord(s"$root/SF10_SMOKE.md", sb.toString)
    println(s"[scale] wrote $root/SF10_SMOKE.md")
  }
}
