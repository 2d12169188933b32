package graft.tools

/** Ad-hoc single-query probe: explain + time named queries at a given
  * sf dir. `runMain graft.tools.QProbe <sfDir> <reps> <q1,q2>` —
  * prints each query's formatted plan once, then per-rep wall times;
  * `reps = 0` prints only the plans. Dev-loop tool only; the official
  * figures come from [[graft.Bench]], whose session
  * ([[graft.Session]]) this probe shares so the two stay comparable.
  */
object QProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(5)
    val names = args.lift(2).map(_.split(',').toSeq)
      .getOrElse(Seq("ts_resample_locf"))
    val spark = graft.Session.local()
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      fn(spark, sfDir).explain("formatted")
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        // toRdd, not count(): count() builds a new Aggregate in
        // which Catalyst eliminates row-preserving joins (the
        // ScaleExponents measurement trap — pagerank's rank joins
        // vanish and the probe times a node count)
        val c = fn(spark, sfDir).queryExecution.toRdd.count()
        val dt = (System.nanoTime() - t0) / 1e9
        (dt, c)
      }
      if (times.nonEmpty)
        println(f"[probe] $n rows=${times.head._2} " +
          times.map(t => f"${t._1}%.3f").mkString(" ") +
          f" min=${times.map(_._1).min}%.3f")
    }
    spark.stop()
  }
}
