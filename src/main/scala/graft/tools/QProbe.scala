package graft.tools

import org.apache.spark.sql.SparkSession

/** Ad-hoc single-query probe: time + explain named queries at a
  * given sf dir. `runMain graft.tools.QProbe <sfDir> <reps> <q1,q2>`
  * — prints per-rep wall times and (with GRAFT_PROBE_EXPLAIN=1) the
  * formatted plan. Dev-loop tool only; the official figures come
  * from [[graft.Bench]].
  */
object QProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(5)
    val names = args.lift(2).map(_.split(',').toSeq)
      .getOrElse(Seq("ts_resample_locf"))
    // MUST mirror graft.Bench's session config — probe timings exist
    // to approximate the official figures; a drifted partitions
    // count or timezone silently makes them non-comparable. The
    // thread count comes from Bench's OWN derivation (not a literal)
    // so the two can never drift apart.
    val cpus = graft.Bench.cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      if (sys.env.get("GRAFT_PROBE_EXPLAIN").contains("1"))
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
      println(f"[probe] $n rows=${times.head._2} " +
        times.map(t => f"${t._1}%.3f").mkString(" ") +
        f" min=${times.map(_._1).min}%.3f")
    }
    spark.stop()
  }
}
