package graft

import org.apache.spark.sql.SparkSession

/** The one local session every measuring and dev main (and the test
  * suite) runs on, so their timings and dumps share one configuration.
  * `EtlMain` keeps its own builder: its master is a deployment setting.
  */
object Session {
  /** Thread and shuffle-partition count: `SPARK_GRAFT_CPUS`, default 32. */
  private[graft] def cpus: String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** `local[cpus]` with `cpus` shuffle partitions, the UTC session time
    * zone, no UI and WARN logging.
    */
  def local(cpus: String = Session.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
