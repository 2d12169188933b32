package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Training-data-pipeline operator surface (the "beyond the reference"
  * half of the engine, SURVEY §2.5 / §7.4), split by family:
  * [[DedupQueries]], [[SimQueries]], [[TextQueries]],
  * [[CurateQueries]], [[GraphTimeQueries]], [[MultimodalQueries]],
  * over the shared stages and oracle-SQL builders in
  * [[ExtensionSupport]].
  *
  * Every query runs over the driver test tables and is mirrored by a
  * DuckDB oracle; floating-point folds are written as identical
  * left-to-right IEEE754 sequences on both sides so hashes match bit
  * for bit (float→double upcast is exact; every product of two floats
  * is exact in double).
  */
object ExtensionQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    DedupQueries.queries ++ SimQueries.queries ++ TextQueries.queries ++
      CurateQueries.queries ++ GraphTimeQueries.queries ++
      MultimodalQueries.queries

  val oracleSql: Map[String, String] =
    DedupQueries.oracleSql ++ SimQueries.oracleSql ++
      TextQueries.oracleSql ++ CurateQueries.oracleSql ++
      GraphTimeQueries.oracleSql ++ MultimodalQueries.oracleSql

  /** See [[ExtensionSupport.prebuildStages]]. */
  def prebuildStages(s: SparkSession, dir: String): Seq[(String, Double)] =
    ExtensionSupport.prebuildStages(s, dir)

  /** See [[ExtensionSupport.evictStages]]. */
  private[graft] def evictStages(s: SparkSession, dir: String): Unit =
    ExtensionSupport.evictStages(s, dir)

  /** See [[ExtensionSupport.evictStage]]. */
  private[graft] def evictStage(s: SparkSession, dir: String,
                                name: String): Unit =
    ExtensionSupport.evictStage(s, dir, name)

  /** See [[ExtensionSupport.stageThunks]]. */
  private[graft] def stageThunks(s: SparkSession, dir: String)
      : Seq[(String, () => org.apache.spark.sql.DataFrame)] =
    ExtensionSupport.stageThunks(s, dir)

  /** See [[ExtensionSupport.sideStage]]. */
  private[graft] def sideStage(s: SparkSession, dir: String,
                               name: String): Any =
    ExtensionSupport.sideStage(s, dir, name)

  /** See [[ExtensionSupport.stageRawFrames]]. */
  private[graft] def stageRawFrames(s: SparkSession, dir: String)
      : Seq[(String, () => org.apache.spark.sql.DataFrame)] =
    ExtensionSupport.stageRawFrames(s, dir)
}
