package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Key-based deduplication operators.
  *
  * R2 (Angelo_ETL_Task.py:163-170): `pd.Series(values, index=keys)
  * .to_dict()` — on duplicate keys the LAST row in file order wins.
  * R4 (:179): `merged_df.LOINC_NUM.unique()` — one spine row per key.
  *
  * Scale notes: `lastWins` (groupBy + max_by) gets map-side partial
  * aggregation, so at 100 TB each shuffle partition only receives one
  * candidate row per (key, mapper) — strictly better than a window
  * form, which shuffles every row then sorts.
  */
object Dedup {

  /** Last-wins per key via `max_by` — aggregation form, partial-agg
    * friendly. `valueCols` are collapsed to the row with the greatest
    * `ord`. `ord` MUST be a total order within each key (use
    * `struct(ts, tieBreak)`) — it always had to be for the result to
    * be deterministic, and since round 20 it is also load-bearing
    * for which row wins: each value column is picked by its OWN
    * `max_by(col, ord)` instead of one `max_by(struct(cols), ord)`,
    * because a struct VALUE is not a hash-agg-mutable buffer — the
    * struct form forced the whole aggregation to SortAggregate
    * (partial + final sorts of the event stream) even when every
    * value column is primitive. Under a total order all per-column
    * picks land on the same row, so the results are identical; rows
    * whose `ord` is NULL are ignored by every `max_by` alike.
    */
  def lastWins(df: DataFrame, keys: Seq[String], ord: Column,
               valueCols: Seq[String]): DataFrame = {
    df.groupBy(keys.map(col): _*)
      .agg(max_by(col(valueCols.head), ord).as(valueCols.head),
        valueCols.tail.map(c => max_by(col(c), ord).as(c)): _*)
      .select((keys ++ valueCols).map(col): _*)
  }

  /** R4 distinct spine. */
  def distinctKeys(df: DataFrame, keys: Seq[String]): DataFrame =
    df.select(keys.map(col): _*).distinct()
}
