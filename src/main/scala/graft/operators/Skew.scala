package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation (SURVEY §4: person-level skew — one patient with
  * thousands of encounters makes a single reducer the straggler).
  *
  * AQE's skew-join splitting handles the join case at runtime, and
  * Catalyst's map-side partial aggregation already absorbs a hot key of
  * a `collect_list` aggregation such as flat_obs's obs map (measured in
  * SCALE.md). This object holds the explicit two-phase salted form of
  * a sorted collect, which the catalog's q152 runs.
  */
object Skew {

  /** Two-phase salted collect-and-sort: phase 1 partially collects
    * per (keys, salt) — spreading a hot key over `saltBuckets` reducers —
    * phase 2 merges the partial arrays and applies the final sort. The
    * composition equals `collect_list + array_sort` on the unsalted key.
    *
    * `sortedStruct` must be the struct((orderKeys…, value)) used by
    * [[graft.functions.MysqlFunctions.groupConcat]]; salt is derived from
    * it (deterministic — same row always lands in the same bucket).
    */
  def saltedSortedAgg(
      df: DataFrame,
      keys: Seq[String],
      sortedStruct: Column,
      saltBuckets: Int): DataFrame = {
    val salted = df.withColumn("__salt", pmod(hash(sortedStruct), lit(saltBuckets)))
    val partial = salted
      .groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg(sort_array(collect_list(sortedStruct)).as("__partial"))
    partial
      .groupBy(keys.map(col): _*)
      .agg(sort_array(flatten(collect_list(col("__partial")))).as("sorted_entries"))
  }
}
