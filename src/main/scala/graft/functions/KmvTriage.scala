package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The KMV duplication triage — "how much of this corpus is duplicated"
  * from one narrow pass, before committing to a full cut: total hashed
  * items, their [[KmvSketch]] distinct estimate, the clamped dup mass
  * `max(0, total − distinct)` and its fraction. The one implementation
  * behind the span and line families' approx tiers: the batch operators
  * (`Dedupe.approxDuplicateSpans`, `LineDedupe.approxDuplicateLines`),
  * their per-source slice, the streaming twins and the CLI reports.
  *
  * For unit `u` (`windows`, `lines`) the columns are
  * `[group,] total_u, kmv_distinct_u, dup_u, dup_fraction`. The only
  * exchange is one ≤ k-long sketch buffer per partition (per group), so
  * the cost is corpus-size-independent. Exact below k distinct items per
  * group; rsd ≈ 1/√(k−1) saturated (the bound KmvSketchSpec pins).
  */
object KmvTriage {

  /** The aggregate half: per group (or over all of `items` when
    * `groupCol` is None), the item count and the sketched distinct
    * count of `itemCol`. A streaming query runs this in Complete mode,
    * so the sketch merges across micro-batches.
    */
  def agg(
      items: DataFrame,
      itemCol: String,
      unit: String,
      k: Int,
      groupCol: Option[String] = None): DataFrame =
    items.groupBy(groupCol.map(col).toSeq: _*)
      .agg(count(lit(1)).as(s"total_$unit"),
        KmvSketch.kmv_distinct(col(itemCol), k).as(s"kmv_distinct_$unit"))

  /** The arithmetic half: clamped dup mass and the double fraction (0
    * for an empty group).
    */
  def finish(agg: DataFrame, unit: String): DataFrame =
    agg
      .withColumn(s"dup_$unit",
        greatest(lit(0L), col(s"total_$unit") - col(s"kmv_distinct_$unit")))
      .withColumn("dup_fraction",
        when(col(s"total_$unit") === 0, lit(0.0))
          .otherwise(col(s"dup_$unit").cast("double")
            / col(s"total_$unit").cast("double")))

  /** Batch triage: [[agg]] and [[finish]], materialized once as a local
    * relation (one row, or one per group — |groups|-bounded), so a
    * saturation guard and the caller's consumption don't each rerun the
    * corpus pass.
    */
  def run(
      items: DataFrame,
      itemCol: String,
      unit: String,
      k: Int,
      groupCol: Option[String] = None): DataFrame = {
    val result = finish(agg(items, itemCol, unit, k, groupCol), unit)
    items.sparkSession.createDataFrame(
      java.util.Arrays.asList(result.collect(): _*), result.schema)
  }
}
