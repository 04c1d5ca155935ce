package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series repair: per-key daily gap-fill + linear interpolation —
  * the pass that fills sensor/metric gaps before training (q128).
  *
  * Scale shape: the grid explode is bounded by each user's observed
  * span, both window passes share one (user_id, day) sort, and the only
  * join is the left grid-fill on the daily aggregate — no global
  * window, no driver state. All interpolation inputs are exact
  * integers (cents, day offsets), so the IEEE double arithmetic is
  * bit-identical cross-engine (the q128 oracle hashes it). */
object GapFill {

  /** Per-(user, day) purchase cents from a raw events frame — the
    * bounded daily-grain aggregate that is also the streaming twin's
    * at-rest state grain. */
  def dailyPurchases(events: DataFrame): DataFrame =
    events
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(sum(graft.Exact.cents(col("value"))).cast("long").as("v"))

  /** Gap-fill the day grid between each user's first and last observed
    * day (so every gap has both neighbors by construction), then
    * linearly interpolate missing days from the bracketing known
    * points via last/first-IGNORE-NULLS frames over one shared sort.
    * Input: (user_id, day, v). Output: (user_id, day, val,
    * interpolated). */
  def interpolateDaily(daily: DataFrame): DataFrame = {
    val grid = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
    val wP = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wN = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val markedDay = when(col("v").isNotNull, col("day"))
    grid.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"), col("v"),
        last(col("v"), ignoreNulls = true).over(wP).as("pv"),
        last(markedDay, ignoreNulls = true).over(wP).as("pd"),
        first(col("v"), ignoreNulls = true).over(wN).as("nv"),
        first(markedDay, ignoreNulls = true).over(wN).as("nd"))
      .select(col("user_id"), col("day"),
        when(col("v").isNotNull, col("v").cast("double"))
          .otherwise(col("pv").cast("double")
            + (col("nv") - col("pv")).cast("double")
              * (datediff(col("day"), col("pd")).cast("double")
                / datediff(col("nd"), col("pd")).cast("double")))
          .as("val"),
        col("v").isNull.as("interpolated"))
  }
}
