package graft.sync

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Y7 — event → grid mapping with tolerance + one-hot pivot
  * (`/root/reference/app.py:178-191`).
  *
  * Reference semantics [verified]: for each log event, find the grid
  * tick minimizing |tick - ts| (argmin ties pick the EARLIER tick);
  * if the distance is strictly < tolerance (100 ms), set
  * `event_<TYPE> = 1` at that tick; multiple same-type events on one
  * tick still yield 1; ticks with no event get 0.
  *
  * Scale design: the reference scans the whole grid per event
  * (O(|log|·|grid|), `app.py:182-189`). Because the grid is *uniform*
  * (start + k·step), the nearest tick is CLOSED-FORM:
  *
  *     k = clamp(ceil((ts - start - step/2) / step), 0, n-1)
  *
  * (ceil so that the exact-midpoint tie lands on the earlier tick;
  * clamping reproduces argmin for out-of-range events). This is a pure
  * per-row expression — no join at all on the event side — followed by
  * one groupBy(tick) pivot. O(|log|) work, embarrassingly parallel,
  * and whole-stage-codegen friendly. A NON-uniform grid has no closed
  * form: `AsofJoin.nearest` with the grid as the series and the events
  * as the grid finds each event's tick, but breaks exact-midpoint ties
  * to the LATER tick, so it needs a tie adjustment to match.
  */
object EventPivot {

  /** Closed-form nearest grid tick (epoch-µs column), tie -> earlier. */
  def nearestTickUs(tsUs: org.apache.spark.sql.Column, startUs: Long, stepUs: Long,
                    nTicks: Long): org.apache.spark.sql.Column = {
    val d = tsUs - lit(startUs)
    val idx = greatest(lit(0L),
      least(lit(nTicks - 1), ceil((d - lit(stepUs / 2.0)) / lit(stepUs.toDouble))))
    lit(startUs) + idx * lit(stepUs)
  }

  /** Map events onto grid ticks (strict `< tolUs`), one row per
    * (tick, type) with bit=1. */
  def eventBits(events: DataFrame, tsCol: String, typeCol: String,
                startUs: Long, stepUs: Long, nTicks: Long, tolUs: Long,
                tickCol: String = "tick"): DataFrame = {
    val tsUs = unix_micros(col(tsCol))
    val tickUs = nearestTickUs(tsUs, startUs, stepUs, nTicks)
    events
      .withColumn("__tick_us", tickUs)
      .filter(abs(tsUs - col("__tick_us")) < tolUs) // strict, app.py:185
      .select(timestamp_micros(col("__tick_us")).as(tickCol), col(typeCol))
      .distinct()
  }

  /** Full Y7: left-join one-hot `event_<TYPE>` columns onto the grid.
    * `types = None` reproduces the reference's data-dependent schema
    * (extra distinct-values job); pass the list for a stable schema. */
  def oneHot(grid: DataFrame, tickCol: String, events: DataFrame, tsCol: String,
             typeCol: String, startUs: Long, stepUs: Long, nTicks: Long, tolUs: Long,
             types: Option[Seq[String]] = None): DataFrame = {
    // no eventBits distinct() here: the pivot aggregate collapses
    // duplicate (tick, type) rows map-side anyway, so the separate
    // distinct would just add an O(|events|) shuffle
    val tsUs = unix_micros(col(tsCol))
    val tickUs = nearestTickUs(tsUs, startUs, stepUs, nTicks)
    val bits = events
      .withColumn("__tick_us", tickUs)
      .filter(abs(tsUs - col("__tick_us")) < tolUs) // strict, app.py:185
      .select(timestamp_micros(col("__tick_us")).as(tickCol), col(typeCol))
    val pivoted = types match {
      case Some(vs) => bits.groupBy(col(tickCol)).pivot(typeCol, vs).agg(first(lit(1)))
      case None     => bits.groupBy(col(tickCol)).pivot(typeCol).agg(first(lit(1)))
    }
    val evCols = pivoted.columns.filterNot(_ == tickCol)
    val renamed = evCols.foldLeft(pivoted)((d, c) => d.withColumnRenamed(c, s"event_$c"))
    val out = grid.join(renamed, Seq(tickCol), "left")
    out.na.fill(0, evCols.map(c => s"event_$c"))
  }
}
