package graft.sync

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.clean.Clean

/** Y1-Y9 — full multi-sensor synchronization
  * (`/root/reference/app.py:140-198`): coerce timestamps, compute the
  * camera∩motion overlap window (log excluded), build the uniform
  * 33 ms grid, as-of-resample each sensor onto it, prefix columns,
  * one-hot log events within 100 ms, drop rows with missing values.
  *
  * Output schema mirrors the reference's wide table [verified: 364×19
  * on default data]: `timestamp`, `camera_*`, `motion_*`, `event_*`.
  */
object Synchronize {

  val DefaultStepUs: Long = 33000L   // 33 ms ticks — app.py:160 (measured)
  val DefaultTolUs: Long = 100000L   // strict < 100 ms — app.py:185

  /** Render an epoch-us instant the way the reference's report does
    * (pandas Timestamp str: micros shown only when non-zero). */
  private def fmtUs(us: Long): String = {
    val base = java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(us, 1000000L), (Math.floorMod(us, 1000000L) * 1000).toInt,
      java.time.ZoneOffset.UTC)
    val head = base.format(java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss"))
    val micros = Math.floorMod(us, 1000000L)
    if (micros == 0) head else f"$head.$micros%06d"
  }

  /** Full synchronization. Returns (wide table, report lines).
    *
    *  - `method`: the as-of resample of both sensors — `nearest`
    *    (default), `pad` (alias `ffill`), `backfill` (alias `bfill`) or
    *    `interp` (linear in time between the two neighbours).
    *  - `log = None` skips Y7 like the reference's optional log
    *    (`app.py:178`).
    *  - `withCounts = true` adds the two report lines that need extra
    *    counting jobs (`app.py:191,194` wording parity); off by default
    *    so the report never forces an eager recompute of the result.
    *  - `tieCol`: when the sensors may carry duplicate timestamps, names
    *    the column whose MAX breaks the tie. It is fused into the
    *    resample aggregate instead of a separate dedupe shuffle (see
    *    `AsofJoin.uniformGrid`); camera and motion may hold it in
    *    different types. */
  def synchronize(spark: SparkSession, camera: DataFrame, motion: DataFrame,
                  log: Option[DataFrame], method: String = "nearest",
                  stepUs: Long = DefaultStepUs, tolUs: Long = DefaultTolUs,
                  eventTypes: Option[Seq[String]] = None,
                  withCounts: Boolean = false,
                  tieCol: Option[String] = None): (DataFrame, Seq[String]) = {
    require(camera != null && motion != null, "camera and motion data required") // Y1
    var report = Vector.empty[String]

    // Y2 — coerce (no-op when already TimestampType)
    val cam = coerce(camera); val mot = coerce(motion)

    // Y3 — overlap window (log excluded, app.py:155-156)
    val (startUs, endUs) = TimeGrid.overlapWindowUs(cam, "timestamp", mot, "timestamp")
      .getOrElse(throw new IllegalArgumentException("sensor time ranges do not overlap"))

    report :+= s"Overlap window: ${fmtUs(startUs)} to ${fmtUs(endUs)}" // app.py:158

    // Y4 — uniform grid (materialized lazily inside the uniform-grid
    // as-of kernel as spark.range(nTicks)). The reference's report
    // hardcodes "30Hz" for its 33 ms grid (app.py:162) even though the
    // true rate is 30.303 Hz — mirror that for the default step.
    val nTicks = TimeGrid.tickCount(startUs, endUs, stepUs)
    val hz = if (stepUs == DefaultStepUs) "30Hz" else f"${1e6 / stepUs}%.1fHz"
    report :+= s"Created $nTicks synchronized time points at $hz"

    // Y5 + Y6 — FUSED: both sensors' as-of resamples share the tick
    // as their aggregation key, so the alignment runs as ONE
    // map-combined shuffle (AsofJoin.uniformGrid) instead of a shuffle
    // per sensor plus a tick-axis equi-join.
    val camCols = cam.columns.filterNot(_ == "timestamp").toSeq
    val motCols = mot.columns.filterNot(_ == "timestamp").toSeq
    val lgOpt = log.map(coerce)
    lgOpt.foreach { lg =>
      report :+= (if (withCounts)
        s"Mapped ${lg.count()} log events to synchronized timeline" // app.py:191
      else "Mapped log events to synchronized timeline")
    }
    val aligned = AsofJoin.uniformGrid(spark,
      Seq(AsofJoin.GridSeries(cam, "timestamp", camCols, "camera"),
        AsofJoin.GridSeries(mot, "timestamp", motCols, "motion")),
      startUs, stepUs, nTicks, method, tickCol = "timestamp", tieCol = tieCol)
    // Y7 stays a SEPARATE codegen'd pivot aggregate: folding the event
    // rows into the fused kernel's aggregate was measured SLOWER (the
    // struct-payload max_by buffers force a non-codegen aggregate, and
    // every event row would pay that path; EventPivot's int-buffer
    // pivot is whole-stage-codegen) — the sensor fusion is the win.
    val withEvents = lgOpt match {
      case Some(lg) =>
        EventPivot.oneHot(aligned, "timestamp", lg, "timestamp", "event_type",
          startUs, stepUs, nTicks, tolUs, eventTypes)
      case None => aligned
    }

    // Y8 — final drop-missing (no-op unless NaNs survived cleaning,
    // SURVEY §2.4 Y8); Y9 index reset is a no-op in Spark.
    val result = Clean.dropMissing(withEvents)
    if (withCounts)
      report :+= s"Final synchronized dataset: ${result.count()} samples" // app.py:194
    (result, report)
  }

  private def coerce(df: DataFrame): DataFrame =
    df.schema("timestamp").dataType match {
      case org.apache.spark.sql.types.TimestampType => df
      case _ => df.withColumn("timestamp", to_timestamp(col("timestamp")))
    }
}
