package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.clean.Clean
import graft.io.Export
import graft.model.Schemas
import graft.sources.SampleData
import graft.sync.{AsofJoin, EventPivot, Synchronize}

/** The reference app's button sequence through the engine's public
  * functions: generate camera, motion and log data, clean each sensor
  * (optional), synchronize onto the 33 ms grid and export parquet. */
object Sensor {

  val StepUs: Long = Synchronize.DefaultStepUs
  val TolUs: Long = Synchronize.DefaultTolUs

  final case class Inputs(camera: DataFrame, motion: DataFrame, log: DataFrame)

  /** Input rows for camera size `n`: camera n, motion 6n/5, log n/5. */
  def inputRows(n: Long): Long = n + n * 6 / 5 + n / 5

  /** Generator seeds are camera `seed`, motion `seed+1`, log `seed+2`;
    * the partition count stays at the library default, so a seed
    * gives the same rows on any host. The log spans the camera. */
  def inputs(spark: SparkSession, n: Long, seed: Long): Inputs = {
    val cameraSpanUs = ((n - 1) * 1e6 / 30).toLong
    Inputs(
      SampleData.camera(spark, n = n, seed = seed),
      SampleData.motion(spark, n = n * 6 / 5, seed = seed + 1),
      SampleData.log(spark, n = n / 5, spanUs = cameraSpanUs, seed = seed + 2))
  }

  def cleaned(in: Inputs): Inputs = Inputs(
    Clean.clean(in.camera, "camera")._1,
    Clean.clean(in.motion, "motion")._1,
    Clean.clean(in.log, "log")._1)

  def synchronize(spark: SparkSession, in: Inputs): (DataFrame, Long) = {
    val (df, report) = Synchronize.synchronize(spark, in.camera, in.motion, Some(in.log))
    (df, ticksOf(report))
  }

  private val TicksLine = """Created (\d+) synchronized time points.*""".r

  def ticksOf(report: Seq[String]): Long =
    report.collectFirst { case TicksLine(n) => n.toLong }
      .getOrElse(throw new IllegalStateException(s"no tick count in report: $report"))

  /** One pass of the user path; returns the grid's tick count from the
    * synchronize report. */
  def pass(spark: SparkSession, n: Long, seed: Long, clean: Boolean, out: Path): Long = {
    val raw = inputs(spark, n, seed)
    val in = if (clean) cleaned(raw) else raw
    val (synced, ticks) = synchronize(spark, in)
    Export.parquet(synced, out.toString)
    ticks
  }

  /** Layer timings of one traced pass. */
  final case class Traced(ticks: Long, overlapS: Double, cleanDropped: Long, genRows: Long)

  /** The same pass with a span around every layer call. Spark is lazy,
    * so each layer's output is materialized at its boundary with a
    * local checkpoint (released at the end of the pass): each span then
    * holds exactly one layer's execution. */
  def tracedPass(spark: SparkSession, tr: Tracer, n: Long, seed: Long,
                 clean: Boolean, out: Path): Traced = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    def materialize(df: DataFrame): DataFrame =
      tr.span("checkpoint") { df.localCheckpoint(eager = true) }
    try {
      val (raw, in, ticks) = tr.span("pass") {
        val raw = tr.span("sources") {
          val g = inputs(spark, n, seed)
          Inputs(materialize(g.camera), materialize(g.motion), materialize(g.log))
        }
        val in =
          if (clean) tr.span("clean") {
            val c = cleaned(raw)
            Inputs(materialize(c.camera), materialize(c.motion), materialize(c.log))
          } else raw
        val (synced, ticks) = tr.span("sync") {
          val (df, t) = synchronize(spark, in)
          (materialize(df), t)
        }
        tr.span("io") { Export.parquet(synced, out.toString) }
        (raw, in, ticks)
      }
      val rawRows = Seq(raw.camera, raw.motion, raw.log).map(_.count()).sum
      val inRows = Seq(in.camera, in.motion, in.log).map(_.count()).sum
      val (lo, hi) = overlapUs(in)
      Traced(ticks, (hi - lo) / 1e6, rawRows - inRows, rawRows)
    } finally
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!before.contains(id)) rdd.unpersist(blocking = true)
      }
  }

  /** Camera/motion overlap window in epoch micros, computed here with
    * plain aggregates rather than through the engine's TimeGrid. */
  def overlapUs(in: Inputs): (Long, Long) = {
    def range(df: DataFrame) = {
      val r = df.agg(min(unix_micros(col("timestamp"))), max(unix_micros(col("timestamp")))).head()
      (r.getLong(0), r.getLong(1))
    }
    val (c0, c1) = range(in.camera)
    val (m0, m1) = range(in.motion)
    (math.max(c0, m0), math.min(c1, m1))
  }

  /** Independent composition of the synchronize step: the generic
    * as-of `nearest` kernel per sensor on an explicitly built grid and
    * the event one-hot. Returns the grid-sized frame before the final
    * missing-value drop, and the tick count. */
  def composed(spark: SparkSession, in: Inputs): (DataFrame, Long) = {
    val (lo, hi) = overlapUs(in)
    val nTicks = (hi - lo) / StepUs + 1
    val grid = spark.range(0, nTicks, 1, 32)
      .select(timestamp_micros(lit(lo) + col("id") * StepUs).as("timestamp"))
    def near(df: DataFrame, prefix: String) = {
      val cols = df.columns.filterNot(_ == "timestamp").toSeq
      AsofJoin.nearest(grid, "timestamp", df, "timestamp", cols)
        .select(col("timestamp") +: cols.map(c => col(c).as(s"${prefix}_$c")): _*)
    }
    val aligned = near(in.camera, "camera").join(near(in.motion, "motion"), Seq("timestamp"))
    val withEvents = EventPivot.oneHot(aligned, "timestamp", in.log, "timestamp", "event_type",
      lo, StepUs, nTicks, TolUs)
    (withEvents, nTicks)
  }

  /** Export columns other than the data-dependent `event_<TYPE>` ones. */
  val SensorColumns: Seq[String] =
    Seq("timestamp") ++
      Schemas.camera.fieldNames.filterNot(_ == "timestamp").map("camera_" + _) ++
      Schemas.motion.fieldNames.filterNot(_ == "timestamp").map("motion_" + _)

  /** Order-independent digest of an exported table. */
  def digest(df: DataFrame): String = {
    val h = df.select(xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*)
      .cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    s"${h.getLong(0)}:${h.getDecimal(1)}"
  }
}
