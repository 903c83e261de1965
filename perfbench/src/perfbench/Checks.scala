package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType, NumericType}

import graft.clean.Clean

/** Output checks. A failed check never stops the run: it is recorded
  * and turns the run's `correct` flag false. */
final class Checks {
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def check(ok: Boolean, what: => String): Boolean = {
    if (!ok) failures += what
    ok
  }

  def passed: Boolean = failures.isEmpty

  /** What a correct export of the synchronized table looks like: the
    * grid's tick count, the rows dropped for missing values, the first
    * tick and the event types that get a column. */
  final case class Expected(ticks: Long, dropped: Long, startUs: Long, eventTypes: Set[String]) {
    def columns: Set[String] =
      Sensor.SensorColumns.toSet ++ eventTypes.map("event_" + _)
  }

  /** The reference's row filters (`app.py:108-120`: drop rows with a
    * missing value, then rows with any numeric column below -900 or
    * above 10000), restated here so the expected export does not depend
    * on the engine's Clean. Smoothing and the sort change neither rows
    * nor timestamps. */
  def referenceRows(in: Sensor.Inputs): Sensor.Inputs = {
    def keep(df: DataFrame) = df.filter(df.schema.fields.map { f =>
      val c = col(f.name)
      f.dataType match {
        case DoubleType | FloatType => c.isNotNull && !isnan(c) && c >= -900 && c <= 10000
        case _: NumericType => c.isNotNull && c >= -900 && c <= 10000
        case _ => c.isNotNull
      }
    }.reduce(_ && _))
    Sensor.Inputs(keep(in.camera), keep(in.motion), keep(in.log))
  }

  /** Expected export of `in`, derived without the engine's synchronize:
    * the overlap window from plain aggregates, and the dropped rows from
    * the independent composition (needed only when a sensor input has
    * missing values at all; otherwise no tick can be dropped). The
    * reference's one-hot is data-dependent: a type gets a column when
    * at least one of its events lies within the tolerance of the grid. */
  def expected(spark: SparkSession, in: Sensor.Inputs): Expected = {
    val (lo, hi) = Sensor.overlapUs(in)
    val nTicks = (hi - lo) / Sensor.StepUs + 1
    val withMissing = Seq(in.camera, in.motion).exists(df => !df.filter(Clean.anyMissing(df)).isEmpty)
    val dropped =
      if (!withMissing) 0L
      else {
        val (frame, _) = Sensor.composed(spark, in)
        frame.filter(Clean.anyMissing(frame)).count()
      }
    val last = lo + (nTicks - 1) * Sensor.StepUs
    val us = unix_micros(col("timestamp"))
    val types = in.log
      .filter(us > lit(lo - Sensor.TolUs) && us < lit(last + Sensor.TolUs))
      .select(col("event_type")).distinct().collect().map(_.getString(0)).toSet
    Expected(nTicks, dropped, lo, types)
  }

  /** The export has the reference's columns, one row per surviving tick
    * (ticks minus rows dropped for missing values), no missing values,
    * and strictly increasing timestamps on the 33 ms grid. Returns the
    * export's digest. */
  def sensorExport(spark: SparkSession, out: Path, reportTicks: Long, exp: Expected): String = {
    val df = spark.read.parquet(out.toString)
    check(df.columns.length == df.columns.toSet.size && df.columns.toSet == exp.columns,
      s"export columns ${df.columns.mkString(",")}, expected ${exp.columns.toSeq.sorted.mkString(",")}")
    check(reportTicks == exp.ticks,
      s"report says ${reportTicks} ticks, the overlap window holds ${exp.ticks}")
    val us = unix_micros(col("timestamp"))
    val r = df.agg(count(lit(1)), count_distinct(us), min(us), max(us),
      sum(when((us - lit(exp.startUs)) % Sensor.StepUs =!= 0, 1L).otherwise(0L)),
      sum(when(Clean.anyMissing(df), 1L).otherwise(0L))).head()
    val rows = r.getLong(0)
    check(rows == reportTicks - exp.dropped,
      s"export rows $rows != ticks $reportTicks - dropped ${exp.dropped}")
    check(r.getLong(1) == rows, s"duplicate ticks: ${rows - r.getLong(1)}")
    check(rows == 0 || r.getLong(2) >= exp.startUs, "tick before the overlap window")
    check(rows == 0 || r.getLong(3) <= exp.startUs + (reportTicks - 1) * Sensor.StepUs,
      "tick after the overlap window")
    check(rows == 0 || r.getLong(4) == 0, s"${r.getLong(4)} ticks off the 33 ms grid")
    check(rows == 0 || r.getLong(5) == 0, s"${r.getLong(5)} exported rows with missing values")
    if (exp.dropped == 0)
      check(rows == 0 || (r.getLong(3) - r.getLong(2)) / Sensor.StepUs + 1 == rows,
        "ticks are not consecutive")
    Sensor.digest(df)
  }

  /** The synchronize output equals the independent composition, row
    * for row (after its missing-value drop). */
  def sameRows(actual: DataFrame, expected: DataFrame, what: String): Unit = {
    val sameColumns = check(actual.columns.toSet == expected.columns.toSet,
      s"$what: columns ${actual.columns.mkString(",")} vs ${expected.columns.mkString(",")}")
    if (sameColumns) {
      val cols = actual.columns.toSeq.map(col)
      val a = actual.select(cols: _*)
      val e = expected.select(cols: _*)
      val extra = a.exceptAll(e).count()
      val missing = e.exceptAll(a).count()
      check(extra == 0 && missing == 0,
        s"$what: $extra rows not in the composition, $missing composition rows missing")
    }
  }
}
