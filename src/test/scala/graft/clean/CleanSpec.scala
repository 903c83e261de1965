package graft.clean

import graft.GraftSpec
import graft.sources.SampleData
import org.apache.spark.sql.functions._

/** Pins the [verified] cleaning semantics (app.py:104-137 /
  * FIXTURES §A5): NULL-or-NaN dropna, strict sentinel bounds,
  * sequential report counts, non-idempotent smoothing. */
class CleanSpec extends GraftSpec {

  test("sentinel fixture: strict < -900 / > 10000 bounds") {
    import spark.implicits._
    // FIXTURES sentinel.csv: removed -901, -999, 10001, NaN; kept -900, 9999, 10000
    val df = Seq(-901.0, -900.0, -999.0, 9999.0, 10000.0, 10001.0, Double.NaN)
      .toDF("v")
    val noMissing = Clean.dropMissing(df)
    assert(noMissing.count() === 6) // NaN row dropped by F1
    val kept = Clean.rangeFilter(noMissing, Seq("v")).collect().map(_.getDouble(0)).toSet
    assert(kept === Set(-900.0, 9999.0, 10000.0))
  }

  test("dropMissing treats NULL and NaN alike, only on fractional columns") {
    import spark.implicits._
    val df = Seq(
      (Some(1.0), Some("a")), (Some(Double.NaN), Some("b")),
      (None: Option[Double], Some("c")), (Some(2.0), None: Option[String])
    ).toDF("x", "s")
    val out = Clean.dropMissing(df).collect()
    assert(out.map(_.getDouble(0)).toSeq === Seq(1.0))
  }

  test("range-filter report counts are SEQUENTIAL per column") {
    import spark.implicits._
    // row1 fails both a and b -> counted only under a (first failing col)
    // row2 fails only b; row3 clean
    val df = Seq((20000.0, 20000.0), (1.0, -950.0), (2.0, 3.0)).toDF("a", "b")
    val (_, report) = Clean.clean(df, "camera")
    assert(report.contains("Removed 1 outliers from a"))
    assert(report.contains("Removed 1 outliers from b"))
    val (_, reversed) = Clean.clean(df.select("b", "a"), "camera")
    // both failing rows now hit b first
    assert(reversed.contains("Removed 2 outliers from b"))
    assert(!reversed.exists(_.endsWith(" from a")))
  }

  test("spike smoothing replaces out-of-quantile values with the median and is non-idempotent") {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val vals = Seq.fill(600)(rng.nextGaussian())
    val df = vals.toDF("accel_x")
    val Smoothed = "Smoothed (\\d+) spikes in accel_x".r
    def spikes(report: Seq[String]): Long =
      report.collectFirst { case Smoothed(n) => n.toLong }.getOrElse(0L)
    val (s1, rep1) = Clean.clean(df, "motion")
    assert(spikes(rep1) > 0, "first pass must replace some spikes")
    assert(spikes(rep1) <= 12, "at most ~1% on each side of 600 rows")
    val (_, rep2) = Clean.clean(s1, "motion")
    assert(spikes(rep2) > 0, "smoothing is deliberately non-idempotent (app.py:125-130)")
  }

  test("clean(camera) drops exactly the NaN rows; -999 rows are a subset") {
    val cam = SampleData.camera(spark, n = 500)
    val nNaN = cam.filter(isnan(col("object_x"))).count()
    assert(nNaN > 0)
    val (cleaned, report) = Clean.clean(cam, "camera")
    assert(cleaned.count() === 500 - nNaN)
    // -999 sentinels live only in NaN rows (same uniform draw) -> none survive
    assert(cleaned.filter(col("object_y") === -999.0).count() === 0)
    assert(report.exists(_.startsWith(s"Removed $nNaN rows with missing values")))
    assert(report.contains("Sorted by timestamp"))
  }

  test("clean(motion) smooths spike channels but never accel_z") {
    val mot = SampleData.motion(spark, n = 600)
    val (cleaned, report) = Clean.clean(mot, "motion")
    assert(cleaned.count() === 600) // no missing values -> nothing dropped
    assert(report.exists(_.matches("Smoothed \\d+ spikes in accel_x")))
    assert(!report.exists(_.contains("accel_z")),
      "accel_z is excluded from smoothing (app.py:123)")
  }

  test("clean(motion) with zero clean rows skips smoothing instead of NPE-ing") {
    import spark.implicits._
    // every row has a NaN -> no rows pass cleanCond -> null quantiles
    val mot = Seq((Double.NaN, 1.0, 2.0), (3.0, Double.NaN, 4.0))
      .toDF("accel_x", "accel_y", "accel_z")
    val (cleaned, report) = Clean.clean(mot, "motion")
    assert(cleaned.count() === 0)
    assert(!report.exists(_.startsWith("Smoothed")))
  }

  private val sensors = Seq(
    "camera" -> (() => SampleData.camera(spark)),
    "motion" -> (() => SampleData.motion(spark)),
    "log" -> (() => SampleData.log(spark)))

  for ((sensor, gen) <- sensors)
    test(s"clean($sensor) of an empty table is an empty, sorted frame with zero counts") {
      val empty = gen().limit(0)
      val (cleaned, report) = Clean.clean(empty, sensor)
      assert(cleaned.columns.toSeq === empty.columns.toSeq)
      assert(cleaned.count() === 0)
      assert(report === Seq("Sorted by timestamp"))
    }

  test("an all-null column removes every row as missing, through the materialized output") {
    for ((sensor, c) <- Seq("camera" -> "object_x", "motion" -> "accel_x")) {
      val in = sensors.toMap.apply(sensor)()
      val n = in.count()
      val (cleaned, report) = Clean.clean(in.withColumn(c, lit(null).cast("double")), sensor)
      assert(cleaned.count() === 0, sensor)
      assert(report === Seq(s"Removed $n rows with missing values", "Sorted by timestamp"), sensor)
    }
  }
}
