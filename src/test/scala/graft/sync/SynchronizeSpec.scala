package graft.sync

import graft.GraftSpec
import graft.clean.Clean
import graft.sources.SampleData
import org.apache.spark.sql.functions._

/** Golden replication of the reference's end-to-end flow
  * (BASELINE.md "measured sync output: 364 rows × 19 cols"): the
  * default camera/motion/log generators started at one t0, cleaned,
  * then synchronized on the 33 ms grid. The tick count is pure
  * timestamp math (data-independent), so it replicates exactly even
  * though JVM and numpy random streams differ. */
class SynchronizeSpec extends GraftSpec {

  private val T0 = 1704067200000000L

  private def defaultSensors = {
    val cam = Clean.clean(SampleData.camera(spark, n = 500, startUs = T0), "camera")._1
    val mot = Clean.clean(SampleData.motion(spark, n = 600, startUs = T0 + 50000L), "motion")._1
    val log = Clean.clean(SampleData.log(spark, n = 100, startUs = T0), "log")._1
    (cam, mot, log)
  }

  test("default data synchronizes to the reference's 364 ticks x 19 columns") {
    val (cam, mot, log) = defaultSensors
    val (out, report) = Synchronize.synchronize(spark, cam, mot, Some(log))
    assert(out.count() === 364L)
    assert(out.columns.length === 19)
    assert(out.columns.head === "timestamp")
    assert(out.columns.count(_.startsWith("camera_")) === 5)
    assert(out.columns.count(_.startsWith("motion_")) === 6)
    assert(out.columns.count(_.startsWith("event_")) === 7)
    assert(report.contains("Created 364 synchronized time points at 30Hz"))
    assert(report.exists(_.startsWith("Overlap window: 2024-01-01 00:00:00.050000 to ")))
  }

  test("a cleaned sync reads each cleaned table once: no generator Range leaf, no global Sort") {
    import org.apache.spark.sql.catalyst.plans.logical.{Range, Sort}
    import org.apache.spark.sql.execution.LogicalRDD
    val (cam, mot, log) = defaultSensors
    val (out, _) = Synchronize.synchronize(spark, cam, mot, Some(log))
    val plan = out.queryExecution.optimizedPlan
    // the only Range leaves left are the 364-tick grid; the 500/600/100
    // row generators sit behind Clean's checkpoints
    val ranges = plan.collect { case r: Range => r.numElements }
    assert(ranges.forall(_ == 364), s"Range leaves: $ranges")
    assert(plan.collect { case s: Sort if s.global => s }.isEmpty)
    assert(plan.collect { case r: LogicalRDD => r }.nonEmpty)
  }

  test("every generated stage of a synchronized frame stays under HotSpot's 8,000-byte JIT limit") {
    import org.apache.spark.sql.execution.debug.codegenStringSeq
    val (cam, mot, log) = defaultSensors
    for (m <- Seq("nearest", "pad", "backfill")) {
      val (out, _) = Synchronize.synchronize(spark, cam, mot, Some(log), method = m)
      out.collect() // runs the frame's own plan, so its AQE stages are final
      val sizes = codegenStringSeq(out.queryExecution.executedPlan)
        .map(_._3.maxMethodCodeSize)
      assert(sizes.nonEmpty, s"method=$m: no codegen stage")
      // a method above HugeMethodLimit (8,000 bytes) is never compiled
      // by the JIT: its stage runs in the bytecode interpreter
      assert(sizes.forall(_ < 8000), s"method=$m: max method bytes per stage $sizes")
    }
  }

  test("Y8 on dirty input: the in-kernel drop equals Clean.dropMissing of the undropped frame") {
    // uncleaned generators: 5% NaN object_x, -999 sentinels, accel spikes
    val cam = SampleData.camera(spark, n = 500, startUs = T0)
    val mot = SampleData.motion(spark, n = 600, startUs = T0 + 50000L)
    val log = SampleData.log(spark, n = 100, startUs = T0)
    val step = Synchronize.DefaultStepUs
    val sensors = Seq(
      AsofJoin.GridSeries(cam, "timestamp", cam.columns.filterNot(_ == "timestamp").toSeq, "camera"),
      AsofJoin.GridSeries(mot, "timestamp", mot.columns.filterNot(_ == "timestamp").toSeq, "motion"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("timestamp").collect().toSeq
    val (lo, hi) = TimeGrid.overlapWindowUs(cam, "timestamp", mot, "timestamp").get
    val nTicks = TimeGrid.tickCount(lo, hi, step)
    for (m <- Seq("nearest", "pad", "backfill", "interp")) {
      // Synchronize's own overlap grid, event pivot included
      val (out, _) = Synchronize.synchronize(spark, cam, mot, Some(log), method = m)
      val undropped = EventPivot.oneHot(
        AsofJoin.uniformGrid(spark, sensors, lo, step, nTicks, m, tickCol = "timestamp"),
        "timestamp", log, "timestamp", "event_type", lo, step, nTicks, Synchronize.DefaultTolUs)
      val expected = rows(Clean.dropMissing(undropped))
      assert(expected.size < nTicks, s"method=$m: no tick carries a missing value")
      assert(rows(out) === expected, s"method=$m")
      // a grid that starts at camera's first row, two ticks before
      // motion's first row (pad and interp have null picks there) and
      // ends past motion's last row (backfill and interp null there)
      def early(drop: Boolean) = AsofJoin.uniformGrid(spark, sensors, T0, step, 510, m,
        tickCol = "timestamp", dropMissing = drop)
      val raw = early(drop = false)
      if (m != "nearest") assert(raw.filter(col("motion_accel_x").isNull).count() > 0, m)
      assert(rows(early(drop = true)) === rows(Clean.dropMissing(raw)), s"early grid, method=$m")
    }
  }

  test("all three methods fill every tick (nearest/pad/backfill over cleaned data)") {
    val (cam, mot, _) = defaultSensors
    for (m <- Seq("nearest", "pad", "backfill")) {
      val (out, _) = Synchronize.synchronize(spark, cam, mot, None, method = m)
      // grid starts/ends inside both sensors' spans, so even pad and
      // backfill have a source row on each side of every tick
      assert(out.count() === 364L, s"method=$m")
    }
  }

  test("event one-hot bits are 0/1 and some events land within tolerance") {
    val (cam, mot, log) = defaultSensors
    val (out, _) = Synchronize.synchronize(spark, cam, mot, Some(log))
    val evCols = out.columns.filter(_.startsWith("event_"))
    val sums = out.agg(
      sum(evCols.map(col).reduce(_ + _)).as("total"),
      max(greatest(evCols.map(col): _*)).as("mx"),
      min(least(evCols.map(col): _*)).as("mn")).head()
    val total = sums.getLong(0)
    assert(total > 0 && total <= 100, s"event bits=$total")
    assert(sums.getInt(1) === 1)
    assert(sums.getInt(2) === 0)
  }

  test("withCounts report matches the reference's count-bearing wording") {
    val (cam, mot, log) = defaultSensors
    val (_, report) = Synchronize.synchronize(spark, cam, mot, Some(log),
      withCounts = true)
    assert(report.contains("Mapped 100 log events to synchronized timeline"))
    assert(report.contains("Final synchronized dataset: 364 samples"))
  }

  test("disjoint sensor spans fail loudly") {
    val (cam, mot, _) = defaultSensors
    val shifted = mot.withColumn("timestamp",
      timestamp_micros(unix_micros(col("timestamp")) + 1000000000000L))
    val e = intercept[IllegalArgumentException] {
      Synchronize.synchronize(spark, cam, shifted, None)
    }
    assert(e.getMessage.contains("overlap"))
  }
}
