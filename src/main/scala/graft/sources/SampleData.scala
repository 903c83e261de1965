package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic sensor sources — Spark-first re-expression of
  * the reference generators (S1-S3, `/root/reference/app.py:29-101`).
  *
  * Contract (SURVEY.md §7.4): match schema, rates, signal model and
  * sentinel-injection *rates* — numpy's seeded sample streams are not
  * bit-reproducible on the JVM, so golden tests fix inputs via CSV
  * fixtures instead of regenerating.
  *
  * Scale design: `spark.range(n, numPartitions)` generates
  * partition-parallel with zero shuffle; `rand/randn(seed)` are
  * deterministic for a fixed partition layout (each partition's
  * generator is seeded with `seed + partitionIndex`), so we pin the
  * *generation* layout: `partitions` (32 by default) fixes the rows a
  * seed gives. Everything below is pure column expressions → whole-stage
  * codegen, no driver-side loops; generating 10^12 rows only changes `n`.
  *
  * Execution runs on at most one partition per core: a narrow
  * `coalesce(min(partitions, defaultParallelism))` over the generated
  * rows (before the log's sort) merges runs of consecutive generation
  * partitions into one task. The draws still happen in the original
  * partitions, each seeded by its own index, so rows and their order
  * are unchanged, while every stage over the generators schedules
  * `defaultParallelism` tasks instead of 32.
  */
object SampleData {

  private val DefaultStartUs: Long = 1704067200000000L // 2024-01-01 00:00:00 UTC

  /** At most one execution partition per core; see the scaladoc above. */
  private def onCores(df: DataFrame, partitions: Int): DataFrame =
    df.coalesce(math.min(partitions, df.sparkSession.sparkContext.defaultParallelism))

  private def tsFromId(startUs: Long, stepUs: Double) =
    timestamp_micros((lit(startUs) + col("id") * lit(stepUs)).cast("long"))

  /** S1 — camera detections @30 Hz (`app.py:29-52`).
    * sin/cos trajectory, clipped confidence, 5% NaN in object_x, `-999`
    * sentinel in object_y for half of the noise rows (app.py:49-50). */
  def camera(spark: SparkSession, n: Long = 500, hz: Double = 30.0,
             startUs: Long = DefaultStartUs, seed: Long = 42,
             partitions: Int = 32): DataFrame = {
    val phase = col("id") * lit(4 * math.Pi / math.max(n - 1, 1).toDouble)
    val u = rand(seed) // one uniform draw drives both injections, as one
                       // noise-index set drives both in app.py:48-50
    onCores(spark.range(0, n, 1, partitions).select(
      tsFromId(startUs, 1e6 / hz).as("timestamp"),
      col("id").as("frame_id"),
      when(u < 0.05, lit(Double.NaN))
        .otherwise(sin(phase) * 100 + 200).as("object_x"),
      when(u < 0.025, lit(-999.0))
        .otherwise(cos(phase) * 80 + 150).as("object_y"),
      (abs(sin(col("id") * lit(2 * math.Pi / math.max(n - 1, 1).toDouble))) * 50 + 20)
        .as("object_size"),
      least(greatest(randn(seed + 1) * 0.1 + 0.9, lit(0.0)), lit(1.0))
        .as("confidence") // clip to [0,1], app.py:45
    ), partitions)
  }

  /** S2 — IMU motion @50 Hz (`app.py:55-79`).
    * Sinusoid + gaussian noise per channel; accel_z centered at 9.8;
    * ~10/n of accel_x rows multiplied x10 as spikes (app.py:76-77).
    * Default start offset +50 ms like the no-arg reference default
    * (app.py:57). */
  def motion(spark: SparkSession, n: Long = 600, hz: Double = 50.0,
             startUs: Long = DefaultStartUs + 50000L, seed: Long = 43,
             partitions: Int = 32): DataFrame = {
    def ph(k: Double) = col("id") * lit(k * math.Pi / math.max(n - 1, 1).toDouble)
    val spikeP = 10.0 / n
    val accelX = sin(ph(8)) * 2 + randn(seed + 1) * 0.5
    onCores(spark.range(0, n, 1, partitions).select(
      tsFromId(startUs, 1e6 / hz).as("timestamp"),
      when(rand(seed) < spikeP, accelX * 10).otherwise(accelX).as("accel_x"),
      (cos(ph(8)) * 2 + randn(seed + 2) * 0.5).as("accel_y"),
      (sin(ph(4)) * 0.5 + 9.8 + randn(seed + 3) * 0.3).as("accel_z"),
      (sin(ph(6)) * 30 + randn(seed + 4) * 5).as("gyro_x"),
      (cos(ph(6)) * 30 + randn(seed + 5) * 5).as("gyro_y"),
      (sin(ph(2)) * 20 + randn(seed + 6) * 5).as("gyro_z")
    ), partitions)
  }

  /** S3 — robot event log (`app.py:82-101`).
    * Sorted uniform timestamps over `spanUs`, weighted 7-way categorical
    * event type (app.py:87-90), uniform joint/gripper channels. */
  def log(spark: SparkSession, n: Long = 100, spanUs: Long = 16000000L,
          startUs: Long = DefaultStartUs, seed: Long = 44,
          partitions: Int = 32): DataFrame = {
    import graft.model.Schemas.{logEventTypes, logEventWeights}
    val cum = logEventWeights.scanLeft(0.0)(_ + _).tail
    // chained when(u < cum_p_i, label_i) = weighted categorical choice.
    // `u` is ONE draw per row, materialized as a column below: an inline
    // rand() in every branch would be a separate generator per branch,
    // each advanced only on the rows that reach it, so the later types
    // would come out at the wrong rates.
    val u = col("__u")
    val eventType = logEventTypes.zip(cum).init
      .foldRight(lit(logEventTypes.last): org.apache.spark.sql.Column) {
        case ((label, p), acc) => when(u < p, label).otherwise(acc)
      }
    onCores(spark.range(0, n, 1, partitions).withColumn("__u", rand(seed + 1)).select(
      timestamp_micros((lit(startUs) + rand(seed) * spanUs).cast("long"))
        .as("timestamp"),
      eventType.as("event_type"),
      (rand(seed + 2) * 360 - 180).as("joint_1"),
      (rand(seed + 3) * 180 - 90).as("joint_2"),
      (rand(seed + 4) * 360 - 180).as("joint_3"),
      (rand(seed + 5) * 100).as("gripper_force")
    ), partitions).orderBy("timestamp") // sorted(...) at app.py:87
  }
}
