package graft.clean

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType, NumericType}

/** Cleaning pipeline — Spark re-expression of `clean_data`
  * (`/root/reference/app.py:104-137`): F1 drop-missing → F3 sentinel
  * range filter → F4 quantile spike smoothing (motion only) → F5 sort.
  *
  * Semantics pinned by SURVEY.md §2.3 [verified] facts:
  *  - "missing" = NULL or NaN (pandas NaN ≙ both in Spark's world);
  *  - range filter is strict: remove `col < -900 OR col > 10000`
  *    (`app.py:116` — so -900, 9999 and 10000 are KEPT);
  *  - per-column removal counts are *sequential* (col order), even
  *    though the surviving row set is just the conjunction;
  *  - smoothing replaces values outside (q0.01, q0.99) with the median
  *    computed *including* the spikes — deliberately non-idempotent;
  *  - `accel_z` is excluded from smoothing (`app.py:123`).
  *
  * Scale notes: the filters are single conjunctive predicates (Catalyst
  * folds them; they push down to the scan). The report counts are one
  * aggregate pass of conditional counts — not N sequential jobs. The
  * quantiles are one exact-`percentile` aggregate over the smoothed
  * columns; at 100 TB swap `percentile` → `approx_percentile`, since
  * exact percentile materializes per-group value buffers.
  */
object Clean {

  /** Motion channels the reference smooths — accel_z deliberately absent
    * (`app.py:123`). */
  val motionSmoothCols: Seq[String] = Seq("accel_x", "accel_y", "gyro_x", "gyro_y", "gyro_z")

  /** Columns the reference's `select_dtypes(np.number)` would pick
    * (`app.py:114`): every numeric column, including ids. */
  def numericCols(df: DataFrame): Seq[String] =
    df.schema.fields.collect { case f if f.dataType.isInstanceOf[NumericType] => f.name }.toSeq

  private def isFractional(df: DataFrame, c: String): Boolean =
    df.schema(c).dataType match {
      case DoubleType | FloatType => true
      case _                      => false
    }

  /** NULL-or-NaN test for one column. */
  def missing(df: DataFrame, c: String): Column =
    if (isFractional(df, c)) col(c).isNull || isnan(col(c)) else col(c).isNull

  /** Row has any missing value — pandas `dropna()` predicate (F1,
    * `app.py:108`). */
  def anyMissing(df: DataFrame): Column =
    df.columns.map(c => missing(df, c)).reduce(_ || _)

  /** F1 — drop rows with any missing value. */
  def dropMissing(df: DataFrame): DataFrame = df.filter(!anyMissing(df))

  /** F3 predicate — value is a sentinel / out of physical range
    * (strict, `app.py:116`). */
  def outOfRange(c: String): Column = col(c) < -900 || col(c) > 10000

  /** F3 — remove rows failing the range check on any numeric column. */
  def rangeFilter(df: DataFrame, cols: Seq[String]): DataFrame =
    if (cols.isEmpty) df else df.filter(!cols.map(outOfRange).reduce(_ || _))

  /** F5 — sort by timestamp (`app.py:133-135`). Range-partitioned sort;
    * no global single partition. */
  def sortByTimestamp(df: DataFrame, tsCol: String = "timestamp"): DataFrame =
    if (df.columns.contains(tsCol)) df.orderBy(col(tsCol)) else df

  /** Full `clean_data` pipeline with report strings, mirroring
    * `app.py:104-137`. `sensorType` ∈ {camera, motion, log}: smoothing
    * only fires for motion, like the reference.
    *
    * Job discipline: the reference re-scans its in-memory frame per
    * report line; at 100 TB each scan is a full pass. Here ALL report
    * numbers (total, missing, sequential range counts) AND the
    * smoothing quantiles ride ONE combined aggregate — percentiles
    * take `when(cleanCond, col)` inputs, so "quantiles of the cleaned
    * data" needs no separate job on the cleaned subset. A second tiny
    * aggregate counts replaced values (it needs the quantile bounds).
    * Under AQE each scalar aggregate runs as 2 jobs (the partial stage,
    * then the final one): 2 report jobs for camera and log, 4 for
    * motion. The counts are `count(when(…))`, so an empty input reports
    * 0 rather than reading a NULL sum.
    *
    * Materialization: the cleaned, F5-sorted table is returned behind a
    * lazy `localCheckpoint(eager = false)`, the `Dedup.verifiedCandidates`
    * pattern. Every consumer of one pass (the overlap window, the event
    * pivot's type discovery, the sync and its export) then reads these
    * blocks instead of regenerating, re-filtering, re-smoothing and
    * re-sorting the input. The checkpoint plans the sort here, so the
    * range sort's sampling and shuffle stages run inside `clean`; the
    * final sorted partitions are computed on first read. Blocks are
    * stored MEMORY_AND_DISK and are GC-owned: no CacheManager entry is
    * created, and they are reclaimed once the frame is unreferenced.
    * The lineage is cut at the checkpoint, so the returned plan is a
    * leaf that still carries the sort's range partitioning and
    * ordering, and no later plan re-sorts it. */
  def clean(df: DataFrame, sensorType: String): (DataFrame, Seq[String]) = {
    var report = Vector.empty[String]
    val numeric = numericCols(df)
    val smoothCols =
      if (sensorType == "motion") motionSmoothCols.filter(df.columns.contains)
      else Seq.empty[String]

    val miss = anyMissing(df)
    val survivesRange =
      if (numeric.isEmpty) lit(true) else numeric.map(c => !outOfRange(c)).reduce(_ && _)
    val cleanCond = !miss && survivesRange

    // ---- pass 1: every count + the smoothing quantiles ----
    // The predicates are projected once per row, as flags, under the
    // aggregate. Motion's percentile aggregate is imperative: it runs
    // outside whole-stage codegen, evaluates its inputs row by row and
    // generates its update projection in every task, so it must read
    // flags, not the whole predicate. `__clean` feeds each percentile,
    // so the optimizer does not inline the projection back.
    val rangeHits = numeric.zipWithIndex.map { case (c, i) =>
      val survivedPrior =
        if (i == 0) lit(true) else numeric.take(i).map(p => !outOfRange(p)).reduce(_ && _)
      (!miss && survivedPrior && outOfRange(c)).as(s"__r_$i")
    }
    val flagged = df.select(
      Seq(miss.as("__miss"), cleanCond.as("__clean")) ++ rangeHits ++ smoothCols.map(col): _*)
    val baseAggs = Seq(
      count(lit(1)).as("__n"),
      count(when(col("__miss"), 1)).as("__miss"))
    val rangeAggs = numeric.indices.map(i => count(when(col(s"__r_$i"), 1)).as(s"__r_$i"))
    val qAggs = smoothCols.map { c =>
      graft.functions.ExactPercentile.percentiles(
        when(col("__clean"), col(c)), Seq(0.01, 0.5, 0.99)).as(s"__q_$c")
    }
    val aggs = baseAggs ++ rangeAggs ++ qAggs
    val row = flagged.agg(aggs.head, aggs.tail: _*).head()

    val nMiss = row.getLong(1)
    if (nMiss > 0) report :+= s"Removed $nMiss rows with missing values"
    numeric.zipWithIndex.foreach { case (c, i) =>
      val n = row.getLong(2 + i)
      if (n > 0) report :+= s"Removed $n outliers from $c" // app.py:120 wording
    }
    // a column with ZERO clean rows yields a null quantile array —
    // skip smoothing/reporting for it instead of NPE-ing on q(0)
    val bounds = smoothCols.zipWithIndex.flatMap { case (c, i) =>
      Option(row.getSeq[Double](2 + numeric.size + i))
        .map(q => c -> ((q(0), q(1), q(2))))
    }.toMap
    val smoothable = smoothCols.filter(bounds.contains)

    // ---- pass 2 (motion only): replaced-value counts ----
    if (smoothable.nonEmpty) {
      val repAggs = smoothable.map { c =>
        val (l, _, h) = bounds(c)
        count(when(cleanCond && (col(c) < l || col(c) > h), 1)).as(c)
      }
      val repRow = df.agg(repAggs.head, repAggs.tail: _*).head()
      smoothable.zipWithIndex.foreach { case (c, i) =>
        val n = repRow.getLong(i)
        if (n > 0) report :+= s"Smoothed $n spikes in $c" // app.py:131 wording
      }
    }

    // ---- the transform, materialized once (see above) ----
    val ranged = rangeFilter(dropMissing(df), numeric)
    val smoothed = smoothable.foldLeft(ranged) { (d, c) =>
      val (l, m, h) = bounds(c)
      d.withColumn(c, when(col(c) < l || col(c) > h, lit(m)).otherwise(col(c)))
    }
    val sorted = sortByTimestamp(smoothed).localCheckpoint(eager = false)
    if (df.columns.contains("timestamp")) report :+= "Sorted by timestamp"
    (sorted, report)
  }
}
