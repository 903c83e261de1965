package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Min/max file skipping over a range-clustered layout — the zone-map
  * / Delta-file-statistics pattern, built from plain parquet + a stats
  * index table.
  *
  * Two pieces:
  *  1. a layout clustered on the skip key (`repartitionByRange` +
  *     `sortWithinPartitions`), so each file covers a narrow key
  *     range — the 1-D case of Z-ordering;
  *  2. a stats INDEX (one row per file: min/max of the key), computed
  *     in one distributed pass via the `_metadata.file_path` column
  *     and stored as parquet next to the data.
  *
  * A point/range query then consults the index first and reads ONLY
  * the overlapping files. On this layout a 100-user probe of a
  * 1500-user table opens ~1/15th of the files; at 100 TB that is the
  * difference between a full scan and reading one executor's worth of
  * input. The residual filter still applies after the pruned read, so
  * results are exact regardless of index granularity.
  *
  * (Parquet row-group stats give a similar skip WITHIN a file once it
  * is opened; the file-level index avoids opening the file at all —
  * exactly what lakehouse table formats store in their metadata
  * layer.)
  *
  * Both layouts are artifacts of `Artifacts`: built once per dataset,
  * reused across JVMs, rebuilt when the dataset is regenerated.
  */
object FileSkipping {

  /** Files of the clustered layout of `events`. */
  private val ByUserFiles = 16

  /** Build (or reuse) the clustered layout + stats index for `events`
    * keyed by `user_id`. Returns (dataDir, indexPath). */
  def ensureEventsByUser(spark: SparkSession, sfDir: String): (String, String) = {
    val base = Artifacts.dir(sfDir, "skip_ev", "v1", ByUserFiles) { base =>
      graft.sources.Tables.events(spark, sfDir)
        .repartitionByRange(ByUserFiles, col("user_id"))
        .sortWithinPartitions(col("user_id"))
        .write.mode("overwrite").parquet(s"$base/data")
      spark.read.parquet(s"$base/data")
        .groupBy(col("_metadata.file_path").as("file"))
        .agg(min(col("user_id")).as("key_lo"), max(col("user_id")).as("key_hi"),
          count(lit(1)).as("n_rows"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$base/index")
    }
    (s"$base/data", s"$base/index")
  }

  /** All files vs files whose [key_lo, key_hi] overlaps [lo, hi] — the
    * planning-time index consultation (the index is one tiny row per
    * file; collecting it ONCE is what a catalog lookup is — total and
    * kept both come from that single read). */
  def planFiles(spark: SparkSession, idxPath: String,
                lo: Long, hi: Long): (Seq[String], Int) = {
    val rows = spark.read.parquet(idxPath)
      .select(col("file"), col("key_lo"), col("key_hi")).collect()
    val kept = rows.toSeq
      .filter(r => r.getLong(2) >= lo && r.getLong(1) <= hi)
      .map(_.getString(0))
    (kept, rows.length)
  }

  /** Pruned read: only overlapping files are opened; the residual
    * predicate still applies (exactness does not depend on the index). */
  def prunedRead(spark: SparkSession, sfDir: String,
                 lo: Long, hi: Long): DataFrame = {
    val (_, idxPath) = ensureEventsByUser(spark, sfDir)
    val (files, _) = planFiles(spark, idxPath, lo, hi)
    if (files.isEmpty)
      graft.sources.Tables.events(spark, sfDir)
        .filter(lit(false))
    else
      spark.read.parquet(files: _*)
        .filter(col("user_id").between(lo, hi))
  }

  // ---------------------------------------------------------------
  // Z-order (2-D) clustering — the multi-dimensional generalization
  // of the range-clustered layout above: interleaving the bits of two
  // keys makes each file cover a small RECTANGLE in (k1, k2) space,
  // so a predicate on EITHER dimension (or both) skips files. A
  // 1-D sort would cluster only its leading key; the trailing key's
  // min/max spans everything and never prunes.
  // ---------------------------------------------------------------

  /** Morton/Z-value of two 16-bit keys via the parallel-bit-spread
    * closed form (4 mask-shift rounds per key) — pure bitwise column
    * arithmetic, stays inside whole-stage codegen. Inputs are clamped
    * to [0, 65535]; callers quantize wider domains into 16-bit codes
    * first (`quantize16`) so high keys don't all collapse into one
    * z-cell (the z-value only drives clustering, exactness never
    * depends on it). */
  def morton16(a: Column, b: Column): Column = {
    def spread(x0: Column): Column = {
      val c = x0.cast("long")
      val x = least(greatest(c, lit(0L)), lit(65535L))
      val s1 = x.bitwiseOR(shiftleft(x, 8)).bitwiseAND(lit(0x00FF00FFL))
      val s2 = s1.bitwiseOR(shiftleft(s1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
      val s3 = s2.bitwiseOR(shiftleft(s2, 2)).bitwiseAND(lit(0x33333333L))
      s3.bitwiseOR(shiftleft(s3, 1)).bitwiseAND(lit(0x55555555L))
    }
    spread(a).bitwiseOR(shiftleft(spread(b), 1))
  }

  /** Linear map of `k` from its OBSERVED [lo, hi] range onto the
    * 16-bit morton grid (width-bucket style). Without this, any key
    * domain wider than 65535 would clamp: all high keys share one
    * z-cell and 2-D pruning silently degenerates at larger scale
    * factors. */
  def quantize16(k: Column, lo: Long, hi: Long): Column = {
    val span = math.max(1L, hi - lo)
    // (k-lo)·65535 stays exactly representable for spans < 2^37 — far
    // beyond any key domain here; floor keeps the code in [0, 65535]
    floor((k.cast("long") - lit(lo)).cast("double") * lit(65535.0) / lit(span.toDouble))
      .cast("long")
  }

  /** Build (or reuse) the Z-ordered layout of `events` on
    * (user_id, floor(value)) plus a per-file 2-D stats index
    * (min/max of BOTH keys). Both keys are quantized into 16-bit
    * codes from their observed min/max (one tiny agg job) before
    * bit-interleaving. Returns (dataDir, indexPath). */
  def ensureEventsZOrder(spark: SparkSession, sfDir: String,
                         nFiles: Int = 32): (String, String) = {
    val base = Artifacts.dir(sfDir, "zorder_ev", "v2", nFiles) { base =>
      val ev = graft.sources.Tables.events(spark, sfDir)
      val b = ev.agg(
        min(col("user_id")).as("ulo"), max(col("user_id")).as("uhi"),
        min(floor(col("value")).cast("long")).as("vlo"),
        max(floor(col("value")).cast("long")).as("vhi")).head()
      ev.withColumn("__z", morton16(
          quantize16(col("user_id"), b.getLong(0), b.getLong(1)),
          quantize16(floor(col("value")).cast("long"), b.getLong(2), b.getLong(3))))
        .repartitionByRange(nFiles, col("__z"))
        .sortWithinPartitions(col("__z"))
        .drop("__z")
        .write.mode("overwrite").parquet(s"$base/data")
      spark.read.parquet(s"$base/data")
        .groupBy(col("_metadata.file_path").as("file"))
        .agg(min(col("user_id")).as("u_lo"), max(col("user_id")).as("u_hi"),
          min(floor(col("value")).cast("long")).as("v_lo"),
          max(floor(col("value")).cast("long")).as("v_hi"),
          count(lit(1)).as("n_rows"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$base/index")
    }
    (s"$base/data", s"$base/index")
  }

  /** Files whose (user, value) bounding rectangle intersects the query
    * box — 2-D index consultation, one read of the 1-file index. */
  def planFiles2D(spark: SparkSession, idxPath: String,
                  uLo: Long, uHi: Long, vLo: Long, vHi: Long): (Seq[String], Int) = {
    val rows = spark.read.parquet(idxPath)
      .select(col("file"), col("u_lo"), col("u_hi"), col("v_lo"), col("v_hi"))
      .collect()
    val kept = rows.toSeq
      .filter(r => r.getLong(2) >= uLo && r.getLong(1) <= uHi &&
        r.getLong(4) >= vLo && r.getLong(3) <= vHi)
      .map(_.getString(0))
    (kept, rows.length)
  }

  /** 2-D pruned read over the Z-ordered layout; the residual predicate
    * keeps results exact regardless of index granularity. */
  def prunedRead2D(spark: SparkSession, sfDir: String,
                   uLo: Long, uHi: Long, vLo: Double, vHi: Double): DataFrame = {
    val (_, idxPath) = ensureEventsZOrder(spark, sfDir)
    val (files, _) = planFiles2D(spark, idxPath, uLo, uHi,
      math.floor(vLo).toLong, math.floor(vHi).toLong)
    val residual = col("user_id").between(uLo, uHi) &&
      col("value") >= vLo && col("value") < vHi
    if (files.isEmpty)
      graft.sources.Tables.events(spark, sfDir).filter(lit(false))
    else spark.read.parquet(files: _*).filter(residual)
  }
}
