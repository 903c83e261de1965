package graft.io

import graft.GraftSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** File-skipping layout hardening: observed-range quantization before
  * the morton interleave (wide key domains must still prune) and
  * single-read index planning. */
class FileSkippingSpec extends GraftSpec {

  test("quantize16 maps the observed range onto [0, 65535] monotonically") {
    import spark.implicits._
    val df = Seq(1000000L, 3000000L, 6000000L).toDF("k")
      .select(FileSkipping.quantize16(col("k"), 1000000L, 6000000L).as("q"))
    val qs = df.collect().map(_.getLong(0))
    assert(qs(0) === 0L)
    assert(qs(2) === 65535L)
    assert(qs(0) < qs(1) && qs(1) < qs(2))
    // degenerate span (lo == hi) must not divide by zero
    val one = Seq(5L).toDF("k")
      .select(FileSkipping.quantize16(col("k"), 5L, 5L)).head().getLong(0)
    assert(one === 0L)
  }

  test("z-order 2-D pruning still skips files when keys exceed 16 bits") {
    import spark.implicits._
    // user ids 1M..6M and values 0..1e6: both dimensions far beyond
    // 65535 — the old clamp collapsed every key into one z-cell and
    // pruning silently degenerated to a full scan
    val dir = Files.createTempDirectory("graft-zwide").toFile.getAbsolutePath
    val n = 20000
    val rows = (0 until n).map { i =>
      val user = 1000000L + (i % 500) * 10000L
      val value = ((i * 2654435761L) % 1000000L).toDouble
      (i.toLong, i.toLong * 1000000000L, user, "click", value, "")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val (_, idxPath) = FileSkipping.ensureEventsZOrder(spark, dir, nFiles = 16)
    val (kept, total) = FileSkipping.planFiles2D(spark, idxPath,
      uLo = 1000000L, uHi = 1200000L, vLo = 0L, vHi = 100000L)
    assert(total === 16)
    assert(kept.nonEmpty && kept.size < total,
      s"2-D pruning degenerated: kept ${kept.size} of $total files")
    // exactness does not depend on the index: pruned read == full filter
    val pruned = FileSkipping.prunedRead2D(spark, dir,
      1000000L, 1200000L, 0.0, 100000.0).count()
    val full = graft.sources.Tables.events(spark, dir)
      .filter(col("user_id").between(1000000L, 1200000L) &&
        col("value") >= 0.0 && col("value") < 100000.0).count()
    assert(pruned === full)
  }
}
