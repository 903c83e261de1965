package graft.sources

import graft.GraftSpec
import graft.io.Export
import graft.model.Schemas
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** S4 CSV ingest + K1 CSV export: round-trips with sentinels, empty
  * cells (NaN in the reference), and the deferred timestamp coercion. */
class IoSpec extends GraftSpec {

  private def tmp(prefix: String) =
    tempDir(prefix).toFile.getAbsolutePath

  test("CSV round-trip: empty cells -> null, sentinels survive, schema explicit") {
    val dir = tmp("graft-csv")
    val csv = s"""timestamp,frame_id,object_x,object_y,object_size,confidence
                 |2024-01-01 00:00:00.000000,0,1.5,-999.0,10.0,0.9
                 |2024-01-01 00:00:00.033333,1,,2.0,11.0,0.8
                 |""".stripMargin
    Files.writeString(java.nio.file.Paths.get(s"$dir/camera.csv"), csv)
    val df = CsvIngest.read(spark, s"$dir/camera.csv", Schemas.camera)
    // the CSV reader forces nullable=true; names and types must hold
    assert(df.schema.map(f => (f.name, f.dataType)) ===
      Schemas.camera.map(f => (f.name, f.dataType)))
    val rows = df.orderBy("frame_id").collect()
    assert(rows.length === 2)
    assert(rows(0).getDouble(3) === -999.0)           // sentinel intact
    assert(rows(1).isNullAt(2))                        // empty cell -> null
    assert(rows(0).getTimestamp(0).getTime === 1704067200000L)
  }

  test("inferred read leaves timestamp coercion to Y2, like the reference") {
    val dir = tmp("graft-csv2")
    Files.writeString(java.nio.file.Paths.get(s"$dir/log.csv"),
      "timestamp,event_type\n2024-01-01 00:00:01,ERROR\n")
    val raw = CsvIngest.readInferred(spark, s"$dir/log.csv")
    assert(raw.schema("timestamp").dataType.typeName === "timestamp" ||
      raw.schema("timestamp").dataType.typeName === "string")
    val coerced = CsvIngest.coerceTimestamp(raw)
    assert(coerced.schema("timestamp").dataType.typeName === "timestamp")
    assert(coerced.head().getTimestamp(0).getTime === 1704067201000L)
  }

  test("partitioned write → filtered read prunes partitions at planning") {
    import spark.implicits._
    val out = tmp("graft-part") + "/ev"
    (0 until 30).flatMap(day => Seq((day.toLong, s"2024-01-${"%02d".format(day + 1)}")))
      .toDF("v", "event_date")
      .write.partitionBy("event_date").parquet(out)
    val pruned = spark.read.parquet(out)
      .filter(col("event_date").between("2024-01-08", "2024-01-14"))
    val scan = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.partitionFilters.nonEmpty, "filter must reach the partition axis")
    assert(scan.selectedPartitions.partitionCount === 7,
      s"7 of 30 day-partitions selected, got ${scan.selectedPartitions.partitionCount}")
    assert(pruned.count() === 7)
  }

  test("compaction: size-targeted rewrite collapses small files losslessly") {
    import spark.implicits._
    val base = tmp("graft-compact")
    val frag = s"$base/frag"; val comp = s"$base/compact"
    (1 to 1000).map(i => (i.toLong, s"doc$i")).toDF("id", "s")
      .repartition(32).write.parquet(frag)
    assert(graft.io.Compaction.partFiles(spark, frag).size === 32)
    val (before, after) =
      graft.io.Compaction.compact(spark, frag, comp, targetBytes = 64L * 1024 * 1024)
    assert(before === 32 && after === 1, s"got $before -> $after")
    val back = spark.read.parquet(comp)
    assert(back.count() === 1000)
    assert(back.agg(sum(col("id"))).head().getLong(0) === 500500L)
    // target smaller than the data -> multiple output files, sized out
    val multi = s"$base/multi"
    val bytes = graft.io.Compaction.partFiles(spark, comp).map(_._2).sum
    val (_, nMulti) =
      graft.io.Compaction.compact(spark, comp, multi, targetBytes = math.max(1L, bytes / 3))
    assert(nMulti >= 3, s"sub-data target must fan out, got $nMulti files")
  }

  test("min/max file skipping: narrow probe opens a strict subset of files, result exact") {
    val sfDir = "/root/testdata/sf0.001"
    val (_, idxPath) = graft.io.FileSkipping.ensureEventsByUser(spark, sfDir)
    // pick a probe range from the data so the test is SF-independent
    val users = graft.sources.Tables.events(spark, sfDir)
      .agg(min(col("user_id")), max(col("user_id"))).head()
    val (lo, hi) = (users.getLong(0), users.getLong(0) +
      math.max(1L, (users.getLong(1) - users.getLong(0)) / 10))
    val (files, total) = graft.io.FileSkipping.planFiles(spark, idxPath, lo, hi)
    assert(total > 1, "layout must produce multiple files")
    assert(files.nonEmpty && files.size < total,
      s"a ~10% key probe must skip files: kept ${files.size} of $total")
    val pruned = graft.io.FileSkipping.prunedRead(spark, sfDir, lo, hi)
      .select("event_id")
    val full = graft.sources.Tables.events(spark, sfDir)
      .filter(col("user_id").between(lo, hi)).select("event_id")
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
  }

  test("z-order 2-D skipping: box probe opens a strict subset, prunes on the SECOND dim too") {
    val sfDir = "/root/testdata/sf0.001"
    val (_, idxPath) = graft.io.FileSkipping.ensureEventsZOrder(spark, sfDir)
    val stats = graft.sources.Tables.events(spark, sfDir)
      .agg(min(col("user_id")), max(col("user_id")),
        min(col("value")), max(col("value"))).head()
    val (uMin, uMax) = (stats.getLong(0), stats.getLong(1))
    val (vMin, vMax) = (stats.getDouble(2), stats.getDouble(3))
    val (uLo, uHi) = (uMin, uMin + math.max(1L, (uMax - uMin) / 4))
    val (vLo, vHi) = (vMin, vMin + math.max(1.0, (vMax - vMin) / 4))
    val (files, total) = graft.io.FileSkipping.planFiles2D(spark, idxPath,
      uLo, uHi, math.floor(vLo).toLong, math.floor(vHi).toLong)
    assert(total > 1, "layout must produce multiple files")
    assert(files.nonEmpty && files.size < total,
      s"a quarter-box probe must skip files: kept ${files.size} of $total")
    // a value-ONLY box (all users) must also prune: the whole point of
    // z-order over a 1-D user sort
    val (vOnly, _) = graft.io.FileSkipping.planFiles2D(spark, idxPath,
      uMin, uMax, math.floor(vLo).toLong, math.floor(vHi).toLong)
    assert(vOnly.size < total,
      s"a value-only probe must skip files on a z-ordered layout: kept ${vOnly.size} of $total")
    val pruned = graft.io.FileSkipping.prunedRead2D(spark, sfDir, uLo, uHi, vLo, vHi)
      .select("event_id")
    val full = graft.sources.Tables.events(spark, sfDir)
      .filter(col("user_id").between(uLo, uHi) &&
        col("value") >= vLo && col("value") < vHi)
      .select("event_id")
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
  }

  test("K1 export: header CSV, single-file mode, values round-trip") {
    import spark.implicits._
    val df = Seq((1L, "a", 1.5), (2L, "b", -2.5)).toDF("id", "s", "v")
    val out = tmp("graft-export") + "/out"
    Export.csv(df, out, singleFile = true)
    val parts = new java.io.File(out).listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.length === 1, "singleFile coalesces to one part")
    val back = spark.read.option("header", "true").option("inferSchema", "true").csv(out)
    assert(back.orderBy("id").collect()
      .map(r => (r.getInt(0).toLong, r.getString(1), r.getDouble(2)))
      .toSeq === Seq((1L, "a", 1.5), (2L, "b", -2.5)))
  }
}
