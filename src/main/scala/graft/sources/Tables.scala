package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Artifacts

/** Central loaders for the driver's parquet tables.
  *
  * `events.parquet` has shipped with two different on-disk encodings of
  * `ts` across data generations: parquet TIMESTAMP(NANOS) — which
  * Spark's vectorized reader rejects, so we read it as raw nanos via
  * `spark.sql.legacy.parquet.nanosAsLong` (a fixed setting of
  * `Graft.session`) and floor-divide to microseconds (exactly what
  * DuckDB does implicitly) — and plain TIMESTAMP(MICROS) without UTC
  * adjustment, which Spark reads as TIMESTAMP_NTZ. `normalizeEventsTs`
  * folds both into a us-precision session-TZ TimestampType (the
  * session TZ is pinned to UTC everywhere, so NTZ→TZ is
  * wall-clock-identity and both engines see bit-identical timestamps).
  */
object Tables {

  /** Memoized like `events` below: the ANALYZED PLAN + file index are
    * reused per (session, dir, table) — ~400 query bodies re-resolved
    * the same nine read-only parquet tables, each paying DataSource
    * resolution + a footer read for schema inference on every call
    * (and again on every bench trial). Nothing is persisted: the scan
    * itself still streams per query. Safe because the driver tables
    * are immutable for the life of a session. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else Artifacts.sessionMemo(spark, s"table-$name", dir)(
      spark.read.parquet(s"$dir/$name.parquet"))

  /** Fold any on-disk `ts` encoding (raw int64 nanos, TIMESTAMP_NTZ,
    * TIMESTAMP) into us-precision TimestampType. */
  def normalizeEventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** The PHYSICAL schema of events.parquet as Spark reads it (ts may be
    * LongType nanos or TimestampNTZ depending on the data generation) —
    * what a streaming source's explicit schema must declare before
    * `normalizeEventsTs` is applied. */
  def eventsRawSchema(spark: SparkSession, dir: String)
      : org.apache.spark.sql.types.StructType = {
    ensureNanosAsLong(spark)
    spark.read.parquet(s"$dir/events.parquet").schema
  }

  /** `Graft.session` sets `nanosAsLong`; a session built elsewhere (the
    * benchmark harness builds its own) gets it here, once, since the
    * events frame reads it whenever it executes. A session that set
    * the key itself keeps its value. */
  private def ensureNanosAsLong(spark: SparkSession): Unit =
    if (!spark.conf.getAll.contains(NanosAsLong)) spark.conf.set(NanosAsLong, "true")

  private[graft] val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** events with `ts` as a proper us-precision TimestampType.
    *
    * The DataFrame (the analyzed plan + file index, NOT the data) is
    * memoized per (session, dir): ~10 queries read this table, and
    * rebuilding it re-lists the directory and re-reads parquet footers
    * for schema inference each time. Plan reuse is free; the scan
    * itself still streams per query — nothing is persisted. */
  def events(spark: SparkSession, dir: String): DataFrame =
    Artifacts.sessionMemo(spark, "table-events", dir) {
      ensureNanosAsLong(spark)
      normalizeEventsTs(spark.read.parquet(s"$dir/events.parquet"))
    }

  /** The (min, max) event time of `dir`'s events in epoch micros —
    * static metadata of a static table, computed once per JVM so the
    * grid queries and the stream sentinels don't each re-run the same
    * scalar aggregate job. */
  def eventsSpanUs(spark: SparkSession, dir: String): (Long, Long) =
    Artifacts.memo("events-span", dir) {
      val r = events(spark, dir)
        .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
      (r.getLong(0), r.getLong(1))
    }

  /** Exact row count from the parquet footer (no scan) — the count(*)
    * fast path every columnar engine uses for a whole-table count. */
  def footerRowCount(spark: SparkSession, dir: String, name: String): Long = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val conf = spark.sessionState.newHadoopConf()
    val fs = path.getFileSystem(conf)
    // the table may be a single file (driver testdata) or a
    // Spark-written DIRECTORY of part files (the ScaleBench 10× dirs)
    val files =
      if (fs.getFileStatus(path).isDirectory)
        fs.listStatus(path).map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).toSeq
      else Seq(path)
    files.map { f =>
      org.apache.parquet.hadoop.ParquetFileReader.readFooter(
          conf, f, org.apache.parquet.format.converter
            .ParquetMetadataConverter.NO_FILTER)
        .getBlocks.asScala.map(_.getRowCount).sum
    }.sum
  }

  private implicit class JListOps[A](l: java.util.List[A]) {
    def asScala: Seq[A] = {
      import scala.jdk.CollectionConverters._
      l.iterator().asScala.toSeq
    }
  }
}
