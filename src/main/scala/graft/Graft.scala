package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: every main and the test suite build their
  * session here, so a number from `Bench`, a dump from `Verify`, a
  * `Probe` line and a test all run under the same settings; only the
  * core count differs.
  *
  * Design point: a single local JVM here, but every operator is written
  * for a multi-executor cluster — partition-parallel generation,
  * bucketed as-of windows (no global single-partition sort), broadcast
  * of small dimensions, AQE left on.
  */
object Graft {

  /** Cores of the local master: `SPARK_GRAFT_CPUS`, else the host's. */
  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Build (or return the running) session on `local[cpus]`.
    *
    * Shuffle partitions are capped at 8: at the scales this runs, a
    * reducer count below the thread count cuts task-scheduling
    * overhead without limiting scan parallelism (AQE would coalesce
    * reducers anyway, but map-side splits follow this number too).
    * The generated-class cache defaults to 100 entries; a ~700-query
    * suite generates thousands of codegen units, so shapes shared
    * across queries and trials would recompile through Janino on every
    * run. It is sized to hold the whole suite, as warm as a long-lived
    * cluster session. `events.parquet` stores `ts` as TIMESTAMP(NANOS)
    * in some data generations, which Spark reads only as raw longs
    * (`graft.sources.Tables.events` converts them). */
  def session(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", math.min(cpus, 8).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config(graft.sources.Tables.NanosAsLong, "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
