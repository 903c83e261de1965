package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-contract query: Spark implementation + optional DuckDB
  * oracle SQL over the same parquet tables (bare table names; the
  * driver attaches `/root/testdata/sfX/<name>.parquet` as views).
  *
  * Determinism rules (the driver hash-compares values after sorting
  * columns by name):
  *  - every query ends in an ORDER BY on a unique key, on both sides;
  *  - aggregate/computed columns carry identical aliases on both sides;
  *  - double-typed sums are aggregated as exact DECIMAL and cast to
  *    double once (partition-order independent, bit-equal to DuckDB);
  *  - residual float outputs are rounded on both sides.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  /** Run `body` with the session confs `kv` set, then put every key
    * back, on a normal return and on a throw alike. A key the session
    * had not set before is unset again rather than pinned to its
    * default, which is why the previous values come from `getAll`:
    * `getOption` reports a registered conf's default even when unset.
    * Scopes nest: the inner one restores what the outer one set.
    *
    * Concurrency contract: the confs change on the caller's session in
    * place, so they are visible to anything else running on it while
    * `body` runs. That is safe because every harness that executes these
    * queries — Bench, Verify, ScaleBench, Probe, the test suites — runs
    * queries strictly ONE AT A TIME on the shared session; a parallel
    * runner must serialize the queries that call this. A fresh
    * `spark.newSession()` per scope is no substitute: `Tables.events`
    * memoizes per session, and a frame executes under the conf of the
    * session that built it. */
  def withConf[T](s: SparkSession, kv: (String, String)*)(body: => T): T = {
    val conf = s.conf
    val before = conf.getAll
    try {
      kv.foreach { case (k, v) => conf.set(k, v) }
      body
    } finally kv.foreach { case (k, _) =>
      before.get(k).fold(conf.unset(k))(conf.set(k, _))
    }
  }

  def tables(spark: SparkSession, sfDir: String, names: String*): Map[String, DataFrame] =
    names.map(n => n -> graft.sources.Tables.load(spark, sfDir, n)).toMap

  /** Fan a (possibly single-file) scan out to the runtime's full width
    * before CPU-heavy per-row work (tokenize/explode/hash). The width
    * tracks `defaultParallelism` instead of a host-specific literal —
    * on a 1000-executor cluster a hardcoded 32 would CAP parallelism,
    * and a real multi-file corpus scan is already parallel so the extra
    * exchange folds into AQE coalescing. */
  def fanOut(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Honest-trial discipline (r16): a QueryDef that persists
    * intermediates must RELEASE them once the result is materialized.
    * An unreleased persist both leaks MEMORY_AND_DISK blocks into the
    * long-lived bench session AND cache-flatters the published
    * medians — the next bench trial of the same query plans against
    * the CacheManager, silently reading trial 1's InMemoryRelations
    * instead of recomputing (measured on q_hits: 1.4-1.7 s published
    * with the leak vs 2.2-2.5 s honest). `digest` collects a
    * digest-sized result to a local relation; `checkpointed`
    * materializes a row-heavy result via localCheckpoint (blocks are
    * GC-reclaimed once unreferenced). Both then unpersist every
    * registered frame, so each trial pays the query's full cost. */
  def digest(s: SparkSession, res: DataFrame, cached: DataFrame*): DataFrame =
    try {
      val rows = res.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
    } finally // release even when the materialization itself fails
      cached.foreach(df => try df.unpersist() catch { case _: Throwable => () })

  def checkpointed(res: DataFrame, cached: DataFrame*): DataFrame =
    try res.localCheckpoint()
    finally
      cached.foreach(df => try df.unpersist() catch { case _: Throwable => () })
}
