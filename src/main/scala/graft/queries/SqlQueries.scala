package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ext.Dedup
import graft.io.Artifacts

/** Relational / analytical breadth over the TPC-H-ish tables: grouped
  * aggregation, broadcast join + top-k, window analytics,
  * sessionization, and the batch face of the streaming tumbling-window
  * ETL. These are the bench headliners — written so Catalyst gets
  * clean declarative plans (filter/projection pushdown into parquet,
  * broadcast for small dims, partial aggregation).
  *
  * All money sums aggregate exact DECIMAL (partition-order independent,
  * bit-equal to the DuckDB oracle) and cast to double once at the end.
  */
object SqlQueries {

  /** DuckDB-side twin of `Dedup.strHash60` (md5-derived 60-bit key)
    * — same idiom as ExtQueries' private helper. */
  private def dkHash60s(s: String) =
    s"('0x'||substring(md5($s),1,15))::BIGINT"

  /** Maintained daily-aggregate state for `q_incremental_agg` — built
    * ONCE per sf dir (parquet artifact, like the memoized IVF
    * quantizer) from the days before `StateCut`, so the query path
    * reads state + one day's delta and genuinely never rescans
    * history. In production this table lives in the warehouse and THIS
    * merge is what maintains it. */
  private[queries] def dailyStateOf(s: org.apache.spark.sql.SparkSession,
                                    d: String): String =
    Artifacts.dir(d, "aggstate", "v1", StateCut) { path =>
      graft.sources.Tables.events(s, d)
        .filter(to_date(col("ts")) < lit(StateCut).cast("date"))
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).as("sv"))
        .write.mode("overwrite").parquet(path)
    }

  /** Maintained latest-per-user state table for the MERGE queries —
    * the keyed-state twin of `dailyStateOf` (built once per dir from
    * the events before `MergeCut`; the query path reads state + delta,
    * never the history). */
  private def userStateOf(s: org.apache.spark.sql.SparkSession, d: String): String =
    Artifacts.dir(d, "userstate", "v1", MergeCut) { path =>
      latestPerUser(graft.sources.Tables.events(s, d)
        .filter(col("ts") < lit(MergeCut).cast("timestamp")))
        .write.mode("overwrite").parquet(path)
    }

  /** Latest event per user on a unique (ts, event_id) order. */
  private def latestPerUser(ev: org.apache.spark.sql.DataFrame) = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    ev.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select("user_id", "event_id", "ts", "event_type")
  }

  private val MergeCut = "2024-01-20"

  /** The day the maintained MV states end and the delta begins. */
  private val StateCut = "2024-01-30"

  /** Every one-time maintained artifact this module's queries read, by
    * name, so a bench run charges each to its artifact phase, not to
    * the first query that happens to touch it — they are warehouse
    * tables maintained offline, the exact analog of the bucketed-table
    * build. */
  val artifacts: Seq[(String, (org.apache.spark.sql.SparkSession, String) => Any)] = Seq(
    ("aggstate", dailyStateOf),
    ("userstate", userStateOf),
    ("dayow", dayPartitionedCopyOf),
    ("coedges", copurchaseEdgesOf),
    ("schemaevo", schemaEvolvedDirOf),
    ("joinmv", joinStateOf))

  /** Maintained state for the incremental JOIN view
    * (`q_incremental_join_mv`): the cohort-enriched digest plus the
    * user→first_day dim, both as of `StateCut`. The dim is MONOTONE (a
    * user's first day never moves later), which is what makes the
    * delta-join maintenance exact: history rows never need
    * re-enrichment when new days arrive. */
  private[queries] def joinStateOf(s: org.apache.spark.sql.SparkSession,
                                   d: String): String =
    Artifacts.dir(d, "joinmv", "v1", StateCut) { base =>
      val hist = graft.sources.Tables.events(s, d)
        .filter(to_date(col("ts")) < lit(StateCut).cast("date"))
      val dim = hist.groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("first_day"))
      dim.write.mode("overwrite").parquet(s"$base/dim")
      hist.join(dim.withColumnRenamed("user_id", "du"),
          col("user_id") === col("du"))
        .groupBy(col("first_day").as("cohort_day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).as("sv"))
        .write.mode("overwrite").parquet(s"$base/enriched")
    }

  /** Two-generation parquet dir for `io_schema_evolution`: generation
    * 1 (even doc_ids) was written before the `lang` column existed;
    * generation 2 (odd doc_ids) carries it. Built once per sf dir —
    * the query then demonstrates the schema-merging READ, which is
    * the lakehouse reality after any additive schema migration. */
  private[queries] def schemaEvolvedDirOf(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    Artifacts.dir(d, "schemaevo", "v1") { base =>
      val docs = graft.sources.Tables.load(s, d, "documents")
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("n_chars"))
        .coalesce(1).write.mode("overwrite").parquet(s"$base/gen=1")
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("n_chars"), col("lang"))
        .coalesce(1).write.mode("overwrite").parquet(s"$base/gen=2")
    }

  /** Maintained co-purchase edge table (support >= 2), the graph the
    * triangle/PageRank queries analyze — one-time graph ETL like the
    * other maintained-state artifacts (the build itself is what
    * `q_copurchase_edges` times). */
  private[queries] def copurchaseEdgesOf(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    // v2: the artifact carries the support weight `w` so affinity
    // consumers (item-item CF) reuse the one co-partitioned pair join
    // instead of re-running it; graph consumers just project (p1, p2)
    Artifacts.dir(d, "coedges", "v2") { base =>
      val pp = graft.sources.Tables.load(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      pp.select(col("l_orderkey"), col("l_partkey").as("p1"))
        .join(pp.select(col("l_orderkey").as("ok2"),
          col("l_partkey").as("p2")),
          col("l_orderkey") === col("ok2") && col("p1") < col("p2"))
        .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2).select("p1", "p2", "w")
        .coalesce(1).write.mode("overwrite").parquet(base)
    }

  /** Day-partitioned scratch copy of events for `q_partition_overwrite`
    * — one-time table maintenance (built here / in the bench artifact
    * phase). The query path then times the partition overwrite itself. */
  private[queries] def dayPartitionedCopyOf(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    Artifacts.dir(d, "dayow", "v1") { base =>
      graft.sources.Tables.events(s, d)
        .select(col("ts"), col("event_type"),
          col("value").cast("decimal(18,2)").as("value"),
          to_date(col("ts")).as("day"))
        .write.mode("overwrite").partitionBy("day").parquet(base)
    }

  val defs: Seq[QueryDef] = Seq(

    // TPC-H Q1-style pricing summary: single scan, partial aggs, tiny
    // group count — the canonical "does partial aggregation work" probe.
    QueryDef("q1_pricing_summary",
      (s, d) => {
        val li = graft.sources.Tables.load(s, d, "lineitem")
        // r17 NEGATIVE RESULT: fanning the single-split scan out to
        // parallelize the decimal aggregate was tried (HotProbe showed
        // the agg serial at 0.9 s) and measured NEUTRAL — the fan-out
        // exchange WRITE is itself serial at the scan's width and
        // costs as much (0.58 s) as the aggregate it parallelizes.
        // Kept serial: one pass, no exchange; a real multi-file table
        // scans parallel on its own.
        li.filter(col("l_shipdate") <= lit("2000-09-02").cast("timestamp"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("sum_qty"),
            sum(col("l_extendedprice").cast("decimal(12,2)")).cast("double").as("sum_base_price"),
            sum((col("l_extendedprice").cast("decimal(12,2)") *
              (lit(1) - col("l_discount")).cast("decimal(4,2)"))).cast("double").as("sum_disc_price"),
            sum((col("l_extendedprice").cast("decimal(12,2)") *
              (lit(1) - col("l_discount")).cast("decimal(4,2)") *
              (lit(1) + col("l_tax")).cast("decimal(4,2)"))).cast("double").as("sum_charge"),
            count(lit(1)).as("count_order"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  sum(CAST(l_quantity AS DECIMAL(12,2)))::DOUBLE AS sum_qty,
             |  sum(CAST(l_extendedprice AS DECIMAL(12,2)))::DOUBLE AS sum_base_price,
             |  sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2)))::DOUBLE AS sum_disc_price,
             |  sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))
             |      * CAST(1 + l_tax AS DECIMAL(4,2)))::DOUBLE AS sum_charge,
             |  count(*) AS count_order
             |FROM lineitem
             |WHERE l_shipdate <= TIMESTAMP '2000-09-02'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // TPC-H Q3-style: broadcast ONLY the filtered customer dimension;
    // the orders↔lineitem fact join shuffles (AQE may still promote it
    // at small SF, but nothing forces a big-side broadcast at 100×).
    QueryDef("q3_top_orders",
      (s, d) => {
        val c = graft.sources.Tables.load(s, d, "customer")
          .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
        val o = graft.sources.Tables.load(s, d, "orders")
          .select("o_orderkey", "o_custkey", "o_orderdate")
        val li = graft.sources.Tables.load(s, d, "lineitem")
          .select("l_orderkey", "l_extendedprice", "l_discount")
        li.join(o.join(broadcast(c), col("o_custkey") === col("c_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderkey"), col("o_orderdate"))
          .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
            (lit(1) - col("l_discount")).cast("decimal(4,2)")).cast("double").as("revenue"))
          .orderBy(col("revenue").desc, col("o_orderkey"))
          .limit(20)
      },
      Some("""SELECT o_orderkey, o_orderdate,
             |  sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2)))::DOUBLE AS revenue
             |FROM customer JOIN orders ON c_custkey = o_custkey
             |  JOIN lineitem ON l_orderkey = o_orderkey
             |WHERE c_mktsegment = 'BUILDING'
             |GROUP BY o_orderkey, o_orderdate
             |ORDER BY revenue DESC, o_orderkey LIMIT 20""".stripMargin)),

    // q3 on BUCKETED orders/lineitem: both sides pre-bucketed by the
    // order key, so the fact-fact join runs with no exchange on either
    // side (the batch analogue of a co-located index join — pay one
    // bucketed write, join shuffle-free in every later query). Same
    // oracle as q3_top_orders; shuffle elision pinned by BucketingSpec.
    QueryDef("q3_bucketed",
      (s, d) => {
        val c = graft.sources.Tables.load(s, d, "customer")
          .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
        val o = graft.sources.Bucketing.ordersBucketed(s, d)
          .select("o_orderkey", "o_custkey", "o_orderdate")
        val li = graft.sources.Bucketing.lineitemBucketed(s, d)
          .select("l_orderkey", "l_extendedprice", "l_discount")
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .groupBy(col("o_orderkey"), col("o_orderdate"))
          .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
            (lit(1) - col("l_discount")).cast("decimal(4,2)")).cast("double").as("revenue"))
          .orderBy(col("revenue").desc, col("o_orderkey"))
          .limit(20)
      },
      Some("""SELECT o_orderkey, o_orderdate,
             |  sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2)))::DOUBLE AS revenue
             |FROM customer JOIN orders ON c_custkey = o_custkey
             |  JOIN lineitem ON l_orderkey = o_orderkey
             |WHERE c_mktsegment = 'BUILDING'
             |GROUP BY o_orderkey, o_orderdate
             |ORDER BY revenue DESC, o_orderkey LIMIT 20""".stripMargin)),

    // TPC-H Q5-style star join: region -> nation -> customer -> orders
    // -> lineitem -> supplier with the local-supplier condition
    // (supplier nation == customer nation). The dimension chain
    // (region+nation, supplier) broadcasts; the customer/orders/
    // lineitem fact spine shuffles — at 100× only the facts grow.
    QueryDef("q5_region_revenue",
      (s, d) => {
        val r = graft.sources.Tables.load(s, d, "region")
          .filter(col("r_name") === "ASIA").select("r_regionkey")
        val n = graft.sources.Tables.load(s, d, "nation")
          .select("n_nationkey", "n_regionkey", "n_name")
        val rn = n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .select("n_nationkey", "n_name")
        val c = graft.sources.Tables.load(s, d, "customer")
          .select("c_custkey", "c_nationkey")
        val o = graft.sources.Tables.load(s, d, "orders")
          .select("o_orderkey", "o_custkey")
        val li = graft.sources.Tables.load(s, d, "lineitem")
          .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        val sup = graft.sources.Tables.load(s, d, "supplier")
          .select("s_suppkey", "s_nationkey")
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(rn), col("s_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
            (lit(1) - col("l_discount")).cast("decimal(4,2)")).cast("double")
            .as("revenue"))
          .orderBy(col("revenue").desc, col("n_name"))
      },
      Some("""SELECT n_name,
             |  sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2)))::DOUBLE AS revenue
             |FROM region JOIN nation ON n_regionkey = r_regionkey
             |  JOIN customer ON c_nationkey = n_nationkey
             |  JOIN orders ON o_custkey = c_custkey
             |  JOIN lineitem ON l_orderkey = o_orderkey
             |  JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
             |WHERE r_name = 'ASIA'
             |GROUP BY n_name
             |ORDER BY revenue DESC, n_name""".stripMargin)),

    // Window analytics: per-user running total + event rank. The
    // (ts, event_id) ordering is unique, so the running decimal sum
    // accumulates in the same order in both engines.
    QueryDef("q_window_running",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        graft.sources.Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("ts"),
            row_number().over(w).as("rn"),
            sum(col("value").cast("decimal(18,2)"))
              .over(w.rowsBetween(Window.unboundedPreceding, 0))
              .cast("double").as("running_value"))
          .orderBy(col("user_id"), col("rn"))
      },
      Some("""SELECT user_id, event_id, ts,
             |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             |  sum(CAST(value AS DECIMAL(18,2))) OVER (
             |    PARTITION BY user_id ORDER BY ts, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::DOUBLE AS running_value
             |FROM events ORDER BY user_id, rn""".stripMargin)),

    // Sessionization: a >30 min gap starts a new session — lag + running
    // conditional sum, the classic event-stream ETL pattern.
    QueryDef("q_sessionize",
      (s, d) => {
        val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        graft.sources.Tables.events(s, d)
          .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
          .withColumn("new_session",
            when(col("prev_ts").isNull ||
              unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L, 1L)
              .otherwise(0L))
          .withColumn("session_id",
            sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy(col("user_id"), col("session_id"))
          .agg(count(lit(1)).as("n_events"),
            min(col("ts")).as("session_start"), max(col("ts")).as("session_end"))
          .orderBy(col("user_id"), col("session_id"))
      },
      Some("""WITH g AS (
             |  SELECT user_id, event_id, ts,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1
             |         ELSE 0 END AS new_session
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |s AS (
             |  SELECT user_id, ts,
             |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_id
             |  FROM g)
             |SELECT user_id, session_id, count(*) AS n_events,
             |  min(ts) AS session_start, max(ts) AS session_end
             |FROM s GROUP BY user_id, session_id
             |ORDER BY user_id, session_id""".stripMargin)),

    // Batch face of the streaming ETL (graft.streaming.StreamingEtl):
    // 1 h tumbling window per event type. Epoch-aligned bucket math so
    // the oracle is arithmetic, not engine-specific windowing.
    QueryDef("q_tumbling_hour",
      (s, d) => graft.sources.Tables.events(s, d)
        .groupBy(
          timestamp_micros(expr("unix_micros(ts) div 3600000000") * 3600000000L)
            .as("window_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .orderBy(col("window_start"), col("event_type")),
      Some("""SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS window_start,
             |  event_type, count(*) AS n,
             |  sum(CAST(value AS DECIMAL(18,2)))::DOUBLE AS sum_value
             |FROM events GROUP BY 1, 2
             |ORDER BY window_start, event_type""".stripMargin)),

    // Rollup hierarchy totals: (flag, status) -> flag subtotals ->
    // grand total in one pass (Spark expands grouping sets map-side;
    // null grouping keys are coalesced to a sentinel so both engines
    // sort identically — Spark sorts nulls first, DuckDB last).
    // The grouping() flags ride the sort key (then drop): a genuine
    // NULL data group also coalesces to '(all)', and without the flags
    // such a row would tie with the subtotal row in engine-dependent
    // order, making the oracle compare nondeterministic.
    QueryDef("q_rollup_pricing",
      // r17 (§2.3 aggregate-before-shuffle): ROLLUP compiles to an
      // Expand that multiplies EVERY input row once per grouping set
      // (3×) before the partial aggregate. Sum/count are associative,
      // so rolling up the exact (rf, ls) digest — ≤ |rf|·|ls| rows,
      // decimal sums exact — is bit-identical while Expand runs on a
      // handful of rows instead of the whole table. At 100 TB the
      // scan-side partial agg sees each row ONCE instead of 3×.
      (s, d) => graft.sources.Tables.load(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast("decimal(12,2)")).as("__sq"),
          count(lit(1)).as("__n"))
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("__sq")).cast("double").as("sum_qty"),
          sum(col("__n")).as("n"),
          grouping(col("l_returnflag")).as("__g_rf"),
          grouping(col("l_linestatus")).as("__g_ls"))
        .select(coalesce(col("l_returnflag"), lit("(all)")).as("rf"),
          coalesce(col("l_linestatus"), lit("(all)")).as("ls"),
          col("sum_qty"), col("n"), col("__g_rf"), col("__g_ls"))
        .orderBy(col("rf"), col("ls"), col("__g_rf"), col("__g_ls"))
        .select("rf", "ls", "sum_qty", "n"),
      Some("""SELECT rf, ls, sum_qty, n FROM (
             |  SELECT coalesce(l_returnflag, '(all)') AS rf,
             |         coalesce(l_linestatus, '(all)') AS ls,
             |         sum(CAST(l_quantity AS DECIMAL(12,2)))::DOUBLE AS sum_qty,
             |         count(*) AS n,
             |         GROUPING(l_returnflag) AS g_rf,
             |         GROUPING(l_linestatus) AS g_ls
             |  FROM lineitem
             |  GROUP BY ROLLUP (l_returnflag, l_linestatus))
             |ORDER BY rf, ls, g_rf, g_ls""".stripMargin)),

    // Exact COUNT(DISTINCT) written as the explicit two-phase shape
    // that survives key skew at 100 TB: phase 1 dedupes on the
    // COMPOSITE key (event_type, user_id) — the shuffle spreads a hot
    // event_type across partitions by user — and phase 2 counts per
    // type over the already-deduped (small) set. A direct
    // groupBy(count_distinct) funnels each type's full row stream
    // through one reducer.
    QueryDef("q_distinct_users",
      (s, d) => graft.sources.Tables.events(s, d)
        .select(col("event_type"), col("user_id")).distinct()
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("event_type")),
      Some("""SELECT event_type, count(DISTINCT user_id) AS n_users
             |FROM events GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // Salted two-level aggregation — the skew-mitigation pattern for
    // heavy-hitter keys: partial-agg on (key, salt) spreads one hot key
    // over 16 reducers, then a tiny second agg (|keys|x16 rows) merges
    // the algebraic partials. Result is identical to the direct
    // groupBy — which is exactly what the oracle checks. At 100 TB with
    // a 5-value key column this is the difference between 5 straggler
    // reducers and an even spread.
    QueryDef("q_skew_salted_agg",
      (s, d) => {
        val partial = graft.sources.Tables.events(s, d)
          .withColumn("__salt", pmod(col("event_id"), lit(16)))
          .groupBy(col("event_type"), col("__salt"))
          .agg(count(lit(1)).as("pn"),
            sum(col("value").cast("decimal(18,2)")).as("psum"),
            min(col("ts")).as("pmin"), max(col("ts")).as("pmax"))
        partial.groupBy(col("event_type"))
          .agg(sum(col("pn")).as("n"),
            sum(col("psum")).cast("double").as("sum_value"),
            min(col("pmin")).as("first_ts"), max(col("pmax")).as("last_ts"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, count(*) AS n,
             |  sum(CAST(value AS DECIMAL(18,2)))::DOUBLE AS sum_value,
             |  min(ts) AS first_ts, max(ts) AS last_ts
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Latest event per user — dedup-by-recency, the "current state"
    // extraction every event pipeline runs. (ts, event_id) is unique
    // per user, so the top-1 row is deterministic.
    QueryDef("q_latest_per_user",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)
        graft.sources.Tables.events(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, event_id, ts, event_type FROM (
             |  SELECT user_id, event_id, ts, event_type,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY ts DESC, event_id DESC) AS rn
             |  FROM events)
             |WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // Semi-join (EXISTS): customers with >=1 urgent order. left_semi
    // keeps the probe side unduplicated (no post-join distinct) and the
    // build side is pre-projected to the bare key, so at 100x the
    // shuffled payload on the orders side is 8 bytes/row.
    QueryDef("q_semi_join",
      (s, d) => {
        val c = graft.sources.Tables.load(s, d, "customer")
          .select("c_custkey", "c_mktsegment", "c_acctbal")
        val urgent = graft.sources.Tables.load(s, d, "orders")
          .filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
        c.join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_customers"),
            sum(col("c_acctbal").cast("decimal(12,2)")).cast("double").as("sum_acctbal"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""SELECT c_mktsegment, count(*) AS n_customers,
             |  sum(CAST(c_acctbal AS DECIMAL(12,2)))::DOUBLE AS sum_acctbal
             |FROM customer c
             |WHERE EXISTS (SELECT 1 FROM orders o
             |  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // Anti-join (NOT EXISTS): customers with NO urgent order — the
    // retention/compliance shape ("never did X"). Same join layout as
    // q_semi_join with the opposite keep rule.
    QueryDef("q_anti_join",
      (s, d) => {
        val c = graft.sources.Tables.load(s, d, "customer")
          .select("c_custkey", "c_mktsegment", "c_acctbal")
        val urgent = graft.sources.Tables.load(s, d, "orders")
          .filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
        c.join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_customers"),
            sum(col("c_acctbal").cast("decimal(12,2)")).cast("double").as("sum_acctbal"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""SELECT c_mktsegment, count(*) AS n_customers,
             |  sum(CAST(c_acctbal AS DECIMAL(12,2)))::DOUBLE AS sum_acctbal
             |FROM customer c
             |WHERE NOT EXISTS (SELECT 1 FROM orders o
             |  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // Top-N per group: 3 priciest orders per priority class. The
    // row_number()+filter formulation is the SCALE-correct one in
    // Spark 4: InferWindowGroupLimit turns it into a map-side partial
    // top-k (WindowGroupLimit) before the shuffle, so a 5-group/100 TB
    // input never funnels a whole group through one task unbounded.
    // Tiebreak (o_orderkey asc) makes the pick deterministic.
    QueryDef("q_topn_per_group",
      (s, d) => {
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        graft.sources.Tables.load(s, d, "orders")
          .select("o_orderkey", "o_orderpriority", "o_totalprice")
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 3)
          .select(col("o_orderpriority"), col("rk"), col("o_orderkey"),
            col("o_totalprice"))
          .orderBy(col("o_orderpriority"), col("rk"))
      },
      Some("""SELECT o_orderpriority, rk, o_orderkey, o_totalprice FROM (
             |  SELECT o_orderpriority, o_orderkey, o_totalprice,
             |    row_number() OVER (PARTITION BY o_orderpriority
             |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
             |  FROM orders)
             |WHERE rk <= 3
             |ORDER BY o_orderpriority, rk""".stripMargin)),

    // Sliding 1 h / 30 min window per event type (streaming twin:
    // StreamingEtl.slidingCounts). Every event lands in exactly 2
    // epoch-aligned windows: starts floor(t/slide)·slide − k·slide,
    // k ∈ {0, 1} — arithmetic the oracle replicates with an unnest.
    QueryDef("q_sliding_halfhour",
      (s, d) => graft.streaming.StreamingEtl.slidingCounts(
        graft.sources.Tables.events(s, d))
        .orderBy(col("window_start"), col("event_type")),
      Some("""SELECT make_timestamp(((epoch_us(ts) // 1800000000) - u.o) * 1800000000) AS window_start,
             |  event_type, count(*) AS n,
             |  sum(CAST(value AS DECIMAL(18,2)))::DOUBLE AS sum_value
             |FROM events, unnest([0, 1]) u(o)
             |GROUP BY 1, 2
             |ORDER BY window_start, event_type""".stripMargin)),

    // Banded range join (graft.sync.RangeJoin): all event pairs within
    // ±1 s of each other with NO equi key — burst/co-occurrence
    // detection. Banding turns the would-be O(n²) cross join into one
    // equi-shuffle on 1 s time buckets; the oracle is DuckDB's native
    // range self-join, so the banded plan must reproduce the exact
    // pair set.
    QueryDef("q_range_join_bursts",
      (s, d) => graft.sync.RangeJoin.selfPairsWithin(
        graft.sources.Tables.events(s, d), "ts", "event_id",
        withinUs = 1000000L, payload = Seq("event_type"))
        .orderBy(col("id_lo"), col("id_hi")),
      // The oracle bands too — but only as a CANDIDATE limiter: the
      // exact |Δt| ≤ W predicate does the semantics, and the coverage
      // claim (|ta−tb| ≤ W ⟹ bucket diff ∈ {−1,0,1} at bucket width
      // W) is a one-line floor-division fact, so no valid pair can be
      // dropped. DuckDB's native inequality self-join is O(n²) here
      // and blew the gate's per-oracle budget at sf0.1 (>70 s; this
      // form runs in well under a second).
      Some("""WITH e AS MATERIALIZED (SELECT event_id, event_type,
             |    epoch_us(ts)::BIGINT AS t,
             |    epoch_us(ts)::BIGINT // 1000000 AS b FROM events),
             |cand AS (
             |  SELECT a.event_id ia, b.event_id ib, a.t ta, b.t tb,
             |      a.event_type ea, b.event_type eb
             |  FROM e a JOIN e b ON b.b = a.b AND a.event_id < b.event_id
             |  UNION ALL
             |  SELECT a.event_id, b.event_id, a.t, b.t, a.event_type, b.event_type
             |  FROM e a JOIN e b ON b.b = a.b + 1 AND a.event_id < b.event_id
             |  UNION ALL
             |  SELECT a.event_id, b.event_id, a.t, b.t, a.event_type, b.event_type
             |  FROM e a JOIN e b ON b.b = a.b - 1 AND a.event_id < b.event_id)
             |SELECT ia AS id_lo, ib AS id_hi, abs(ta - tb)::BIGINT AS delta_us,
             |  ea AS lo_event_type, eb AS hi_event_type
             |FROM cand WHERE abs(ta - tb) <= 1000000
             |ORDER BY id_lo, id_hi""".stripMargin)),

    // Incremental aggregation (materialized-view maintenance): the
    // daily partial-aggregate table is the maintained state; a new
    // day's arrival is ONE day's scan + a merge of mergeable partials
    // (count/sum) — never a rescan of history. Here days 1-29 build
    // the state, day 30 arrives as the delta, and the final rollup is
    // computed purely from merged partials. The oracle aggregates the
    // raw table directly, so equality proves partial-merge == full
    // recompute (incl. that the decimal sums merge exactly). At 100 TB
    // this is the difference between scanning one partition and
    // scanning three years of history on every refresh.
    QueryDef("q_incremental_agg",
      (s, d) => {
        val cut = StateCut
        // state: the maintained parquet artifact (built once per dir)
        val state = s.read.parquet(dailyStateOf(s, d))
        // delta: ONE day's scan (on a date-partitioned layout — see
        // io_partitioned_prune — this scan would open one partition)
        val delta = graft.sources.Tables.events(s, d)
          .filter(to_date(col("ts")) >= lit(cut).cast("date"))
          .groupBy(to_date(col("ts")).as("day"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).as("sv"))
        state.unionByName(delta)
          .groupBy(col("event_type"))
          .agg(sum(col("n")).as("n_total"),
            sum(col("sv")).cast("double").as("sum_value"),
            count(lit(1)).as("n_days"),
            max(col("n")).as("max_day_n"))
          .orderBy(col("event_type"))
      },
      Some("""WITH dstate AS (
             |  SELECT ts::DATE AS day, event_type, count(*) AS n,
             |         sum(CAST(value AS DECIMAL(18,2))) AS sv
             |  FROM events GROUP BY 1, 2)
             |SELECT event_type, sum(n)::BIGINT AS n_total,
             |  sum(sv)::DOUBLE AS sum_value, count(*)::BIGINT AS n_days,
             |  max(n)::BIGINT AS max_day_n
             |FROM dstate GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Salted fact⋈dim JOIN — the skew-mitigation twin of
    // q_skew_salted_agg: the dim side replicates S=8 ways (one row per
    // salt), the fact side derives a deterministic salt, and the join
    // key becomes (user_id, salt) so ONE hot user's rows spread over 8
    // reducers instead of one straggler. The salt cancels in the
    // aggregate; the oracle is the UNSALTED join, so equality proves
    // the rewrite exact. At 100 TB this is what you do when AQE's skew
    // split can't help (e.g. the skewed side feeds a window, or the
    // join is the final stage).
    QueryDef("q_skew_salted_join",
      (s, d) => {
        val S = 8
        val ev = graft.sources.Tables.events(s, d)
          .select(col("user_id"), col("value"),
            pmod(col("event_id"), lit(S.toLong)).as("__salt"))
        val dim = graft.sources.Tables.events(s, d)
          .select(col("user_id")).distinct()
          .withColumn("tier", pmod(col("user_id"), lit(5L)))
          .withColumn("__salt", explode(array((0 until S).map(i => lit(i.toLong)): _*)))
        ev.join(dim, Seq("user_id", "__salt"))
          .groupBy(col("tier"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
          .orderBy(col("tier"))
      },
      Some("""WITH dim AS (SELECT DISTINCT user_id, user_id % 5 AS tier FROM events)
             |SELECT dim.tier, count(*) AS n,
             |  sum(CAST(e.value AS DECIMAL(18,2)))::DOUBLE AS sum_value
             |FROM events e JOIN dim USING (user_id)
             |GROUP BY dim.tier ORDER BY dim.tier""".stripMargin)),

    // CUBE over (returnflag, linestatus): all four grouping-set combos
    // in one pass — completes the grouping-sets surface next to
    // q_rollup_pricing (same grouping-flag sort discipline).
    QueryDef("q_cube_pricing",
      // r17 (§2.3): CUBE's Expand multiplies every row 4× before the
      // partial agg — pre-aggregate to the exact (rf, ls) digest first
      // (associative sums/counts ⇒ bit-identical result), so Expand
      // runs on ≤ |rf|·|ls| rows and the scan sees each row once.
      (s, d) => graft.sources.Tables.load(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast("decimal(12,2)")).as("__sq"),
          count(lit(1)).as("__n"))
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("__sq")).cast("double").as("sum_qty"),
          sum(col("__n")).as("n"),
          grouping(col("l_returnflag")).as("__g_rf"),
          grouping(col("l_linestatus")).as("__g_ls"))
        .select(coalesce(col("l_returnflag"), lit("(all)")).as("rf"),
          coalesce(col("l_linestatus"), lit("(all)")).as("ls"),
          col("sum_qty"), col("n"), col("__g_rf"), col("__g_ls"))
        .orderBy(col("rf"), col("ls"), col("__g_rf"), col("__g_ls"))
        .select("rf", "ls", "sum_qty", "n"),
      Some("""SELECT rf, ls, sum_qty, n FROM (
             |  SELECT coalesce(l_returnflag, '(all)') AS rf,
             |         coalesce(l_linestatus, '(all)') AS ls,
             |         sum(CAST(l_quantity AS DECIMAL(12,2)))::DOUBLE AS sum_qty,
             |         count(*) AS n,
             |         GROUPING(l_returnflag) AS g_rf,
             |         GROUPING(l_linestatus) AS g_ls
             |  FROM lineitem
             |  GROUP BY CUBE (l_returnflag, l_linestatus))
             |ORDER BY rf, ls, g_rf, g_ls""".stripMargin)),

    // Semi-structured extraction: the events `props` column is a JSON
    // string; from_json projects a typed field in the scan projection
    // (one pass, no UDF). The LLM-pipeline shape: raw crawl metadata
    // lands as JSON and gets schematized on read.
    QueryDef("q_json_extract",
      (s, d) => graft.sources.Tables.events(s, d)
        .select(col("event_type"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
            .getField("k").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("k_sum"),
          min(col("k")).as("k_min"), max(col("k")).as("k_max"),
          count(when(col("k") > 50, 1)).as("n_k_over_50"))
        .orderBy(col("event_type")),
      Some("""SELECT event_type, count(*) AS n,
             |  sum(CAST(json_extract(props, '$.k') AS BIGINT))::BIGINT AS k_sum,
             |  min(CAST(json_extract(props, '$.k') AS BIGINT))::BIGINT AS k_min,
             |  max(CAST(json_extract(props, '$.k') AS BIGINT))::BIGINT AS k_max,
             |  count(CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) > 50 THEN 1 END) AS n_k_over_50
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Q10-shaped returned-item report: which customers returned the
    // most revenue in one quarter. Four-way join with the classic
    // 100 TB discipline — the date filter prunes orders FIRST (the
    // selective predicate drives the join order), lineitem restricts
    // to returnflag before joining, nation broadcasts, and the
    // per-customer aggregate tops-k at the end (top 20 by revenue).
    QueryDef("q10_returned_items",
      (s, d) => {
        val o = graft.sources.Tables.load(s, d, "orders")
          .filter(col("o_orderdate") >= "1996-01-01" &&
            col("o_orderdate") < "1996-04-01")
          .select("o_orderkey", "o_custkey")
        val li = graft.sources.Tables.load(s, d, "lineitem")
          .filter(col("l_returnflag") === "R")
          .select("l_orderkey", "l_extendedprice", "l_discount")
        val c = graft.sources.Tables.load(s, d, "customer")
          .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
        val n = graft.sources.Tables.load(s, d, "nation")
          .select("n_nationkey", "n_name")
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
          .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
            (lit(1) - col("l_discount")).cast("decimal(4,2)")).cast("double")
            .as("revenue"),
            round(max(col("c_acctbal")), 2).as("acctbal"))
          .orderBy(col("revenue").desc, col("c_custkey")).limit(20)
      },
      Some("""SELECT c_custkey, c_name, n_name,
             |  sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2)))::DOUBLE AS revenue,
             |  round(max(c_acctbal), 2) AS acctbal
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |WHERE l_returnflag = 'R'
             |  AND o_orderdate >= '1996-01-01' AND o_orderdate < '1996-04-01'
             |GROUP BY c_custkey, c_name, n_name
             |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)),

    // ANALYZE-style per-column statistics collection — the stats a
    // cost-based optimizer feeds on (ndv, null fraction, bounds),
    // computed for several columns in ONE scan (each ndv is its own
    // partial-merge HLL-free exact distinct via count(distinct) in a
    // single multi-aggregate; at 100 TB swap approx_count_distinct in
    // the same shape). Long-format output, one row per column.
    QueryDef("io_table_stats",
      (s, d) => {
        val li = graft.sources.Tables.load(s, d, "lineitem")
        val wide = li.agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("l_returnflag")).as("ndv_rf"),
          sum(when(col("l_returnflag").isNull, 1L).otherwise(0L)).as("null_rf"),
          countDistinct(col("l_quantity")).as("ndv_qty"),
          sum(when(col("l_quantity").isNull, 1L).otherwise(0L)).as("null_qty"),
          round(min(col("l_quantity")), 2).as("min_qty"),
          round(max(col("l_quantity")), 2).as("max_qty"),
          countDistinct(col("l_orderkey")).as("ndv_ok"),
          sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)).as("null_ok"))
        wide.select(explode(array(
          struct(lit("l_returnflag").as("column"), col("n_rows"),
            col("ndv_rf").as("ndv"), col("null_rf").as("n_null"),
            lit(null).cast("double").as("min_v"),
            lit(null).cast("double").as("max_v")),
          struct(lit("l_quantity").as("column"), col("n_rows"),
            col("ndv_qty").as("ndv"), col("null_qty").as("n_null"),
            col("min_qty").as("min_v"), col("max_qty").as("max_v")),
          struct(lit("l_orderkey").as("column"), col("n_rows"),
            col("ndv_ok").as("ndv"), col("null_ok").as("n_null"),
            lit(null).cast("double").as("min_v"),
            lit(null).cast("double").as("max_v")))).as("__s"))
          .select(col("__s.*"))
          .orderBy(col("column"))
      },
      Some("""WITH w AS (SELECT count(*) AS n_rows,
             |    count(DISTINCT l_returnflag) AS ndv_rf,
             |    sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)::BIGINT AS null_rf,
             |    count(DISTINCT l_quantity) AS ndv_qty,
             |    sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)::BIGINT AS null_qty,
             |    round(min(l_quantity), 2) AS min_qty,
             |    round(max(l_quantity), 2) AS max_qty,
             |    count(DISTINCT l_orderkey) AS ndv_ok,
             |    sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS null_ok
             |  FROM lineitem)
             |SELECT "column", n_rows, ndv, n_null, min_v, max_v FROM (
             |  SELECT 'l_returnflag' AS "column", n_rows, ndv_rf AS ndv, null_rf AS n_null,
             |    NULL::DOUBLE AS min_v, NULL::DOUBLE AS max_v FROM w
             |  UNION ALL SELECT 'l_quantity', n_rows, ndv_qty, null_qty, min_qty, max_qty FROM w
             |  UNION ALL SELECT 'l_orderkey', n_rows, ndv_ok, null_ok, NULL, NULL FROM w)
             |ORDER BY "column"""".stripMargin)),

    // The VARIANT twin of q_json_extract: parse once into Spark 4's
    // binary semi-structured type, then cheap typed path extraction —
    // at 100 TB schema-on-read JSON is parsed ONCE per row, not once
    // per accessed field (from_json with a full schema re-parses for
    // every distinct schema projection). Same aggregate, same oracle
    // discipline.
    QueryDef("q_json_variant",
      (s, d) => graft.sources.Tables.events(s, d)
        .select(col("event_type"), parse_json(col("props")).as("__v"))
        .select(col("event_type"),
          expr("variant_get(__v, '$.k', 'bigint')").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("k_sum"),
          count(when(col("k") % 2 === 0, 1)).as("n_even"))
        .orderBy(col("event_type")),
      Some("""SELECT event_type, count(*) AS n,
             |  sum(CAST(json_extract(props, '$.k') AS BIGINT))::BIGINT AS k_sum,
             |  count(CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) % 2 = 0 THEN 1 END) AS n_even
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Pivot -> unpivot round-trip: wide daily matrix (one column per
    // event type) melted back to long form must equal the plain
    // group-by — grading BOTH reshape APIs against one trivial oracle.
    QueryDef("q_pivot_daily",
      (s, d) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        val piv = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).cast("string").as("day"))
          .pivot("event_type", types).agg(count(lit(1)))
        piv.unpivot(Array(col("day")), types.map(col).toArray,
            "event_type", "n")
          .filter(col("n").isNotNull)
          .orderBy(col("day"), col("event_type"))
      },
      Some("""SELECT (ts::DATE)::VARCHAR AS day, event_type, count(*) AS n
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Window-function breadth on a unique (ts, event_id) order: lag,
    // lead, row_number, ntile — the everyday analyst surface.
    QueryDef("q_window_funcs",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        graft.sources.Tables.events(s, d)
          .select(col("event_id"), col("user_id"),
            lag(col("value"), 1).over(w).as("prev_value"),
            lead(col("event_type"), 1).over(w).as("next_type"),
            row_number().over(w).as("rn"),
            ntile(4).over(w).as("quartile"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id, user_id,
             |  lag(value, 1) OVER w AS prev_value,
             |  lead(event_type, 1) OVER w AS next_type,
             |  row_number() OVER w AS rn,
             |  ntile(4) OVER w AS quartile
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
             |ORDER BY event_id""".stripMargin)),

    // Distinct set algebra on (user, day) activity sets:
    // click-days ∩ purchase-days ∖ error-days.
    QueryDef("q_set_ops",
      (s, d) => {
        def act(t: String) = graft.sources.Tables.events(s, d)
          .filter(col("event_type") === t)
          .select(col("user_id"), to_date(col("ts")).cast("string").as("day"))
          .distinct()
        act("click").intersect(act("purchase")).except(act("error"))
          .orderBy(col("user_id"), col("day"))
      },
      Some("""SELECT user_id, (ts::DATE)::VARCHAR AS day FROM events WHERE event_type = 'click'
             |INTERSECT
             |SELECT user_id, (ts::DATE)::VARCHAR FROM events WHERE event_type = 'purchase'
             |EXCEPT
             |SELECT user_id, (ts::DATE)::VARCHAR FROM events WHERE event_type = 'error'
             |ORDER BY user_id, day""".stripMargin)),

    // The SAME range join written NAIVELY — `abs(ta - tb) <= 2s` with
    // no equi key, the query a user ports from SQL verbatim. Spark
    // alone plans this as a BroadcastNestedLoopJoin (O(n²));
    // graft.plans.BandedRangeJoinRule (injected via GraftExtensions)
    // rewrites it into the banded equi-join automatically, so the
    // naive spelling gets the scale plan. RangeJoinSpec pins the plan
    // shape; this row pins the rewrite's exactness against DuckDB.
    QueryDef("q_range_join_auto",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
        val a = ev.select(col("event_id").as("a_id"), unix_micros(col("ts")).as("a_t"))
        val b = ev.select(col("event_id").as("b_id"), unix_micros(col("ts")).as("b_t"))
        a.join(b, abs(col("a_t") - col("b_t")) <= lit(2000000L) &&
            col("a_id") < col("b_id"))
          .select(col("a_id").as("id_lo"), col("b_id").as("id_hi"),
            abs(col("a_t") - col("b_t")).as("delta_us"))
          .orderBy(col("id_lo"), col("id_hi"))
      },
      // banded-candidate oracle (same discipline as the
      // q_range_join_bursts oracle above: the exact |Δt| filter does
      // the semantics; coverage is the floor-division fact) — the
      // naive inequality self-join blew the sf0.1 per-oracle budget
      Some("""WITH e AS MATERIALIZED (SELECT event_id,
             |    epoch_us(ts)::BIGINT AS t,
             |    epoch_us(ts)::BIGINT // 2000000 AS b FROM events),
             |cand AS (
             |  SELECT a.event_id ia, b.event_id ib, a.t ta, b.t tb
             |  FROM e a JOIN e b ON b.b = a.b AND a.event_id < b.event_id
             |  UNION ALL
             |  SELECT a.event_id, b.event_id, a.t, b.t
             |  FROM e a JOIN e b ON b.b = a.b + 1 AND a.event_id < b.event_id
             |  UNION ALL
             |  SELECT a.event_id, b.event_id, a.t, b.t
             |  FROM e a JOIN e b ON b.b = a.b - 1 AND a.event_id < b.event_id)
             |SELECT ia AS id_lo, ib AS id_hi, abs(ta - tb)::BIGINT AS delta_us
             |FROM cand WHERE abs(ta - tb) <= 2000000
             |ORDER BY id_lo, id_hi""".stripMargin)),

    // HLL++ sketch twin of q_distinct_users — the 100 TB path: one
    // pass, O(1) state per group, mergeable across partitions (and
    // across days, composing with q_incremental_agg's state pattern),
    // where the exact distinct needs a full shuffle of user_ids. No
    // SQL engine reproduces Spark's HLL++ bit-for-bit -> rows-only
    // here; StatsSpec's law pins the estimate within 5% of exact.
    QueryDef("q_distinct_users_approx",
      (s, d) => graft.sources.Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), rsd = 0.02)
          .as("approx_users"))
        .orderBy(col("event_type")),
      None),

    // MERGE INTO (SCD1 upsert): days 1-19 live as a maintained
    // latest-per-user state artifact; days 20-30 arrive as a delta and
    // land via operators/Merge (one full-outer join on the key). The
    // oracle recomputes latest-per-user from ALL events, so equality
    // proves merge(state, delta) == full recompute — the correctness
    // contract of incremental state maintenance.
    QueryDef("q_merge_upsert",
      (s, d) => {
        val target = s.read.parquet(userStateOf(s, d))
        val delta = latestPerUser(graft.sources.Tables.events(s, d)
          .filter(col("ts") >= lit(MergeCut).cast("timestamp")))
        graft.operators.Merge.upsert(target, delta, Seq("user_id"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, event_id, ts, event_type FROM (
             |  SELECT user_id, event_id, ts, event_type,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY ts DESC, event_id DESC) AS rn
             |  FROM events)
             |WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // CDC apply — MERGE with tombstones: a delta user whose latest
    // event is an 'error' is treated as a DELETE op; others update or
    // insert as in q_merge_upsert. The oracle spells the same
    // semantics as an explicit full join, pinning all four MERGE
    // branches (update / insert / keep / delete) in one result.
    QueryDef("q_merge_cdc",
      (s, d) => {
        val target = s.read.parquet(userStateOf(s, d))
        val delta = latestPerUser(graft.sources.Tables.events(s, d)
          .filter(col("ts") >= lit(MergeCut).cast("timestamp")))
        graft.operators.Merge.upsert(target, delta, Seq("user_id"),
            deleteWhen = Some(col("event_type") === "error"))
          .orderBy(col("user_id"))
      },
      Some(s"""WITH tgt AS (
              |  SELECT user_id, event_id, ts, event_type FROM (
              |    SELECT user_id, event_id, ts, event_type,
              |      row_number() OVER (PARTITION BY user_id
              |        ORDER BY ts DESC, event_id DESC) AS rn
              |    FROM events WHERE ts < TIMESTAMP '$MergeCut')
              |  WHERE rn = 1),
              |dlt AS (
              |  SELECT user_id, event_id, ts, event_type FROM (
              |    SELECT user_id, event_id, ts, event_type,
              |      row_number() OVER (PARTITION BY user_id
              |        ORDER BY ts DESC, event_id DESC) AS rn
              |    FROM events WHERE ts >= TIMESTAMP '$MergeCut')
              |  WHERE rn = 1)
              |SELECT coalesce(d.user_id, t.user_id) AS user_id,
              |  coalesce(d.event_id, t.event_id) AS event_id,
              |  coalesce(d.ts, t.ts) AS ts,
              |  coalesce(d.event_type, t.event_type) AS event_type
              |FROM tgt t FULL JOIN dlt d ON t.user_id = d.user_id
              |WHERE d.user_id IS NULL OR d.event_type <> 'error'
              |ORDER BY user_id""".stripMargin)),

    // Runtime bloom-filter join pruning — the explicit form of Spark's
    // runtime row-level filter: one month of orders selects ~1.3% of
    // orderkeys; the fact side probes a broadcast bloom over those keys
    // BEFORE its exchange, so the shuffle carries ~selectivity× the
    // rows. The real join still runs after the prune (bloom false
    // positives drop there; false negatives don't exist), so the
    // oracle is the plain join — equality is unconditional. The shape
    // for a dim too big to broadcast-JOIN whose key bloom still fits.
    QueryDef("q_bloom_prune",
      (s, d) => {
        val sel = graft.sources.Tables.load(s, d, "orders")
          .filter(col("o_orderdate").between(
            lit("1997-01-01").cast("timestamp"), lit("1997-01-31").cast("timestamp")))
          .select("o_orderkey", "o_orderdate")
        val h = graft.functions.BloomFunctions.buildBroadcast(
          sel, "o_orderkey", expectedItems = 200000L, fpp = 0.01)
        val li = graft.sources.Tables.load(s, d, "lineitem")
          .select("l_orderkey", "l_extendedprice", "l_discount")
          .filter(graft.functions.BloomFunctions.mightContain(col("l_orderkey"), h))
        li.join(sel, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderdate"))
          .agg(count(lit(1)).as("n_items"),
            sum((col("l_extendedprice").cast("decimal(12,2)") *
              (lit(1) - col("l_discount")).cast("decimal(4,2)")))
              .cast("double").as("revenue"))
          .orderBy(col("o_orderdate"))
      },
      Some("""SELECT o_orderdate, count(*) AS n_items,
             |  sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2)))::DOUBLE AS revenue
             |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
             |WHERE o_orderdate BETWEEN TIMESTAMP '1997-01-01' AND TIMESTAMP '1997-01-31'
             |GROUP BY o_orderdate ORDER BY o_orderdate""".stripMargin)),

    // TPC-H Q18-style filter-by-aggregate-then-join-back: aggregate the
    // FACT first (map-side partial sums collapse 4 items/order into one
    // row), keep only the rare HAVING survivors, then broadcast that
    // tiny set into the orders/customer joins. At 100 TB the wrong
    // shape — join first, aggregate after — shuffles the whole fact
    // table; this one shuffles a per-key digest and broadcasts ~0.2%.
    QueryDef("q18_large_orders",
      (s, d) => {
        val big = graft.sources.Tables.load(s, d, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("__sq"))
          .filter(col("__sq") > 280)
          .select(col("l_orderkey"), col("__sq").cast("double").as("sum_qty"))
        graft.sources.Tables.load(s, d, "orders")
          .join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
          .join(graft.sources.Tables.load(s, d, "customer"),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
            col("o_totalprice"), col("sum_qty"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT c_custkey, c_name, o_orderkey, o_totalprice, sum_qty
             |FROM (SELECT l_orderkey,
             |        sum(CAST(l_quantity AS DECIMAL(18,2)))::DOUBLE AS sum_qty
             |      FROM lineitem GROUP BY 1
             |      HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 280) q
             |JOIN orders ON o_orderkey = l_orderkey
             |JOIN customer ON c_custkey = o_custkey
             |ORDER BY o_orderkey""".stripMargin)),

    // Fixed-width numeric histogram — one scan, bin key computed in the
    // projection so the groupBy partial-aggregates per bin (≈20 groups:
    // the shuffle is the bin digest, never the rows). The standard
    // profile-a-column primitive at any scale.
    QueryDef("q_price_histogram",
      (s, d) => graft.sources.Tables.load(s, d, "lineitem")
        .select(floor(col("l_extendedprice") / 5000).cast("long").as("bin"),
          col("l_extendedprice"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))
        .orderBy(col("bin")),
      Some("""SELECT CAST(floor(l_extendedprice / 5000) AS BIGINT) AS bin,
             |  count(*) AS n,
             |  sum(CAST(l_extendedprice AS DECIMAL(18,2)))::DOUBLE AS sum_price
             |FROM lineitem GROUP BY 1 ORDER BY bin""".stripMargin)),

    // Mode (most frequent value) per group — two-level aggregation:
    // count per (group, value), then per-group argmax via a struct
    // max_by with an explicit (count, value) ordering so ties are
    // deterministic (higher count, then lexicographically later
    // value). Both shuffles carry digests, no windows, no sorts on
    // data — the scalable spelling of "top value per key".
    QueryDef("q_mode_per_group",
      (s, d) => graft.sources.Tables.events(s, d)
        .filter(col("user_id") < 100)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("user_id"))
        .agg(max_by(struct(col("event_type").as("t"), col("n")),
          struct(col("n"), col("event_type"))).as("__m"))
        .select(col("user_id"),
          col("__m.t").as("mode_type"), col("__m.n").as("n_events"))
        .orderBy(col("user_id")),
      Some("""WITH c AS (SELECT user_id, event_type, count(*) AS n
             |           FROM events WHERE user_id < 100 GROUP BY 1, 2),
             |r AS (SELECT user_id, event_type, n, row_number() OVER
             |        (PARTITION BY user_id ORDER BY n DESC, event_type DESC) AS rn
             |      FROM c)
             |SELECT user_id, event_type AS mode_type, n AS n_events
             |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // Per-group exact quantiles — the grouped twin of a2_quantiles:
    // ExactPercentile aggregates per group (partial buffers merge, so
    // groups parallelize across the cluster; the 100 TB switch is the
    // same approx_percentile swap documented on a2_quantiles_approx).
    QueryDef("q_group_quantiles",
      (s, d) => graft.sources.Tables.load(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(graft.functions.ExactPercentile
          .percentiles(col("o_totalprice"), Seq(0.5, 0.95)).as("__q"))
        .select(col("o_orderpriority"),
          round(col("__q").getItem(0), 4).as("p50"),
          round(col("__q").getItem(1), 4).as("p95"))
        .orderBy(col("o_orderpriority")),
      Some("""SELECT o_orderpriority,
             |  round(quantile_cont(o_totalprice, 0.50), 4) AS p50,
             |  round(quantile_cont(o_totalprice, 0.95), 4) AS p95
             |FROM orders GROUP BY 1 ORDER BY o_orderpriority""".stripMargin)),

    // Winsorize / outlier trim per group — the two-pass shape: an
    // exact-percentile DIGEST per group (tiny), broadcast back onto
    // the scan, tails counted against the bounds. At 100 TB the digest
    // pass switches to approx_percentile (a2_quantiles_approx twin);
    // the broadcast-back plan is unchanged.
    QueryDef("q_winsorize",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
        val bounds = ev.groupBy(col("event_type"))
          .agg(graft.functions.ExactPercentile
            .percentiles(col("value"), Seq(0.05, 0.95)).as("__q"))
        ev.join(broadcast(bounds), "event_type")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("value") < col("__q").getItem(0), 1L)
              .otherwise(0L)).as("n_lo_clipped"),
            sum(when(col("value") > col("__q").getItem(1), 1L)
              .otherwise(0L)).as("n_hi_clipped"),
            round(max(col("__q").getItem(0)), 4).as("p05"),
            round(max(col("__q").getItem(1)), 4).as("p95"))
          .orderBy(col("event_type"))
      },
      Some("""WITH q AS (SELECT event_type,
             |    quantile_cont(value, 0.05) AS lo, quantile_cont(value, 0.95) AS hi
             |  FROM events GROUP BY 1)
             |SELECT e.event_type, count(*) AS n,
             |  sum(CASE WHEN e.value < q.lo THEN 1 ELSE 0 END)::BIGINT AS n_lo_clipped,
             |  sum(CASE WHEN e.value > q.hi THEN 1 ELSE 0 END)::BIGINT AS n_hi_clipped,
             |  round(max(q.lo), 4) AS p05, round(max(q.hi), 4) AS p95
             |FROM events e JOIN q USING (event_type)
             |GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // Rolling per-key time-series features (trailing 5-row mean/max) —
    // windows PARTITIONED by user parallelize across the cluster; the
    // frame is rows-based so state per task is O(frame), not O(user
    // history).
    QueryDef("q_rolling_features",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id")).rowsBetween(-4, 0)
        graft.sources.Tables.events(s, d)
          .filter(col("user_id") < 50)
          .select(col("event_id"), col("user_id"),
            round(avg(col("value")).over(w), 4).as("roll_avg"),
            max(col("value")).over(w).as("roll_max"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id, user_id,
             |  round(avg(value) OVER w, 4) AS roll_avg,
             |  max(value) OVER w AS roll_max
             |FROM events WHERE user_id < 50
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             |             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
             |ORDER BY event_id""".stripMargin)),

    // GROUPING SETS — the general form of rollup/cube: exactly the
    // requested aggregation levels ((rf,ls), (ls), ()), nothing more.
    // One shuffle: Spark expands the sets map-side (Expand) and
    // aggregates all levels in a single pass — at 100 TB this beats
    // three separate scans+aggs by 3× I/O. Same coalesce + grouping-
    // flag sort discipline as q_rollup_pricing.
    QueryDef("q_grouping_sets",
      // r17 (§2.3): every requested set is a coarsening of (rf, ls),
      // so pre-aggregate to that exact digest first — the Expand then
      // triples ≤ |rf|·|ls| digest rows instead of every lineitem row,
      // and no fan-out exchange of the table is needed at all (the
      // scan-side partial agg collapses each task to ≤ 6 rows).
      // Decimal sums/counts are associative ⇒ bit-identical results.
      (s, d) => graft.sources.Tables.load(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast("decimal(12,2)")).as("__sq"),
          sum(col("l_discount").cast("decimal(12,6)")).as("__sd"),
          count(lit(1)).as("__n"))
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("__sq")).cast("double").as("sum_qty"),
          // exact decimal sum -> one double division: order-insensitive
          // (a plain avg() float-sums in partition order)
          (sum(col("__sd")).cast("double")
            / sum(col("__n"))).as("avg_disc0"),
          sum(col("__n")).as("n"),
          grouping(col("l_returnflag")).as("__g_rf"),
          grouping(col("l_linestatus")).as("__g_ls"))
        .select(coalesce(col("l_returnflag"), lit("(all)")).as("rf"),
          coalesce(col("l_linestatus"), lit("(all)")).as("ls"),
          col("sum_qty"), round(col("avg_disc0"), 6).as("avg_disc"), col("n"),
          col("__g_rf"), col("__g_ls"))
        .orderBy(col("rf"), col("ls"), col("__g_rf"), col("__g_ls"))
        .select("rf", "ls", "sum_qty", "avg_disc", "n"),
      Some("""SELECT rf, ls, sum_qty, avg_disc, n FROM (
             |  SELECT coalesce(l_returnflag, '(all)') AS rf,
             |         coalesce(l_linestatus, '(all)') AS ls,
             |         sum(CAST(l_quantity AS DECIMAL(12,2)))::DOUBLE AS sum_qty,
             |         round(sum(CAST(l_discount AS DECIMAL(12,6)))::DOUBLE / count(*), 6) AS avg_disc,
             |         count(*) AS n,
             |         GROUPING(l_returnflag) AS g_rf,
             |         GROUPING(l_linestatus) AS g_ls
             |  FROM lineitem
             |  GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ()))
             |ORDER BY rf, ls, g_rf, g_ls""".stripMargin)),

    // Equi-DEPTH histogram: bucket boundaries are the exact global
    // deciles (one partial-aggregable percentile pass -> one-row
    // digest), then every row buckets against the broadcast boundary
    // array — the scale-correct spelling of ntile(10): a global ntile
    // would total-sort 100 TB through one partition; this is two scans
    // and zero data shuffles beyond the 10-row final agg. Ties land in
    // the lower bucket (strict > comparison) in both engines.
    QueryDef("q_equidepth_bins",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
        val bounds = ev.agg(graft.functions.ExactPercentile
          .percentiles(col("value"), (1 to 9).map(_ / 10.0)).as("bnd"))
        ev.crossJoin(broadcast(bounds))
          .select(size(filter(col("bnd"),
            b => col("value") > b)).as("bucket"), col("value"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n"),
            round(min(col("value")), 4).as("min_v"),
            round(max(col("value")), 4).as("max_v"))
          .orderBy(col("bucket"))
      },
      Some("""WITH q AS (SELECT quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bnd FROM events),
             |b AS (SELECT value, len(list_filter(q.bnd, x -> value > x)) AS bucket FROM events CROSS JOIN q)
             |SELECT bucket, count(*) AS n,
             |  round(min(value), 4) AS min_v, round(max(value), 4) AS max_v
             |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // UNPIVOT (wide -> long melt): the inverse of q_pivot_daily. Spark's
    // Expand-based unpivot emits all metric rows in ONE pass over the
    // (already tiny) aggregate — the long layout is what metric stores
    // and plotting layers ingest. Values are forced DOUBLE pre-melt
    // (unpivot requires a common value type; the oracle mirrors with
    // a UNION ALL spelling).
    QueryDef("q_unpivot_metrics",
      (s, d) => graft.sources.Tables.load(s, d, "lineitem")
        .groupBy(col("l_returnflag").as("rf"))
        .agg(sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
          count(lit(1)).cast("double").as("n_rows"))
        .unpivot(Array(col("rf")),
          Array(col("sum_qty"), col("sum_price"), col("n_rows")),
          "metric", "value")
        .orderBy(col("rf"), col("metric")),
      Some("""WITH a AS (SELECT l_returnflag AS rf,
             |    sum(CAST(l_quantity AS DECIMAL(12,2)))::DOUBLE AS sum_qty,
             |    sum(CAST(l_extendedprice AS DECIMAL(18,2)))::DOUBLE AS sum_price,
             |    count(*)::DOUBLE AS n_rows
             |  FROM lineitem GROUP BY 1)
             |SELECT rf, metric, value FROM (
             |  SELECT rf, 'sum_qty' AS metric, sum_qty AS value FROM a
             |  UNION ALL SELECT rf, 'sum_price', sum_price FROM a
             |  UNION ALL SELECT rf, 'n_rows', n_rows FROM a)
             |ORDER BY rf, metric""".stripMargin)),

    // FULL OUTER join — the reconciliation join: users who clicked,
    // errored, both, or neither side present survive with zero-filled
    // counts. Both sides pre-aggregate to one row per key BEFORE the
    // join (at 100 TB the join then carries two key-digest tables, not
    // two fact tables); USING-style key coalescing in both engines.
    QueryDef("q_full_outer",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
        def perUser(t: String, as: String) = ev
          .filter(col("event_type") === t && col("user_id") < 200)
          .groupBy(col("user_id")).agg(count(lit(1)).as(as))
        perUser("click", "n_clicks")
          .join(perUser("error", "n_errors"), Seq("user_id"), "full_outer")
          .select(col("user_id"),
            coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
            coalesce(col("n_errors"), lit(0L)).as("n_errors"))
          .orderBy(col("user_id"))
      },
      Some("""WITH c AS (SELECT user_id, count(*) AS n_clicks FROM events
             |  WHERE event_type = 'click' AND user_id < 200 GROUP BY 1),
             |e AS (SELECT user_id, count(*) AS n_errors FROM events
             |  WHERE event_type = 'error' AND user_id < 200 GROUP BY 1)
             |SELECT coalesce(c.user_id, e.user_id) AS user_id,
             |  coalesce(c.n_clicks, 0) AS n_clicks,
             |  coalesce(e.n_errors, 0) AS n_errors
             |FROM c FULL JOIN e ON c.user_id = e.user_id
             |ORDER BY user_id""".stripMargin)),

    // Robust outlier detection via MAD (median absolute deviation):
    // the quantile-based robustness ladder's top rung — immune to the
    // very outliers it hunts, unlike mean/stddev z-scores. Two digest
    // rounds (per-group median, then median of |x−med|), each a
    // partial-aggregable exact-percentile broadcast back onto the
    // facts; the 1.4826 factor rescales MAD to σ-equivalents.
    QueryDef("q_mad_outliers",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .select(col("event_type"), col("value"))
        val med = ev.groupBy(col("event_type"))
          .agg(graft.functions.ExactPercentile
            .percentiles(col("value"), Seq(0.5)).getItem(0).as("med"))
        val withDev = ev.join(broadcast(med), "event_type")
          .withColumn("__dev", abs(col("value") - col("med")))
        val mad = withDev.groupBy(col("event_type"))
          .agg(graft.functions.ExactPercentile
            .percentiles(col("__dev"), Seq(0.5)).getItem(0).as("mad"))
        withDev.join(broadcast(mad), "event_type")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            round(max(col("med")), 4).as("median"),
            round(max(col("mad")), 4).as("mad"),
            sum(when(col("__dev") > col("mad") * 3 * 1.4826, 1L)
              .otherwise(0L)).as("n_outliers"))
          .orderBy(col("event_type"))
      },
      Some("""WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
             |  FROM events GROUP BY 1),
             |dev AS (SELECT e.event_type, e.value, med.med,
             |    abs(e.value - med.med) AS dv
             |  FROM events e JOIN med USING (event_type)),
             |mad AS (SELECT event_type, quantile_cont(dv, 0.5) AS mad
             |  FROM dev GROUP BY 1)
             |SELECT dev.event_type, count(*) AS n,
             |  round(max(dev.med), 4) AS median,
             |  round(max(mad.mad), 4) AS mad,
             |  sum(CASE WHEN dev.dv > mad.mad * 3 * 1.4826 THEN 1 ELSE 0 END)::BIGINT AS n_outliers
             |FROM dev JOIN mad USING (event_type)
             |GROUP BY dev.event_type ORDER BY dev.event_type""".stripMargin)),

    // Sensor drift detection — least-squares slope of value over time
    // per sensor channel, computed from EXACT sums: x is integer days
    // since epoch, y accumulates as decimal, so Σx, Σy, Σxy, Σx² are
    // all partition-order independent and the closed-form slope
    // (n·Σxy − ΣxΣy)/(n·Σx² − (Σx)²) is one double division at the
    // end — the built-in regr_slope float-sums in partition order and
    // could not hash-match. One aggregate pass, no window.
    QueryDef("q_sensor_drift",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .select(col("event_type"),
            datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("x"),
            col("value").cast("decimal(18,2)").as("y"))
        ev.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("x")).as("sx"),
            sum(col("y")).as("sy"),
            sum(col("y") * col("x").cast("decimal(9,0)")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"))
          .select(col("event_type"), col("n"),
            round((col("n").cast("double") * col("sxy").cast("double")
                - col("sx").cast("double") * col("sy").cast("double"))
              / (col("n").cast("double") * col("sxx").cast("double")
                - col("sx").cast("double") * col("sx").cast("double")), 9)
              .as("slope_per_day"))
          .orderBy(col("event_type"))
      },
      Some("""WITH t AS (SELECT event_type,
             |    date_diff('day', DATE '1970-01-01', ts::DATE)::BIGINT AS x,
             |    CAST(value AS DECIMAL(18,2)) AS y
             |  FROM events),
             |a AS (SELECT event_type, count(*) AS n,
             |    sum(x)::BIGINT AS sx, sum(y) AS sy,
             |    sum(y * x::DECIMAL(9,0)) AS sxy, sum(x * x)::BIGINT AS sxx
             |  FROM t GROUP BY 1)
             |SELECT event_type, n,
             |  round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
             |    / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE), 9) AS slope_per_day
             |FROM a ORDER BY event_type""".stripMargin)),

    // Sensor gap/health report — the liveness check a fleet monitor
    // runs: per sensor, reading count, max silence between consecutive
    // readings, and mean cadence ((last−first)/(n−1), exact integer
    // micros). One shuffle into an ordered lag window per key.
    QueryDef("q_gap_report",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        graft.sources.Tables.events(s, d)
          .filter(col("user_id") < 100)
          .withColumn("__us", unix_micros(col("ts")))
          .withColumn("__gap", col("__us") - lag(col("__us"), 1).over(w))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"),
            max(col("__gap")).as("max_gap_us"),
            max(col("__us")).as("__mx"), min(col("__us")).as("__mn"))
          // integer division (`div`), matching the oracle's `//`
          .select(col("user_id"), col("n"), col("max_gap_us"),
            expr("(__mx - __mn) div greatest(n - 1, 1L)").as("mean_cadence_us"))
          .orderBy(col("user_id"))
      },
      Some("""WITH l AS (SELECT user_id, epoch_us(ts) AS us,
             |    epoch_us(ts) - lag(epoch_us(ts))
             |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
             |  FROM events WHERE user_id < 100)
             |SELECT user_id, count(*) AS n,
             |  max(gap)::BIGINT AS max_gap_us,
             |  ((max(us) - min(us)) // greatest(count(*) - 1, 1))::BIGINT AS mean_cadence_us
             |FROM l GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Funnel analysis — ordered multi-step conversion: for each user,
    // the first click and whether a purchase followed within 10
    // minutes. Both steps pre-aggregate per user BEFORE joining (two
    // key-digest tables meet, not two fact tables), and the funnel
    // condition is a per-user min over qualifying purchases — no
    // window over the raw stream, no per-user sort.
    QueryDef("q_funnel",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
        val firstClick = ev.filter(col("event_type") === "click")
          .groupBy(col("user_id"))
          .agg(min(unix_micros(col("ts"))).as("click_us"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), unix_micros(col("ts")).as("p_us"))
        val conv = firstClick.join(purchases, Seq("user_id"), "left")
          .groupBy(col("user_id"), col("click_us"))
          .agg(min(when(col("p_us") >= col("click_us") &&
            col("p_us") <= col("click_us") + 600000000L, col("p_us")))
            .as("conv_us"))
        conv.agg(count(lit(1)).as("n_clickers"),
          sum(when(col("conv_us").isNotNull, 1L).otherwise(0L)).as("n_converted"),
          round(sum(when(col("conv_us").isNotNull, 1L).otherwise(0L))
            .cast("double") / count(lit(1)), 6).as("conv_rate"),
          round((sum(when(col("conv_us").isNotNull,
              col("conv_us") - col("click_us")).otherwise(0L)).cast("double")
            / greatest(sum(when(col("conv_us").isNotNull, 1L).otherwise(0L)),
              lit(1L))) / 1000000.0, 6).as("avg_latency_sec"))
      },
      Some("""WITH fc AS (SELECT user_id, min(epoch_us(ts)) AS click_us
             |  FROM events WHERE event_type = 'click' GROUP BY 1),
             |p AS (SELECT user_id, epoch_us(ts) AS p_us
             |  FROM events WHERE event_type = 'purchase'),
             |conv AS (SELECT fc.user_id, fc.click_us,
             |    min(CASE WHEN p.p_us >= fc.click_us
             |             AND p.p_us <= fc.click_us + 600000000 THEN p.p_us END) AS conv_us
             |  FROM fc LEFT JOIN p ON p.user_id = fc.user_id
             |  GROUP BY fc.user_id, fc.click_us)
             |SELECT count(*) AS n_clickers,
             |  sum(CASE WHEN conv_us IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_converted,
             |  round(sum(CASE WHEN conv_us IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS conv_rate,
             |  round((sum(CASE WHEN conv_us IS NOT NULL THEN conv_us - click_us ELSE 0 END)::DOUBLE
             |    / greatest(sum(CASE WHEN conv_us IS NOT NULL THEN 1 ELSE 0 END), 1)) / 1000000.0, 6) AS avg_latency_sec
             |FROM conv""".stripMargin)),

    // Retention cohorts — the activation matrix: users grouped by
    // their FIRST-seen day, then counted on each later day they
    // return. First-seen is one aggregate; the matrix is one join of
    // (user, active-day) against the cohort digest — the standard
    // two-scan shape, no cross product, no per-user windows.
    QueryDef("q_retention",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .select(col("user_id"), to_date(col("ts")).as("day"))
        val active = ev.distinct()
        val cohort = active.groupBy(col("user_id"))
          .agg(min(col("day")).as("cohort_day"))
        active.join(cohort, "user_id")
          .select(col("cohort_day"),
            datediff(col("day"), col("cohort_day")).as("day_offset"))
          .filter(col("day_offset") <= 7)
          .groupBy(col("cohort_day"), col("day_offset"))
          .agg(count(lit(1)).as("n_users"))
          .select(col("cohort_day").cast("string").as("cohort_day"),
            col("day_offset"), col("n_users"))
          .orderBy(col("cohort_day"), col("day_offset"))
      },
      Some("""WITH a AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events),
             |c AS (SELECT user_id, min(day) AS cohort_day FROM a GROUP BY 1)
             |SELECT (c.cohort_day)::VARCHAR AS cohort_day,
             |  (a.day - c.cohort_day) AS day_offset,
             |  count(*) AS n_users
             |FROM a JOIN c USING (user_id)
             |WHERE (a.day - c.cohort_day) <= 7
             |GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin)),

    // Debounce / repeat suppression — the sensor-cleaning op that
    // drops a reading when it repeats the key's previous value
    // (stuck-sensor and chatty-transmitter mitigation). One shuffle by
    // key into an ordered lag window; emits the survivors plus how
    // many repeats each one absorbed.
    QueryDef("q_debounce",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        graft.sources.Tables.events(s, d)
          .filter(col("user_id") < 100)
          .withColumn("__prev", lag(col("value"), 1).over(w))
          .withColumn("__new", (col("__prev").isNull ||
            col("value") =!= col("__prev")).cast("int"))
          .withColumn("__grp", sum(col("__new")).over(
            Window.partitionBy(col("user_id"))
              .orderBy(col("ts"), col("event_id"))
              .rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy(col("user_id"), col("__grp"))
          // arg-min by (ts, event_id) picks the run's FIRST event;
          // value is constant within a run so min() is exact
          .agg(min_by(col("event_id"), struct(col("ts"), col("event_id")))
              .as("event_id"),
            count(lit(1)).as("run_len"),
            min(col("value")).as("value"))
          .select(col("event_id"), col("user_id"), col("value"),
            col("run_len"))
          .orderBy(col("event_id"))
      },
      Some("""WITH l AS (SELECT event_id, user_id, value, ts,
             |    lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
             |  FROM events WHERE user_id < 100),
             |g AS (SELECT event_id, user_id, value, ts,
             |    sum(CASE WHEN prev IS NULL OR value != prev THEN 1 ELSE 0 END)
             |      OVER (PARTITION BY user_id ORDER BY ts, event_id
             |            ROWS UNBOUNDED PRECEDING) AS grp
             |  FROM l)
             |SELECT first(event_id ORDER BY ts, event_id) AS event_id,
             |  user_id, min(value) AS value, count(*) AS run_len
             |FROM g GROUP BY user_id, grp ORDER BY event_id""".stripMargin)),

    // Per-key EWMA (exponential smoothing, α = 0.2) — the classic
    // sensor-stream filter, and a genuinely SEQUENTIAL recurrence
    // (y_i = αx_i + (1−α)y_{i−1}) no window frame can express. Spelled
    // as one ordered fold per key: collect the key's series, sort once,
    // fold left — state is per-key and keys process in parallel, so at
    // scale this is one shuffle by user_id with O(history) memory per
    // key (the unbounded-history variant is exactly what
    // mapGroupsWithState runs incrementally in q_stream_sessionize's
    // machinery). Both engines run the IDENTICAL fold order, so the
    // doubles match bit-for-bit before rounding.
    QueryDef("q_ewma_smooth",
      (s, d) => graft.sources.Tables.events(s, d)
        .filter(col("user_id") < 50)
        .groupBy(col("user_id"))
        .agg(sort_array(collect_list(
          struct(col("ts"), col("event_id"), col("value")))).as("__seq"))
        .select(col("user_id"), size(col("__seq")).as("n"),
          round(aggregate(col("__seq"), lit(0.0),
            (acc, x) => lit(0.2) * x.getField("value") + lit(0.8) * acc), 6)
            .as("ewma_last"))
        .orderBy(col("user_id")),
      Some("""SELECT user_id, len(list(value)) AS n,
             |  round(list_reduce(
             |    list_prepend(0.0::DOUBLE, list(value ORDER BY ts, event_id)::DOUBLE[]),
             |    (acc, x) -> 0.2::DOUBLE * x + 0.8::DOUBLE * acc), 6) AS ewma_last
             |FROM events WHERE user_id < 50
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Per-sensor lag-1 autocorrelation — the periodicity/stuck-sensor
    // diagnostic: Pearson r between consecutive readings of each
    // user's series. One shuffle by user_id into an ordered lag
    // window (keys process in parallel), then a closed-form r from
    // EXACT decimal sums — the same trick as q_sensor_drift: Σx, Σy,
    // Σxy, Σx², Σy² accumulate as decimals (partition-order
    // independent), and r is one double expression at the end. The
    // built-in corr() float-sums in partition order and could not
    // hash-match. Degenerate keys (n<3 or zero variance) are excluded
    // by exact comparisons, so both engines keep the same keys.
    QueryDef("q_autocorr",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val pairs = graft.sources.Tables.events(s, d)
          .filter(col("user_id") < 200)
          .withColumn("__y", col("value").cast("decimal(18,2)"))
          .withColumn("__x", lag(col("__y"), 1).over(w))
          .filter(col("__x").isNotNull)
        val sums = pairs.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"),
            sum(col("__x")).as("sx"), sum(col("__y")).as("sy"),
            sum(col("__x") * col("__y")).as("sxy"),
            sum(col("__x") * col("__x")).as("sxx"),
            sum(col("__y") * col("__y")).as("syy"))
        val nD = col("n").cast("double")
        val dx = nD * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double")
        val dy = nD * col("syy").cast("double") -
          col("sy").cast("double") * col("sy").cast("double")
        sums.filter(col("n") >= 3 && dx > 0 && dy > 0)
          .select(col("user_id"), col("n").as("n_pairs"),
            round((nD * col("sxy").cast("double") -
              col("sx").cast("double") * col("sy").cast("double"))
              / sqrt(dx * dy), 9).as("lag1_corr"))
          .orderBy(col("user_id"))
      },
      Some("""WITH l AS (SELECT user_id, CAST(value AS DECIMAL(18,2)) AS y,
             |    lag(CAST(value AS DECIMAL(18,2)))
             |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS x
             |  FROM events WHERE user_id < 200),
             |a AS (SELECT user_id, count(*) AS n,
             |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
             |    sum(x * x) AS sxx, sum(y * y) AS syy
             |  FROM l WHERE x IS NOT NULL GROUP BY 1)
             |SELECT user_id, n AS n_pairs,
             |  round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
             |    / sqrt((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
             |         * (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)), 9) AS lag1_corr
             |FROM a
             |WHERE n >= 3
             |  AND (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) > 0
             |  AND (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE) > 0
             |ORDER BY user_id""".stripMargin)),

    // Event-type transition matrix — the Markov-chain view of the
    // event stream: count (previous type -> type) transitions within
    // each user's ordered stream, with the per-source transition
    // probability. One shuffle by user_id for the lag window; the
    // matrix itself is a tiny |types|² aggregate, so the probability
    // normalization is a window over 25 rows, not over the stream.
    QueryDef("q_event_transitions",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val t = graft.sources.Tables.events(s, d)
          .withColumn("__prev", lag(col("event_type"), 1).over(w))
          .filter(col("__prev").isNotNull)
          .groupBy(col("__prev").as("prev_type"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        t.withColumn("p", round(col("n").cast("double") /
            sum(col("n")).over(Window.partitionBy(col("prev_type"))), 6))
          .orderBy(col("prev_type"), col("event_type"))
      },
      Some("""WITH l AS (SELECT user_id, event_type,
             |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
             |  FROM events),
             |t AS (SELECT prev AS prev_type, event_type, count(*) AS n
             |  FROM l WHERE prev IS NOT NULL GROUP BY 1, 2)
             |SELECT prev_type, event_type, n,
             |  round(n::DOUBLE / sum(n) OVER (PARTITION BY prev_type), 6) AS p
             |FROM t ORDER BY prev_type, event_type""".stripMargin)),

    // Data-quality expectation suite — the validation pass a warehouse
    // runs before publishing a table: PK uniqueness, FK integrity,
    // null rate, value-range and domain checks, one row per check.
    // All the single-table checks FUSE into one aggregate scan per
    // table (not one scan per check); the FK check joins two
    // distinct-key digests, never the fact tables themselves.
    QueryDef("q_dq_expectations",
      (s, d) => {
        val li = graft.sources.Tables.load(s, d, "lineitem")
        val ord = graft.sources.Tables.load(s, d, "orders")
        def checkRow(name: String, checked: org.apache.spark.sql.Column,
                     bad: org.apache.spark.sql.Column) =
          struct(lit(name).as("check"), checked.as("n_checked"),
            bad.as("n_violations"))
        // one scan over lineitem: PK duplicates + the range checks
        val liChecks = li.agg(
          count(lit(1)).as("n"),
          count_distinct(struct(col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), col("l_suppkey"))).as("nd"),
          sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1L)
            .otherwise(0L)).as("disc_bad"),
          sum(when(col("l_quantity") <= 0, 1L).otherwise(0L)).as("qty_bad"),
          sum(when(col("l_shipdate") < lit("1992-01-01").cast("timestamp") ||
            col("l_shipdate") >= lit("1999-01-01").cast("timestamp"), 1L)
            .otherwise(0L)).as("date_bad"))
          .select(explode(array(
            checkRow("lineitem_pk_unique", col("n"), col("n") - col("nd")),
            checkRow("lineitem_discount_range", col("n"), col("disc_bad")),
            checkRow("lineitem_quantity_positive", col("n"), col("qty_bad")),
            checkRow("lineitem_shipdate_bounds", col("n"), col("date_bad"))))
            .as("r"))
        // one scan over orders: null FK + status domain
        val ordChecks = ord.agg(
          count(lit(1)).as("n"),
          sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("null_cust"),
          sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L)
            .otherwise(0L)).as("bad_status"))
          .select(explode(array(
            checkRow("orders_custkey_not_null", col("n"), col("null_cust")),
            checkRow("orders_status_domain", col("n"), col("bad_status"))))
            .as("r"))
        // FK integrity: two distinct-key digests meet, ids only
        val fkCheck = li.select(col("l_orderkey")).distinct()
          .join(ord.select(col("o_orderkey")),
            col("l_orderkey") === col("o_orderkey"), "left")
          .agg(count(lit(1)).as("n"),
            sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("orphans"))
          .select(explode(array(
            checkRow("lineitem_fk_orders", col("n"), col("orphans")))).as("r"))
        liChecks.union(ordChecks).union(fkCheck)
          .select(col("r.check").as("check"), col("r.n_checked").as("n_checked"),
            col("r.n_violations").as("n_violations"))
          .withColumn("pass", (col("n_violations") === 0).cast("int"))
          .orderBy(col("check"))
      },
      Some("""WITH li AS (SELECT count(*) AS n,
             |    (SELECT count(*) FROM (SELECT DISTINCT l_orderkey, l_linenumber,
             |       l_partkey, l_suppkey FROM lineitem)) AS nd,
             |    sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS disc_bad,
             |    sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS qty_bad,
             |    sum(CASE WHEN l_shipdate < TIMESTAMP '1992-01-01'
             |          OR l_shipdate >= TIMESTAMP '1999-01-01' THEN 1 ELSE 0 END) AS date_bad
             |  FROM lineitem),
             |o AS (SELECT count(*) AS n,
             |    sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS null_cust,
             |    sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS bad_status
             |  FROM orders),
             |fk AS (SELECT count(*) AS n,
             |    sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS orphans
             |  FROM (SELECT DISTINCT l_orderkey FROM lineitem) k
             |  LEFT JOIN orders o ON k.l_orderkey = o.o_orderkey),
             |u AS (
             |  SELECT 'lineitem_pk_unique' AS check, n AS n_checked, n - nd AS n_violations FROM li
             |  UNION ALL SELECT 'lineitem_discount_range', n, disc_bad FROM li
             |  UNION ALL SELECT 'lineitem_quantity_positive', n, qty_bad FROM li
             |  UNION ALL SELECT 'lineitem_shipdate_bounds', n, date_bad FROM li
             |  UNION ALL SELECT 'orders_custkey_not_null', n, null_cust FROM o
             |  UNION ALL SELECT 'orders_status_domain', n, bad_status FROM o
             |  UNION ALL SELECT 'lineitem_fk_orders', n, orphans FROM fk)
             |SELECT "check", n_checked::BIGINT AS n_checked,
             |  n_violations::BIGINT AS n_violations,
             |  CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS pass
             |FROM u ORDER BY "check"""".stripMargin)),

    // TPC-H Q7-shaped volume shipping — revenue flowing between two
    // nations by ship year. Both dimension chains are PRE-FILTERED to
    // the two nations before touching the facts (the filter reaches
    // the supplier/customer scans, so the fact joins only see rows
    // that can survive the pair predicate), nations/supplier
    // broadcast, and the asymmetric pair condition applies to the
    // tiny post-join name pair, not the stream.
    QueryDef("q7_volume_shipping",
      (s, d) => {
        val pair = Seq("NATION_1", "NATION_2")
        val n = graft.sources.Tables.load(s, d, "nation")
          .filter(col("n_name").isin(pair: _*))
          .select("n_nationkey", "n_name")
        val sup = graft.sources.Tables.load(s, d, "supplier")
          .join(broadcast(n.withColumnRenamed("n_name", "supp_nation")),
            col("s_nationkey") === col("n_nationkey"))
          .select("s_suppkey", "supp_nation")
        val cust = graft.sources.Tables.load(s, d, "customer")
          .join(broadcast(n.withColumnRenamed("n_name", "cust_nation")),
            col("c_nationkey") === col("n_nationkey"))
          .select("c_custkey", "cust_nation")
        val o = graft.sources.Tables.load(s, d, "orders")
          .select("o_orderkey", "o_custkey")
        val li = graft.sources.Tables.load(s, d, "lineitem")
          .select("l_orderkey", "l_suppkey", "l_shipdate",
            "l_extendedprice", "l_discount")
        li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .filter(col("supp_nation") =!= col("cust_nation"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).as("l_year"))
          .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
            (lit(1) - col("l_discount")).cast("decimal(4,2)")).cast("double")
            .as("revenue"))
          .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      },
      Some("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             |  year(l_shipdate) AS l_year,
             |  sum(CAST(l_extendedprice AS DECIMAL(12,2))
             |    * CAST(1 - l_discount AS DECIMAL(4,2)))::DOUBLE AS revenue
             |FROM lineitem
             |  JOIN supplier ON s_suppkey = l_suppkey
             |  JOIN nation n1 ON n1.n_nationkey = s_nationkey
             |  JOIN orders ON o_orderkey = l_orderkey
             |  JOIN customer ON c_custkey = o_custkey
             |  JOIN nation n2 ON n2.n_nationkey = c_nationkey
             |WHERE n1.n_name IN ('NATION_1', 'NATION_2')
             |  AND n2.n_name IN ('NATION_1', 'NATION_2')
             |  AND n1.n_name <> n2.n_name
             |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // TPC-H Q14-shaped promo revenue share — a conditional-ratio
    // aggregate over one selective month (the shipdate predicate
    // pushes into the parquet scan). part is a broadcast dim; both
    // the promo and total revenue accumulate as exact decimals and
    // meet in ONE double division at the end.
    QueryDef("q14_promo_share",
      (s, d) => {
        val p = graft.sources.Tables.load(s, d, "part").select("p_partkey", "p_type")
        val rev = col("l_extendedprice").cast("decimal(12,2)") *
          (lit(1) - col("l_discount")).cast("decimal(4,2)")
        graft.sources.Tables.load(s, d, "lineitem")
          .filter(col("l_shipdate") >= lit("1995-09-01").cast("timestamp") &&
            col("l_shipdate") < lit("1995-10-01").cast("timestamp"))
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .agg(
            sum(when(col("p_type") === "PROMO", rev)
              .otherwise(lit(0).cast("decimal(12,2)"))).as("__promo"),
            sum(rev).as("__total"))
          .select(round(lit(100.0) * col("__promo").cast("double") /
            col("__total").cast("double"), 6).as("promo_revenue_pct"))
      },
      Some("""SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
             |    THEN CAST(l_extendedprice AS DECIMAL(12,2))
             |      * CAST(1 - l_discount AS DECIMAL(4,2))
             |    ELSE CAST(0 AS DECIMAL(12,2)) END)::DOUBLE
             |  / sum(CAST(l_extendedprice AS DECIMAL(12,2))
             |      * CAST(1 - l_discount AS DECIMAL(4,2)))::DOUBLE, 6)
             |  AS promo_revenue_pct
             |FROM lineitem JOIN part ON p_partkey = l_partkey
             |WHERE l_shipdate >= TIMESTAMP '1995-09-01'
             |  AND l_shipdate < TIMESTAMP '1995-10-01'""".stripMargin)),

    // Correlated-subquery decorrelation — "parts priced above their
    // type's average", the textbook shape every optimizer must turn
    // into a group-digest join. The oracle SPELLS the correlated
    // subquery (DuckDB decorrelates it); the Spark side is the
    // decorrelated plan itself: a 6-row per-type average digest
    // broadcast back onto the scan. The per-type mean divides exact
    // decimal sums once, so both engines compare against the
    // identical double.
    QueryDef("q_above_avg_parts",
      (s, d) => {
        val p = graft.sources.Tables.load(s, d, "part")
        val avgT = p.groupBy(col("p_type").as("t"))
          .agg((sum(col("p_retailprice").cast("decimal(18,2)")).cast("double")
            / count(lit(1))).as("type_avg"))
        p.join(broadcast(avgT), col("p_type") === col("t"))
          .filter(col("p_retailprice") > col("type_avg"))
          .select(col("p_partkey"), col("p_type"), col("p_retailprice"),
            round(col("type_avg"), 6).as("type_avg"))
          .orderBy(col("p_partkey"))
      },
      Some("""SELECT p_partkey, p_type, p_retailprice,
             |  round((SELECT sum(CAST(p2.p_retailprice AS DECIMAL(18,2)))::DOUBLE
             |       / count(*) FROM part p2 WHERE p2.p_type = p.p_type), 6) AS type_avg
             |FROM part p
             |WHERE p_retailprice > (SELECT sum(CAST(p2.p_retailprice AS DECIMAL(18,2)))::DOUBLE
             |       / count(*) FROM part p2 WHERE p2.p_type = p.p_type)
             |ORDER BY p_partkey""".stripMargin)),

    // Seasonal baseline + residual anomalies — the hour-of-day
    // profile detector: each (event_type, hour-of-day) cell gets an
    // exact mean/variance digest (decimal Σv, Σv² — partition-order
    // independent), the 120-row digest broadcasts back onto the
    // facts, and a reading is anomalous when it sits more than 3σ
    // from its cell's seasonal mean. Two scans of the facts, no
    // window, no shuffle of the stream itself.
    QueryDef("q_seasonal_anomaly",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .select(col("event_type"), hour(col("ts")).as("hr"),
            col("value").cast("decimal(18,2)").as("v"))
        val prof = ev.groupBy(col("event_type"), col("hr"))
          .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
            sum(col("v") * col("v")).as("svv"))
          .select(col("event_type"), col("hr"), col("n"),
            (col("sv").cast("double") / col("n").cast("double")).as("mu"),
            (col("svv").cast("double") / col("n").cast("double") -
              (col("sv").cast("double") / col("n").cast("double")) *
              (col("sv").cast("double") / col("n").cast("double"))).as("var"))
        ev.join(broadcast(prof), Seq("event_type", "hr"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(when((col("v").cast("double") - col("mu")) *
              (col("v").cast("double") - col("mu")) > col("var") * 9, 1L)
              .otherwise(0L)).as("n_anomalies"))
          .orderBy(col("event_type"))
      },
      Some("""WITH t AS (SELECT event_type, hour(ts) AS hr,
             |    CAST(value AS DECIMAL(18,2)) AS v FROM events),
             |p AS (SELECT event_type, hr, count(*) AS n, sum(v) AS sv,
             |    sum(v * v) AS svv FROM t GROUP BY 1, 2),
             |d AS (SELECT event_type, hr,
             |    sv::DOUBLE / n::DOUBLE AS mu,
             |    svv::DOUBLE / n::DOUBLE
             |      - (sv::DOUBLE / n::DOUBLE) * (sv::DOUBLE / n::DOUBLE) AS var
             |  FROM p)
             |SELECT t.event_type, count(*) AS n,
             |  sum(CASE WHEN (t.v::DOUBLE - d.mu) * (t.v::DOUBLE - d.mu)
             |        > d.var * 9 THEN 1 ELSE 0 END)::BIGINT AS n_anomalies
             |FROM t JOIN d ON t.event_type = d.event_type AND t.hr = d.hr
             |GROUP BY t.event_type ORDER BY t.event_type""".stripMargin)),

    // Dynamic partition OVERWRITE — the backfill/correction op every
    // day-partitioned warehouse table lives by: rewrite exactly ONE
    // day's partition (values doubled, re-derived from the original
    // table each run, so the op is idempotent) while every other
    // partition's files stay untouched. partitionOverwriteMode=dynamic
    // means only partitions present in the written frame are replaced
    // — a static overwrite would truncate the table. The oracle
    // applies the same day-targeted correction in SQL, so an
    // overwrite that clobbered more (or less) than the target
    // partition hash-fails.
    QueryDef("q_partition_overwrite",
      (s, d) => {
        val base = dayPartitionedCopyOf(s, d)
        val ev = graft.sources.Tables.events(s, d)
          .select(col("ts"), col("event_type"),
            col("value").cast("decimal(18,2)").as("value"),
            to_date(col("ts")).as("day"))
        val tgt = ev.agg(date_add(min(col("day")), 5)).head().getDate(0)
        val corrected = ev.filter(col("day") === lit(tgt))
          .withColumn("value", (col("value") * 2).cast("decimal(18,2)"))
        corrected.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("day").parquet(base)
        s.read.parquet(base)
          .groupBy(col("day").cast("string").as("day"))
          .agg(count(lit(1)).as("n"),
            sum(col("value")).cast("double").as("sum_value"))
          .orderBy(col("day"))
      },
      Some("""WITH c AS (SELECT min(ts)::DATE + 5 AS tgt FROM events)
             |SELECT (ts::DATE)::VARCHAR AS day, count(*) AS n,
             |  sum(CASE WHEN ts::DATE = c.tgt
             |        THEN CAST(value AS DECIMAL(18,2)) * 2
             |        ELSE CAST(value AS DECIMAL(18,2)) END)::DOUBLE AS sum_value
             |FROM events, c GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Cross-correlation between two sensor channels at lags 0-3 — the
    // multi-sensor alignment diagnostic (does the view channel follow
    // the click channel, and by how many ticks?). Both channels are
    // first resampled to dense per-minute counts on the shared grid
    // (missing minutes count 0 — a gapped series would silently
    // misalign the lag), then each lag's Pearson r comes closed-form
    // from exact INTEGER sums: one shuffle keyed on grid minute, 4
    // lag replicas of the tiny digest-side, no global sort.
    QueryDef("q_xcorr",
      (s, d) => {
        val MinUs = 60000000L
        val ev = graft.sources.Tables.events(s, d)
        val r = ev.agg(min(unix_micros(col("ts"))),
          max(unix_micros(col("ts")))).head()
        val mnLo = Math.floorDiv(r.getLong(0), MinUs)
        val nMin = Math.floorDiv(r.getLong(1), MinUs) - mnLo + 1
        val c = ev.groupBy(expr(s"unix_micros(ts) div ${MinUs}L").as("mn"))
          .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("a"),
            sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("b"))
        val m = s.range(nMin).select((lit(mnLo) + col("id")).as("mn"))
          .join(c, Seq("mn"), "left")
          .select(col("mn"), coalesce(col("a"), lit(0L)).as("a"),
            coalesce(col("b"), lit(0L)).as("b"))
        val lags = s.range(4).select(col("id").as("lag"))
        val x = m.crossJoin(broadcast(lags))
          .select(col("lag"), (col("mn") - col("lag")).as("ymn"), col("a"))
        val y = m.select(col("mn").as("ymn"), col("b"))
        x.join(y, "ymn")
          .groupBy(col("lag"))
          .agg(count(lit(1)).as("n"),
            sum(col("a")).as("sa"), sum(col("b")).as("sb"),
            sum(col("a") * col("b")).as("sab"),
            sum(col("a") * col("a")).as("saa"),
            sum(col("b") * col("b")).as("sbb"))
          .select(col("lag"), col("n"),
            round((col("n") * col("sab") - col("sa") * col("sb")).cast("double")
              / sqrt((col("n") * col("saa") - col("sa") * col("sa")).cast("double")
                * (col("n") * col("sbb") - col("sb") * col("sb")).cast("double")), 9)
              .as("xcorr"))
          .orderBy(col("lag"))
      },
      Some("""WITH w AS (SELECT epoch_us(min(ts)) // 60000000 AS lo,
             |    epoch_us(max(ts)) // 60000000 AS hi FROM events),
             |g AS (SELECT lo + unnest(range(0, hi - lo + 1)) AS mn FROM w),
             |c AS (SELECT epoch_us(ts) // 60000000 AS mn,
             |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS a,
             |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS b
             |  FROM events GROUP BY 1),
             |m AS (SELECT g.mn, coalesce(c.a, 0) AS a, coalesce(c.b, 0) AS b
             |  FROM g LEFT JOIN c USING (mn)),
             |l AS (SELECT unnest(range(0, 4)) AS lag),
             |p AS (SELECT l.lag, x.a, y.b
             |  FROM l CROSS JOIN m x JOIN m y ON y.mn = x.mn - l.lag),
             |a AS (SELECT lag, count(*) AS n, sum(a)::BIGINT AS sa,
             |    sum(b)::BIGINT AS sb, sum(a * b)::BIGINT AS sab,
             |    sum(a * a)::BIGINT AS saa, sum(b * b)::BIGINT AS sbb
             |  FROM p GROUP BY 1)
             |SELECT lag, n,
             |  round((n * sab - sa * sb)::DOUBLE
             |    / sqrt((n * saa - sa * sa)::DOUBLE * (n * sbb - sb * sb)::DOUBLE), 9)
             |    AS xcorr
             |FROM a ORDER BY lag""".stripMargin)),

    // SCD Type-2 dimension build — the versioned-history pattern:
    // each change of a user's event_type opens a new version row with
    // [valid_from, valid_to) validity and an is_current flag, so any
    // point-in-time state is one range lookup away. Change points
    // come from a per-key lag window (one shuffle by user), versions
    // from a second window over the change rows only — the stream
    // never sorts globally.
    QueryDef("q_scd2_dim",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val chg = graft.sources.Tables.events(s, d)
          .filter(col("user_id") < 100)
          .withColumn("__prev", lag(col("event_type"), 1).over(w))
          .filter(col("__prev").isNull || col("event_type") =!= col("__prev"))
        val wc = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        chg.withColumn("version", row_number().over(wc))
          .withColumn("valid_to", lead(col("ts"), 1).over(wc))
          .select(col("user_id"), col("version"), col("event_type"),
            col("ts").as("valid_from"), col("valid_to"),
            col("valid_to").isNull.cast("int").as("is_current"))
          .orderBy(col("user_id"), col("version"))
      },
      Some("""WITH l AS (SELECT user_id, event_id, ts, event_type,
             |    lag(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS prev
             |  FROM events WHERE user_id < 100),
             |c AS (SELECT user_id, event_id, ts, event_type FROM l
             |  WHERE prev IS NULL OR event_type <> prev)
             |SELECT user_id,
             |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS version,
             |  event_type, ts AS valid_from,
             |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
             |  CASE WHEN lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             |    IS NULL THEN 1 ELSE 0 END AS is_current
             |FROM c ORDER BY user_id, version""".stripMargin)),

    // Two-sample Kolmogorov-Smirnov statistic — the distribution-shift
    // test to go with q_qq_compare: D = max |CDF_a − CDF_b| over a
    // 0.1-quantized value grid (the quantization bounds the CDF digest
    // by the value domain, not the row count — that digest, not the
    // stream, feeds the one ordered window). Counts are exact ints;
    // the CDF difference is one double expression per grid cell.
    QueryDef("q_ks_test",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .filter(col("event_type").isin("click", "error"))
          .select(col("event_type"),
            floor(col("value") * 10).cast("long").as("v10"))
        val cnt = ev.groupBy(col("v10"))
          .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("na"),
            sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("nb"))
        val w = Window.orderBy(col("v10"))
          .rowsBetween(Window.unboundedPreceding, 0)
        val tot = cnt.agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb"))
        cnt.withColumn("ca", sum(col("na")).over(w))
          .withColumn("cb", sum(col("nb")).over(w))
          .crossJoin(broadcast(tot))
          .agg(max(col("ta")).as("n_click"), max(col("tb")).as("n_error"),
            round(max(abs(col("ca").cast("double") / col("ta").cast("double")
              - col("cb").cast("double") / col("tb").cast("double"))), 6)
              .as("ks_d"))
      },
      Some("""WITH ev AS (SELECT event_type,
             |    CAST(floor(value * 10) AS BIGINT) AS v10
             |  FROM events WHERE event_type IN ('click', 'error')),
             |c AS (SELECT v10,
             |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS na,
             |    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS nb
             |  FROM ev GROUP BY 1),
             |t AS (SELECT sum(na)::BIGINT AS ta, sum(nb)::BIGINT AS tb FROM c),
             |cum AS (SELECT v10,
             |    sum(na) OVER (ORDER BY v10 ROWS UNBOUNDED PRECEDING) AS ca,
             |    sum(nb) OVER (ORDER BY v10 ROWS UNBOUNDED PRECEDING) AS cb
             |  FROM c)
             |SELECT max(t.ta) AS n_click, max(t.tb) AS n_error,
             |  round(max(abs(cum.ca::DOUBLE / t.ta::DOUBLE
             |    - cum.cb::DOUBLE / t.tb::DOUBLE)), 6) AS ks_d
             |FROM cum, t""".stripMargin)),

    // Per-user behavioral entropy — how diverse is each user's event
    // mix: Shannon entropy of the user's event-type distribution. One
    // aggregate to the (user, type) digest; per-cell entropy terms
    // rounded once and summed as exact decimals per user.
    QueryDef("q_user_entropy",
      (s, d) => {
        val ut = graft.sources.Tables.events(s, d)
          .filter(col("user_id") < 200)
          .groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        val tot = ut.groupBy(col("user_id")).agg(sum(col("n")).as("t"))
        val p = col("n").cast("double") / col("t").cast("double")
        ut.join(tot, "user_id")
          .withColumn("__h", round(-p * log(p), 9).cast("decimal(20,9)"))
          .groupBy(col("user_id"))
          .agg(max(col("t")).as("n_events"),
            round(sum(col("__h")).cast("double"), 6).as("type_entropy"))
          .orderBy(col("user_id"))
      },
      Some("""WITH ut AS (SELECT user_id, event_type, count(*) AS n
             |  FROM events WHERE user_id < 200 GROUP BY 1, 2),
             |t AS (SELECT user_id, sum(n)::BIGINT AS t FROM ut GROUP BY 1),
             |c AS (SELECT ut.user_id, t.t,
             |    round(-(ut.n::DOUBLE / t.t::DOUBLE)
             |      * ln(ut.n::DOUBLE / t.t::DOUBLE), 9)::DECIMAL(20,9) AS h
             |  FROM ut JOIN t USING (user_id))
             |SELECT user_id, max(t)::BIGINT AS n_events,
             |  round(sum(h)::DOUBLE, 6) AS type_entropy
             |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Spearman rank correlation (tie-aware) — the robust monotone-
    // association measure, built WITHOUT a global sort: each column's
    // distinct values (few for these measures) get average ranks from
    // a cumulative window over the tiny value digest; the digests
    // broadcast back onto the facts and Pearson runs on the ranks
    // from exact decimal sums. Average ranks of tied groups are exact
    // halves ((2·cum + cnt + 1)/2 as DECIMAL(18,1)), so every sum is
    // exact and partition-order independent.
    QueryDef("q_spearman_corr",
      (s, d) => {
        val li = graft.sources.Tables.load(s, d, "lineitem")
          .select(col("l_quantity"), col("l_discount"))
        def rankDigest(c: String) = {
          val w = Window.orderBy(col(c))
            .rowsBetween(Window.unboundedPreceding, -1)
          li.groupBy(col(c)).agg(count(lit(1)).as("__cnt"))
            .withColumn("__cum", coalesce(sum(col("__cnt")).over(w), lit(0L)))
            .select(col(c),
              ((col("__cum") * 2 + col("__cnt") + 1).cast("decimal(18,1)") / 2)
                .cast("decimal(18,1)").as(s"__r_$c"))
        }
        val ranked = li
          .join(broadcast(rankDigest("l_quantity")), "l_quantity")
          .join(broadcast(rankDigest("l_discount")), "l_discount")
          .select(col("__r_l_quantity").as("x"), col("__r_l_discount").as("y"))
        val sums = ranked.agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        val nD = col("n").cast("double")
        sums.select(col("n"),
          round((nD * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double"))
            / sqrt((nD * col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double"))
              * (nD * col("syy").cast("double") -
                col("sy").cast("double") * col("sy").cast("double"))), 9)
            .as("spearman_rho"))
      },
      Some("""WITH li AS (SELECT l_quantity, l_discount FROM lineitem),
             |rq AS (SELECT l_quantity,
             |    ((2 * coalesce(sum(cnt) OVER (ORDER BY l_quantity
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + cnt + 1)
             |      ::DECIMAL(18,1) / 2)::DECIMAL(18,1) AS rx
             |  FROM (SELECT l_quantity, count(*) AS cnt FROM li GROUP BY 1)),
             |rd AS (SELECT l_discount,
             |    ((2 * coalesce(sum(cnt) OVER (ORDER BY l_discount
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + cnt + 1)
             |      ::DECIMAL(18,1) / 2)::DECIMAL(18,1) AS ry
             |  FROM (SELECT l_discount, count(*) AS cnt FROM li GROUP BY 1)),
             |t AS (SELECT rq.rx AS x, rd.ry AS y
             |  FROM li JOIN rq USING (l_quantity) JOIN rd USING (l_discount)),
             |a AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             |    sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
             |  FROM t)
             |SELECT n,
             |  round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
             |    / sqrt((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
             |         * (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)), 9)
             |    AS spearman_rho
             |FROM a""".stripMargin)),

    // Quantile-quantile distribution comparison — drift detection
    // between two channels: the exact deciles of each channel's value
    // distribution side by side with their deltas. Two grouped
    // exact-percentile digests (9 rows each) meet in a broadcast join;
    // the facts are scanned once per channel.
    QueryDef("q_qq_compare",
      (s, d) => {
        val qs = (1 to 9).map(_ / 10.0)
        def deciles(t: String) = graft.sources.Tables.events(s, d)
          .filter(col("event_type") === t)
          .agg(graft.functions.ExactPercentile
            .percentiles(col("value"), qs).as("__q"))
          .select(posexplode(col("__q")).as(Seq("__i", s"q_$t")))
        deciles("click").join(broadcast(deciles("error")), "__i")
          .select(((col("__i") + 1) * 10).as("pct"),
            round(col("q_click"), 6).as("q_click"),
            round(col("q_error"), 6).as("q_error"),
            round(col("q_click") - col("q_error"), 6).as("qq_delta"))
          .orderBy(col("pct"))
      },
      Some("""WITH c AS (SELECT unnest(quantile_cont(value,
             |      [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9])) AS q,
             |    generate_subscripts(quantile_cont(value,
             |      [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]), 1) AS i
             |  FROM events WHERE event_type = 'click'),
             |e AS (SELECT unnest(quantile_cont(value,
             |      [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9])) AS q,
             |    generate_subscripts(quantile_cont(value,
             |      [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]), 1) AS i
             |  FROM events WHERE event_type = 'error')
             |SELECT (c.i * 10)::INT AS pct,
             |  round(c.q, 6) AS q_click, round(e.q, 6) AS q_error,
             |  round(c.q - e.q, 6) AS qq_delta
             |FROM c JOIN e ON c.i = e.i ORDER BY pct""".stripMargin)),

    // Chi-square independence audit — is event type independent of
    // day-of-week? Observed contingency counts vs expected
    // (row·col/total), the chi² statistic summed from per-cell exact
    // integer counts in one deterministic double expression. One
    // aggregate scan; the 35-cell contingency table is the only
    // intermediate.
    QueryDef("q_chisq_independence",
      (s, d) => {
        val obs = graft.sources.Tables.events(s, d)
          .groupBy(col("event_type"), dayofweek(col("ts")).as("dow"))
          .agg(count(lit(1)).as("n"))
        val rowT = obs.groupBy(col("event_type")).agg(sum(col("n")).as("n_row"))
        val colT = obs.groupBy(col("dow")).agg(sum(col("n")).as("n_col"))
        val tot = obs.agg(sum(col("n")).as("total"))
        obs.join(broadcast(rowT), "event_type")
          .join(broadcast(colT), "dow")
          .crossJoin(broadcast(tot))
          .withColumn("__exp", col("n_row").cast("double") *
            col("n_col").cast("double") / col("total").cast("double"))
          // per-cell term rounded ONCE, summed as exact decimal —
          // partition-order independent (the unigram-logprob trick)
          .withColumn("__term", round((col("n").cast("double") - col("__exp")) *
            (col("n").cast("double") - col("__exp")) / col("__exp"), 9)
            .cast("decimal(20,9)"))
          .agg(count(lit(1)).as("n_cells"),
            round(sum(col("__term")).cast("double"), 4).as("chi_sq"))
      },
      Some("""WITH o AS (SELECT event_type, dayofweek(ts) AS dow, count(*) AS n
             |  FROM events GROUP BY 1, 2),
             |r AS (SELECT event_type, sum(n)::BIGINT AS n_row FROM o GROUP BY 1),
             |c AS (SELECT dow, sum(n)::BIGINT AS n_col FROM o GROUP BY 1),
             |t AS (SELECT sum(n)::BIGINT AS total FROM o),
             |cells AS (SELECT
             |    round((o.n::DOUBLE - r.n_row::DOUBLE * c.n_col::DOUBLE / t.total::DOUBLE)
             |      * (o.n::DOUBLE - r.n_row::DOUBLE * c.n_col::DOUBLE / t.total::DOUBLE)
             |      / (r.n_row::DOUBLE * c.n_col::DOUBLE / t.total::DOUBLE), 9)::DECIMAL(20,9)
             |      AS term
             |  FROM o JOIN r USING (event_type) JOIN c USING (dow), t)
             |SELECT count(*) AS n_cells,
             |  round(sum(term)::DOUBLE, 4) AS chi_sq
             |FROM cells""".stripMargin)),

    // First/last-touch attribution — per purchase, the user's FIRST
    // and LAST click inside a 1-day lookback window, with the count
    // of touches sharing the credit. Both sides pre-project to
    // (user, ts, id) digests and meet in one range-predicate join per
    // user; min_by/max_by pick the touch endpoints in a single
    // aggregate (no per-purchase sort).
    QueryDef("q_attribution",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"),
            unix_micros(col("ts")).as("p_us"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), unix_micros(col("ts")).as("c_us"),
            col("event_id").as("click_id"))
        val DayUs = 86400000000L
        purchases.join(clicks, Seq("user_id"))
          .filter(col("c_us") <= col("p_us") &&
            col("c_us") > col("p_us") - DayUs)
          .groupBy(col("purchase_id"), col("user_id"))
          .agg(count(lit(1)).as("n_touches"),
            min_by(col("click_id"), struct(col("c_us"), col("click_id")))
              .as("first_touch_id"),
            max_by(col("click_id"), struct(col("c_us"), col("click_id")))
              .as("last_touch_id"))
          .orderBy(col("purchase_id"))
      },
      Some("""WITH p AS (SELECT event_id AS purchase_id, user_id,
             |    epoch_us(ts) AS p_us FROM events WHERE event_type = 'purchase'),
             |c AS (SELECT user_id, epoch_us(ts) AS c_us, event_id AS click_id
             |  FROM events WHERE event_type = 'click'),
             |j AS (SELECT p.purchase_id, p.user_id, c.c_us, c.click_id
             |  FROM p JOIN c ON c.user_id = p.user_id
             |    AND c.c_us <= p.p_us AND c.c_us > p.p_us - 86400000000)
             |SELECT purchase_id, user_id, count(*) AS n_touches,
             |  first(click_id ORDER BY c_us, click_id) AS first_touch_id,
             |  last(click_id ORDER BY c_us, click_id) AS last_touch_id
             |FROM j GROUP BY purchase_id, user_id
             |ORDER BY purchase_id""".stripMargin)),

    // Gaps-and-islands: maximal consecutive-DAY activity streaks per
    // user (the engagement-streak report). The classic day − dense_rank
    // trick turns each island into a constant group key; one shuffle
    // by user, windows only over each user's distinct days.
    QueryDef("q_activity_streaks",
      (s, d) => {
        val days = graft.sources.Tables.events(s, d)
          .filter(col("user_id") < 200)
          .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
        val islands = days
          .withColumn("__grp", datediff(col("day"), lit("1970-01-01").cast("date"))
            - dense_rank().over(w))
          .groupBy(col("user_id"), col("__grp"))
          .agg(count(lit(1)).as("len"))
        islands.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_streaks"),
            max(col("len")).as("longest_streak"))
          .orderBy(col("user_id"))
      },
      Some("""WITH a AS (SELECT DISTINCT user_id, ts::DATE AS day
             |  FROM events WHERE user_id < 200),
             |g AS (SELECT user_id, day,
             |    (day - DATE '1970-01-01')
             |      - dense_rank() OVER (PARTITION BY user_id ORDER BY day) AS grp
             |  FROM a),
             |i AS (SELECT user_id, grp, count(*) AS len FROM g GROUP BY 1, 2)
             |SELECT user_id, count(*) AS n_streaks,
             |  max(len)::BIGINT AS longest_streak
             |FROM i GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Association rules / market-basket lift — which event types
    // co-occur in the same user's history beyond chance: for each
    // unordered type pair, support and lift = P(ab)/(P(a)·P(b)). Per
    // user the distinct-type set is tiny, so the pair join runs on
    // the (user, type) digest (one row per user-type, never the raw
    // stream), and the lift normalization broadcasts one user count.
    QueryDef("q_basket_lift",
      (s, d) => {
        val ut = graft.sources.Tables.events(s, d)
          .select(col("user_id"), col("event_type")).distinct()
        val nUsers = ut.select(col("user_id")).distinct()
          .agg(count(lit(1)).as("n_users"))
        val tCnt = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n_t"))
        val pairs = ut.toDF("user_id", "type_a")
          .join(ut.toDF("user_id", "type_b"), "user_id")
          .filter(col("type_a") < col("type_b"))
          .groupBy(col("type_a"), col("type_b"))
          .agg(count(lit(1)).as("n_ab"))
        pairs
          .join(broadcast(tCnt.toDF("type_a", "n_a")), "type_a")
          .join(broadcast(tCnt.toDF("type_b", "n_b")), "type_b")
          .crossJoin(broadcast(nUsers))
          .select(col("type_a"), col("type_b"), col("n_ab"),
            round(col("n_ab").cast("double") / col("n_users").cast("double"), 6)
              .as("support"),
            round(col("n_ab").cast("double") * col("n_users").cast("double")
              / (col("n_a").cast("double") * col("n_b").cast("double")), 6)
              .as("lift"))
          .orderBy(col("type_a"), col("type_b"))
      },
      Some("""WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
             |u AS (SELECT count(DISTINCT user_id) AS n_users FROM ut),
             |tc AS (SELECT event_type, count(*) AS n_t FROM ut GROUP BY 1),
             |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
             |        count(*) AS n_ab
             |      FROM ut a JOIN ut b ON a.user_id = b.user_id
             |        AND a.event_type < b.event_type
             |      GROUP BY 1, 2)
             |SELECT type_a, type_b, n_ab,
             |  round(n_ab::DOUBLE / u.n_users::DOUBLE, 6) AS support,
             |  round(n_ab::DOUBLE * u.n_users::DOUBLE
             |    / (ta.n_t::DOUBLE * tb.n_t::DOUBLE), 6) AS lift
             |FROM p JOIN tc ta ON ta.event_type = p.type_a
             |  JOIN tc tb ON tb.event_type = p.type_b, u
             |ORDER BY type_a, type_b""".stripMargin)),

    // Grouped approx-quantile sketch twin of q_group_quantiles — the
    // documented 100 TB switch at GROUP grain: one mergeable sketch
    // per group (O(1/eps) state) instead of the exact percentile's
    // O(rows-per-group) buffer. rows-only by nature (sketch internals
    // are engine-specific); StatsSpec's tracking law covers the
    // ungrouped twin.
    QueryDef("q_group_quantiles_approx",
      (s, d) => graft.sources.Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(element_at(approx_percentile(col("value"),
            array(lit(0.25), lit(0.5), lit(0.75)), lit(5000)), 1), 4).as("p25"),
          round(element_at(approx_percentile(col("value"),
            array(lit(0.25), lit(0.5), lit(0.75)), lit(5000)), 2), 4).as("p50"),
          round(element_at(approx_percentile(col("value"),
            array(lit(0.25), lit(0.5), lit(0.75)), lit(5000)), 3), 4).as("p75"))
        .orderBy(col("event_type")),
      None),

    // Benford leading-digit audit — the forensic data-quality check:
    // the distribution of o_totalprice's first digit against Benford's
    // log10(1 + 1/d) expectation. One aggregate scan; the deviation
    // report is a 9-row digest. (Synthetic uniform prices deviate
    // wildly — which is exactly what the audit is for.)
    QueryDef("q_benford_check",
      (s, d) => {
        val digits = graft.sources.Tables.load(s, d, "orders")
          .filter(col("o_totalprice") > 0)
          .select(substring(col("o_totalprice").cast("string"), 1, 1)
            .cast("int").as("digit"))
          .groupBy(col("digit")).agg(count(lit(1)).as("n"))
        val tot = digits.agg(sum(col("n")).as("total"))
        digits.crossJoin(broadcast(tot))
          .withColumn("share",
            round(col("n").cast("double") / col("total").cast("double"), 6))
          .withColumn("benford_p",
            round(log10(lit(1.0) + lit(1.0) / col("digit").cast("double")), 6))
          .withColumn("abs_dev", round(abs(col("share") - col("benford_p")), 6))
          .select(col("digit"), col("n"), col("share"), col("benford_p"),
            col("abs_dev"))
          .orderBy(col("digit"))
      },
      Some("""WITH dg AS (SELECT CAST(substring(CAST(o_totalprice AS VARCHAR), 1, 1)
             |      AS INT) AS digit
             |  FROM orders WHERE o_totalprice > 0),
             |c AS (SELECT digit, count(*) AS n FROM dg GROUP BY 1),
             |tot AS (SELECT sum(n)::BIGINT AS total FROM c)
             |SELECT digit, n,
             |  round(n::DOUBLE / tot.total::DOUBLE, 6) AS share,
             |  round(log10(1.0 + 1.0 / digit::DOUBLE), 6) AS benford_p,
             |  round(abs(round(n::DOUBLE / tot.total::DOUBLE, 6)
             |    - round(log10(1.0 + 1.0 / digit::DOUBLE), 6)), 6) AS abs_dev
             |FROM c, tot ORDER BY digit""".stripMargin)),

    // TPC-H Q8 shape (adapted to the columns present): one nation's
    // market share, by year, of a region's spend on one part type.
    // The 100 TB-correct plan: tiny dims (part-type filter, region→
    // nation lists, supplier→nation map) all BROADCAST into one pass
    // over lineitem; the conditional sum makes share a single
    // aggregate, not two scans. Exact-decimal volume sums; one cast
    // to double at the end.
    QueryDef("q8_market_share",
      (s, d) => {
        val n = graft.sources.Tables.load(s, d, "nation")
        val r = graft.sources.Tables.load(s, d, "region")
          .filter(col("r_name") === "AMERICA").select("r_regionkey")
        val custNat = n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey").as("cn_key"))
        val c = graft.sources.Tables.load(s, d, "customer")
          .select("c_custkey", "c_nationkey")
          .join(broadcast(custNat), col("c_nationkey") === col("cn_key"))
          .select("c_custkey")
        val o = graft.sources.Tables.load(s, d, "orders")
          .filter(col("o_orderdate") >= "1996-01-01" &&
            col("o_orderdate") < "1998-01-01")
          .select("o_orderkey", "o_custkey", "o_orderdate")
        val p = graft.sources.Tables.load(s, d, "part")
          .filter(col("p_type") === "ECONOMY").select("p_partkey")
        val supN = graft.sources.Tables.load(s, d, "supplier")
          .select("s_suppkey", "s_nationkey")
          .join(broadcast(n.select(col("n_nationkey"),
            col("n_name").as("supp_nation"))),
            col("s_nationkey") === col("n_nationkey"))
          .select("s_suppkey", "supp_nation")
        graft.sources.Tables.load(s, d, "lineitem")
          .select("l_orderkey", "l_partkey", "l_suppkey",
            "l_extendedprice", "l_discount")
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
          .withColumn("vol", col("l_extendedprice").cast("decimal(12,2)") *
            (lit(1) - col("l_discount")).cast("decimal(4,2)"))
          .groupBy(year(col("o_orderdate")).as("o_year"))
          .agg(
            sum(when(col("supp_nation") === "NATION_5", col("vol"))
              .otherwise(lit(0).cast("decimal(17,4)"))).cast("double")
              .as("nation_vol"),
            sum(col("vol")).cast("double").as("total_vol"))
          .withColumn("mkt_share",
            round(col("nation_vol") / col("total_vol"), 6))
          .select("o_year", "nation_vol", "total_vol", "mkt_share")
          .orderBy(col("o_year"))
      },
      Some("""WITH v AS (SELECT year(o_orderdate) AS o_year,
             |    n_sup.n_name AS supp_nation,
             |    CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2)) AS vol
             |  FROM lineitem
             |  JOIN part ON p_partkey = l_partkey AND p_type = 'ECONOMY'
             |  JOIN orders ON o_orderkey = l_orderkey
             |    AND o_orderdate >= TIMESTAMP '1996-01-01'
             |    AND o_orderdate < TIMESTAMP '1998-01-01'
             |  JOIN customer ON c_custkey = o_custkey
             |  JOIN nation n_cust ON n_cust.n_nationkey = c_nationkey
             |  JOIN region ON r_regionkey = n_cust.n_regionkey AND r_name = 'AMERICA'
             |  JOIN supplier ON s_suppkey = l_suppkey
             |  JOIN nation n_sup ON n_sup.n_nationkey = s_nationkey)
             |SELECT o_year,
             |  sum(CASE WHEN supp_nation = 'NATION_5' THEN vol
             |    ELSE CAST(0 AS DECIMAL(17,4)) END)::DOUBLE AS nation_vol,
             |  sum(vol)::DOUBLE AS total_vol,
             |  round(sum(CASE WHEN supp_nation = 'NATION_5' THEN vol
             |      ELSE CAST(0 AS DECIMAL(17,4)) END)::DOUBLE
             |    / sum(vol)::DOUBLE, 6) AS mkt_share
             |FROM v GROUP BY o_year ORDER BY o_year""".stripMargin)),

    // TPC-H Q13: distribution of orders-per-customer, keeping
    // zero-order customers via the LEFT join. The filter on the
    // orders side lives BEFORE the join (same semantics as the
    // classic join-condition filter) so the scan prunes first; the
    // double aggregation collapses per-customer then per-count —
    // both partial-aggregate friendly.
    QueryDef("q13_cust_distribution",
      (s, d) => {
        val c = graft.sources.Tables.load(s, d, "customer").select("c_custkey")
        val o = graft.sources.Tables.load(s, d, "orders")
          .filter(col("o_orderpriority") =!= "1-URGENT")
          .select("o_orderkey", "o_custkey")
        c.join(o, col("c_custkey") === col("o_custkey"), "left")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy(col("c_count"))
          .agg(count(lit(1)).as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc)
      },
      Some("""SELECT c_count, count(*) AS custdist
             |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
             |  FROM customer LEFT JOIN orders
             |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
             |  GROUP BY c_custkey)
             |GROUP BY c_count
             |ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    // TPC-H Q15: the supplier(s) with maximum revenue in a quarter.
    // Aggregate-then-join-on-max: the per-supplier revenue digest is
    // computed once, its 1-row max broadcasts back onto it (no window
    // over the whole digest, no second scan of lineitem), and the
    // equality is tested on the EXACT decimal so ties are bit-exact.
    QueryDef("q15_top_supplier",
      (s, d) => {
        val rev = graft.sources.Tables.load(s, d, "lineitem")
          .filter(col("l_shipdate") >= "1996-01-01" &&
            col("l_shipdate") < "1996-04-01")
          .groupBy(col("l_suppkey"))
          .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
            (lit(1) - col("l_discount")).cast("decimal(4,2)"))
            .as("rev_dec"))
        val mx = rev.agg(max(col("rev_dec")).as("mx"))
        val sup = graft.sources.Tables.load(s, d, "supplier")
          .select("s_suppkey", "s_name")
        rev.join(broadcast(mx), col("rev_dec") === col("mx"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"),
            col("rev_dec").cast("double").as("total_revenue"))
          .orderBy(col("s_suppkey"))
      },
      Some("""WITH rev AS (SELECT l_suppkey,
             |    sum(CAST(l_extendedprice AS DECIMAL(12,2))
             |      * CAST(1 - l_discount AS DECIMAL(4,2))) AS rev_dec
             |  FROM lineitem
             |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             |    AND l_shipdate < TIMESTAMP '1996-04-01'
             |  GROUP BY l_suppkey),
             |mx AS (SELECT max(rev_dec) AS mx FROM rev)
             |SELECT s_suppkey, s_name, rev_dec::DOUBLE AS total_revenue
             |FROM rev JOIN mx ON rev_dec = mx
             |JOIN supplier ON s_suppkey = l_suppkey
             |ORDER BY s_suppkey""".stripMargin)),

    // TPC-H Q19 shape: disjunctive multi-clause predicate across the
    // join. The part-side conjuncts (brand, size) get evaluated on
    // the BROADCAST dim before the join and the common l_quantity
    // range (the OR of all three branches) is pushed to the lineitem
    // scan, so the fact table never carries rows no branch can
    // accept — the classic rewrite engines apply to Q19's ORs.
    QueryDef("q19_disjunctive_revenue",
      (s, d) => {
        val p = graft.sources.Tables.load(s, d, "part")
          .filter((col("p_brand") === "Brand#1" && col("p_size").between(1, 15)) ||
            (col("p_brand") === "Brand#2" && col("p_size").between(10, 30)) ||
            (col("p_brand") === "Brand#3" && col("p_size").between(20, 50)))
          .select("p_partkey", "p_brand")
        graft.sources.Tables.load(s, d, "lineitem")
          .filter(col("l_quantity").between(1, 40))
          .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .filter((col("p_brand") === "Brand#1" && col("l_quantity").between(1, 20)) ||
            (col("p_brand") === "Brand#2" && col("l_quantity").between(10, 30)) ||
            (col("p_brand") === "Brand#3" && col("l_quantity").between(20, 40)))
          .agg(count(lit(1)).as("n_lines"),
            sum(col("l_extendedprice").cast("decimal(12,2)") *
              (lit(1) - col("l_discount")).cast("decimal(4,2)"))
              .cast("double").as("revenue"))
          .select(col("n_lines"), col("revenue"))
      },
      Some("""SELECT count(*) AS n_lines,
             |  sum(CAST(l_extendedprice AS DECIMAL(12,2))
             |    * CAST(1 - l_discount AS DECIMAL(4,2)))::DOUBLE AS revenue
             |FROM lineitem JOIN part ON p_partkey = l_partkey
             |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
             |    AND l_quantity BETWEEN 1 AND 20)
             |  OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
             |    AND l_quantity BETWEEN 10 AND 30)
             |  OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
             |    AND l_quantity BETWEEN 20 AND 40)""".stripMargin)),

    // TPC-H Q2 shape: cheapest supplier per part — the correlated
    // `price = (SELECT min(price) ...)` subquery DECORRELATED into a
    // per-part min digest joined back on exact-decimal equality.
    // The digest is grouped on the same key as the probe (one
    // shuffle, reused), the part filter broadcasts, and ties keep
    // every minimal supplier exactly like the reference subquery.
    QueryDef("q2_min_cost_supplier",
      (s, d) => {
        val p = graft.sources.Tables.load(s, d, "part")
          .filter(col("p_type") === "STANDARD" && col("p_size") === 15)
          .select("p_partkey", "p_name")
        val offers = graft.sources.Tables.load(s, d, "lineitem")
          .select(col("l_partkey"), col("l_suppkey"),
            col("l_extendedprice").cast("decimal(12,2)").as("price"))
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        val minP = offers.groupBy(col("l_partkey").as("mk"))
          .agg(min(col("price")).as("min_price"))
        val sup = graft.sources.Tables.load(s, d, "supplier")
          .select("s_suppkey", "s_name", "s_acctbal")
        offers.join(minP, col("l_partkey") === col("mk") &&
            col("price") === col("min_price"))
          .select("p_partkey", "p_name", "l_suppkey", "price").distinct()
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .select(col("p_partkey"), col("p_name"), col("s_name"),
            col("s_acctbal"), col("price").cast("double").as("min_price"))
          .orderBy(col("p_partkey"), col("s_name"))
      },
      Some("""WITH offers AS (SELECT l_partkey, l_suppkey, p_name,
             |    CAST(l_extendedprice AS DECIMAL(12,2)) AS price
             |  FROM lineitem JOIN part ON p_partkey = l_partkey
             |  WHERE p_type = 'STANDARD' AND p_size = 15)
             |SELECT DISTINCT o.l_partkey AS p_partkey, o.p_name, s_name,
             |  s_acctbal, o.price::DOUBLE AS min_price
             |FROM offers o JOIN supplier ON s_suppkey = o.l_suppkey
             |WHERE o.price = (SELECT min(price) FROM offers i
             |  WHERE i.l_partkey = o.l_partkey)
             |ORDER BY p_partkey, s_name""".stripMargin)),

    // TPC-H Q22 shape: wealthy-but-inactive customers per nation.
    // Scalar avg over positive balances (1-row broadcast), LEFT ANTI
    // join against recent orders (ids-only on the build side), then
    // a per-nation rollup in exact decimals.
    QueryDef("q22_inactive_wealthy",
      (s, d) => {
        val c = graft.sources.Tables.load(s, d, "customer")
          .select("c_custkey", "c_nationkey", "c_acctbal")
        val avgBal = c.filter(col("c_acctbal") > 0)
          .agg((sum(col("c_acctbal").cast("decimal(14,2)")).cast("double") /
            count(lit(1)).cast("double")).as("ab"))
        val recent = graft.sources.Tables.load(s, d, "orders")
          .filter(col("o_orderdate") >= "1998-01-01")
          .select("o_custkey")
        c.crossJoin(broadcast(avgBal))
          .filter(col("c_acctbal").cast("double") > col("ab"))
          .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("numcust"),
            sum(col("c_acctbal").cast("decimal(14,2)")).cast("double")
              .as("totacctbal"))
          .orderBy(col("c_nationkey"))
      },
      Some("""WITH ab AS (SELECT sum(CAST(c_acctbal AS DECIMAL(14,2)))::DOUBLE
             |      / count(*)::DOUBLE AS ab
             |  FROM customer WHERE c_acctbal > 0)
             |SELECT c_nationkey, count(*) AS numcust,
             |  sum(CAST(c_acctbal AS DECIMAL(14,2)))::DOUBLE AS totacctbal
             |FROM customer, ab
             |WHERE c_acctbal::DOUBLE > ab
             |  AND NOT EXISTS (SELECT 1 FROM orders
             |    WHERE o_custkey = c_custkey
             |      AND o_orderdate >= TIMESTAMP '1998-01-01')
             |GROUP BY c_nationkey
             |ORDER BY c_nationkey""".stripMargin)),

    // Trailing-7-day distinct active users per observed day (rolling
    // MAU/WAU primitive). COUNT(DISTINCT) over a sliding range window
    // doesn't exist in any engine, and the naive day×activity range
    // join is quadratic in history. Scale path — ZERO fan-out, no
    // re-dedup (the ×7 explode + second distinct this query used to
    // run was the sweep's 1.91× watch item): per user, each active
    // day covers report days [d, min(d+6, next_active−1)] — DISJOINT
    // intervals by construction, so a user counts once per covered
    // day with no distinct. The intervals become a ±1 diff array at
    // day grain; the trailing count is its prefix sum over the
    // day-grain digest (bounded by the span, not the rows). One
    // (user, day) dedup + one per-user lead — both on the same
    // user_id shuffle class — then digest-sized arithmetic.
    QueryDef("q_rolling_distinct_users",
      (s, d) => {
        val ud = graft.sources.Tables.events(s, d)
          .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        val wu = Window.partitionBy(col("user_id")).orderBy(col("day"))
        val iv = ud.withColumn("nd", lead(col("day"), 1).over(wu))
          .select(col("day").as("cs"),
            when(col("nd").isNotNull &&
                datediff(col("nd"), col("day")) <= 6,
              date_sub(col("nd"), 1))
              .otherwise(date_add(col("day"), 6)).as("ce"))
        val deltas = iv.select(col("cs").as("dday"), lit(1L).as("delta"))
          .unionAll(iv.select(date_add(col("ce"), 1).as("dday"),
            lit(-1L).as("delta")))
          .groupBy(col("dday")).agg(sum(col("delta")).as("delta"))
        val days = ud.select(col("day")).distinct()
        val wd = Window.orderBy(col("dday"))
          .rowsBetween(Window.unboundedPreceding, 0)
        deltas.withColumn("users_7d", sum(col("delta")).over(wd))
          .join(days, col("dday") === col("day"), "left_semi")
          .select(col("dday").cast("string").as("day"), col("users_7d"))
          .orderBy(col("day"))
      },
      Some("""WITH ud AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events),
             |days AS (SELECT DISTINCT day FROM ud)
             |SELECT d.day::VARCHAR AS day, count(DISTINCT u.user_id) AS users_7d
             |FROM days d JOIN ud u
             |  ON u.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
             |GROUP BY d.day ORDER BY d.day""".stripMargin)),

    // Dense time series with explicit zeros: the sparse per-(type,
    // day) counts LEFT-joined onto a generated calendar × type spine
    // so gaps become 0 rows (what every downstream charting/anomaly
    // stage wants). The spine is generated from the 1-row min/max
    // digest — two broadcast-sized builds, never a scan of history;
    // the only shuffle is the pre-aggregation of the facts.
    QueryDef("q_zero_fill_series",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .select(col("event_type"), to_date(col("ts")).as("day"))
        val agg = ev.groupBy(col("event_type"), col("day"))
          .agg(count(lit(1)).as("n"))
        val bounds = ev.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
        val spine = bounds
          .select(explode(sequence(col("mn"), col("mx"))).as("day"))
          .crossJoin(ev.select(col("event_type")).distinct())
        spine.join(agg, Seq("event_type", "day"), "left")
          .select(col("event_type"), col("day").cast("string").as("day"),
            coalesce(col("n"), lit(0L)).as("n"))
          .orderBy(col("event_type"), col("day"))
      },
      Some("""WITH ag AS (SELECT event_type, ts::DATE AS day, count(*) AS n
             |  FROM events GROUP BY 1, 2),
             |b AS (SELECT min(day) AS mn, max(day) AS mx FROM ag),
             |spine AS (SELECT t.event_type, unnest(generate_series(b.mn, b.mx,
             |    INTERVAL 1 DAY))::DATE AS day
             |  FROM (SELECT DISTINCT event_type FROM ag) t, b)
             |SELECT s.event_type, s.day::VARCHAR AS day,
             |  coalesce(ag.n, 0)::BIGINT AS n
             |FROM spine s LEFT JOIN ag
             |  ON ag.event_type = s.event_type AND ag.day = s.day
             |ORDER BY s.event_type, s.day""".stripMargin)),

    // Snapshot reconciliation ("data diff"): FULL OUTER join of two
    // table versions on the key, each row classified added / removed
    // / changed / unchanged, rolled up to a one-pass digest. The two
    // versions are derived deterministically from orders (v2 drops a
    // hash-selected 5%, re-prices another 10%, keeps the rest) so
    // both engines diff identical inputs. The diff itself is the
    // operator under test: key-partitioned single shuffle, change
    // detection on the exact decimal, no row ever leaves its key's
    // partition.
    QueryDef("q_snapshot_diff",
      (s, d) => {
        val o = graft.sources.Tables.load(s, d, "orders")
          .select(col("o_orderkey"),
            col("o_totalprice").cast("decimal(12,2)").as("price"),
            pmod(Dedup.strHash60(concat(lit("diff:"), col("o_orderkey"))),
              lit(100)).as("h"))
        val v1 = o.select(col("o_orderkey").as("k1"), col("price").as("p1"))
        val v2 = o.filter(col("h") >= 5)
          .select(col("o_orderkey").as("k2"),
            when(col("h") < 15, (col("price") +
              lit(10).cast("decimal(12,2)")).cast("decimal(12,2)"))
              .otherwise(col("price")).as("p2"))
          .unionAll(o.filter(col("h") < 3)
            .select((-col("o_orderkey")).as("k2"), col("price").as("p2")))
        v1.join(v2, col("k1") === col("k2"), "full_outer")
          .select(when(col("k1").isNull, "added")
            .when(col("k2").isNull, "removed")
            .when(col("p1") =!= col("p2"), "changed")
            .otherwise("unchanged").as("diff_type"))
          .groupBy(col("diff_type")).agg(count(lit(1)).as("n"))
          .orderBy(col("diff_type"))
      },
      Some(s"""WITH o AS (SELECT o_orderkey,
              |    CAST(o_totalprice AS DECIMAL(12,2)) AS price,
              |    ${dkHash60s("'diff:'||o_orderkey")} % 100 AS h
              |  FROM orders),
              |v1 AS (SELECT o_orderkey AS k1, price AS p1 FROM o),
              |v2 AS (SELECT o_orderkey AS k2,
              |    CASE WHEN h < 15 THEN CAST(price + 10 AS DECIMAL(12,2))
              |      ELSE price END AS p2
              |  FROM o WHERE h >= 5
              |  UNION ALL
              |  SELECT -o_orderkey AS k2, price AS p2 FROM o WHERE h < 3)
              |SELECT CASE WHEN k1 IS NULL THEN 'added'
              |    WHEN k2 IS NULL THEN 'removed'
              |    WHEN p1 <> p2 THEN 'changed'
              |    ELSE 'unchanged' END AS diff_type,
              |  count(*) AS n
              |FROM v1 FULL OUTER JOIN v2 ON k1 = k2
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Co-purchase graph edges: part pairs appearing in the same order
    // at least twice. The pair build is a self-join CO-PARTITIONED on
    // l_orderkey (p1<p2 halves the output); the w>=2 support
    // threshold is what keeps the edge list catalog-sized at any
    // scale — singleton co-occurrence is noise in a basket graph and
    // would be quadratic to keep. ONE explicit hash(l_orderkey)
    // exchange serves BOTH the (orderkey, partkey) dedup aggregate
    // (ClusteredDistribution(ok, pk) is satisfied by hash(ok)) and
    // the self-join's two sides — the bare distinct() partitioned on
    // (ok, pk) and forced a re-exchange of each join side (r16:
    // interleaved 5-trial medians 1.38 -> 0.88 s at sf0.1/32c).
    QueryDef("q_copurchase_edges",
      (s, d) => {
        val pp = graft.sources.Tables.load(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"))
          .repartition(col("l_orderkey")).distinct()
        pp.select(col("l_orderkey"), col("l_partkey").as("p1"))
          .join(pp.select(col("l_orderkey").as("ok2"),
            col("l_partkey").as("p2")),
            col("l_orderkey") === col("ok2") && col("p1") < col("p2"))
          .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("w"))
          .filter(col("w") >= 2)
          .orderBy(col("p1"), col("p2"))
      },
      Some("""WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
             |SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS w
             |FROM pp a JOIN pp b
             |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |GROUP BY 1, 2 HAVING count(*) >= 2
             |ORDER BY p1, p2""".stripMargin)),

    // Triangle count on the support-thresholded co-purchase graph —
    // the classic clustering/community signal, computed as the
    // oriented 3-way edge join (a<b<c counts each triangle exactly
    // once). The thresholded edge list is catalog-sized, so the two
    // probe sides broadcast (AQE picks that up from the runtime
    // size); on a denser graph the same plan degrades gracefully to
    // sort-merge joins keyed on the shared endpoint.
    QueryDef("q_triangle_count",
      (s, d) => {
        val e = s.read.parquet(copurchaseEdgesOf(s, d))
        e.join(e.select(col("p1").as("b1"), col("p2").as("c1")),
            col("p2") === col("b1"))
          .join(e.select(col("p1").as("a2"), col("p2").as("c2")),
            col("p1") === col("a2") && col("c1") === col("c2"))
          .agg(count(lit(1)).as("n_triangles"),
            countDistinct(col("p1")).as("n_apex_parts"))
      },
      Some("""WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |e AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2
             |  FROM pp a JOIN pp b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |  GROUP BY 1, 2 HAVING count(*) >= 2)
             |SELECT count(*) AS n_triangles,
             |  count(DISTINCT e1.p1) AS n_apex_parts
             |FROM e e1 JOIN e e2 ON e1.p2 = e2.p1
             |  JOIN e e3 ON e1.p1 = e3.p1 AND e2.p2 = e3.p2""".stripMargin)),

    // PageRank (3 damped iterations) over the undirected co-purchase
    // graph — the iterative-propagation shape that complements the
    // connected-components grouper. ALL arithmetic is integer ppb
    // (rank starts at 1e9; contrib = rank div deg; update =
    // 0.15e9 + 17·Σcontrib div 20): double addition is
    // order-dependent under parallel aggregation, so a float
    // PageRank can't hash-match across engines — the integer form
    // is bit-identical everywhere AND partition-order independent.
    // Per iteration: one join keyed on src, one aggregate keyed on
    // dst; ranks/degrees are node-sized (broadcastable here,
    // sort-merge at web scale).
    QueryDef("q_pagerank",
      (s, d) => {
        val e = s.read.parquet(copurchaseEdgesOf(s, d))
        val eb = e.select(col("p1").as("src"), col("p2").as("dst"))
          .unionAll(e.select(col("p2").as("src"), col("p1").as("dst")))
        val deg = eb.groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("deg"))
        var r = deg.select(col("node"), lit(1000000000L).as("rank"))
        for (_ <- 1 to 3) {
          r = eb.join(r, col("src") === col("node"))
            .join(deg.select(col("node").as("dn"), col("deg")),
              col("src") === col("dn"))
            .select(col("dst"), expr("rank div deg").as("contrib"))
            .groupBy(col("dst").as("node"))
            .agg((lit(150000000L) +
              expr("17 * sum(contrib) div 20")).as("rank"))
        }
        r.orderBy(col("rank").desc, col("node")).limit(20)
      },
      Some("""WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |e AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2
             |  FROM pp a JOIN pp b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |eb AS (SELECT p1 AS src, p2 AS dst FROM e
             |  UNION ALL SELECT p2, p1 FROM e),
             |deg AS (SELECT src AS node, count(*) AS deg FROM eb GROUP BY 1),
             |r0 AS (SELECT node, 1000000000::BIGINT AS rank FROM deg),
             |r1 AS (SELECT eb.dst AS node,
             |    (150000000 + (17 * sum(r0.rank // deg.deg)) // 20)::BIGINT AS rank
             |  FROM eb JOIN r0 ON eb.src = r0.node
             |    JOIN deg ON eb.src = deg.node GROUP BY eb.dst),
             |r2 AS (SELECT eb.dst AS node,
             |    (150000000 + (17 * sum(r1.rank // deg.deg)) // 20)::BIGINT AS rank
             |  FROM eb JOIN r1 ON eb.src = r1.node
             |    JOIN deg ON eb.src = deg.node GROUP BY eb.dst),
             |r3 AS (SELECT eb.dst AS node,
             |    (150000000 + (17 * sum(r2.rank // deg.deg)) // 20)::BIGINT AS rank
             |  FROM eb JOIN r2 ON eb.src = r2.node
             |    JOIN deg ON eb.src = deg.node GROUP BY eb.dst)
             |SELECT node, rank FROM r3
             |ORDER BY rank DESC, node LIMIT 20""".stripMargin)),

    // Label-propagation communities (Raghavan et al. 2007) over the
    // undirected co-purchase graph — 3 SYNCHRONOUS rounds, each node
    // adopting its neighborhood's most frequent label (tie → smallest
    // label). Genuinely different from the min-label
    // connected-components grouper: LPA splits a connected component
    // into dense communities instead of flooding it. Determinism: the
    // synchronous schedule plus the (count DESC, label ASC) tie rule
    // make every round a pure function of the previous label table,
    // so DuckDB replays the rounds exactly. Per round: one join keyed
    // on src (edges × labels), one (node, label) count aggregate, one
    // per-node argmax window over the count digest — the window is
    // partitioned by node and the digest is neighborhood-sized, never
    // edge-list-sized.
    QueryDef("q_label_propagation",
      (s, d) => {
        val e = s.read.parquet(copurchaseEdgesOf(s, d))
        val eb = e.select(col("p1").as("src"), col("p2").as("dst"))
          .unionAll(e.select(col("p2").as("src"), col("p1").as("dst")))
        var lab = eb.select(col("src").as("node")).distinct()
          .withColumn("lab", col("node"))
        for (_ <- 1 to 3) {
          val cnt = eb.join(lab, col("src") === col("node"))
            .groupBy(col("dst").as("nd"), col("lab"))
            .agg(count(lit(1)).as("cv"))
          val win = Window.partitionBy(col("nd"))
            .orderBy(col("cv").desc, col("lab"))
          lab = cnt.withColumn("rn", row_number().over(win))
            .filter(col("rn") === 1)
            .select(col("nd").as("node"), col("lab"))
        }
        lab.groupBy(col("lab").as("community"))
          .agg(count(lit(1)).as("n_nodes"),
            min(col("node")).as("min_node"),
            max(col("node")).as("max_node"))
          .orderBy(col("n_nodes").desc, col("community"))
          .limit(20)
      },
      Some("""WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |e AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2
             |  FROM pp a JOIN pp b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |eb AS (SELECT p1 AS src, p2 AS dst FROM e
             |  UNION ALL SELECT p2, p1 FROM e),
             |l0 AS (SELECT DISTINCT src AS node, src AS lab FROM eb),
             |c1 AS (SELECT eb.dst AS nd, l0.lab, count(*) AS cv
             |  FROM eb JOIN l0 ON eb.src = l0.node GROUP BY 1, 2),
             |l1 AS (SELECT nd AS node, lab FROM (SELECT nd, lab,
             |    row_number() OVER (PARTITION BY nd ORDER BY cv DESC, lab) AS rn
             |  FROM c1) WHERE rn = 1),
             |c2 AS (SELECT eb.dst AS nd, l1.lab, count(*) AS cv
             |  FROM eb JOIN l1 ON eb.src = l1.node GROUP BY 1, 2),
             |l2 AS (SELECT nd AS node, lab FROM (SELECT nd, lab,
             |    row_number() OVER (PARTITION BY nd ORDER BY cv DESC, lab) AS rn
             |  FROM c2) WHERE rn = 1),
             |c3 AS (SELECT eb.dst AS nd, l2.lab, count(*) AS cv
             |  FROM eb JOIN l2 ON eb.src = l2.node GROUP BY 1, 2),
             |l3 AS (SELECT nd AS node, lab FROM (SELECT nd, lab,
             |    row_number() OVER (PARTITION BY nd ORDER BY cv DESC, lab) AS rn
             |  FROM c3) WHERE rn = 1)
             |SELECT lab AS community, count(*)::BIGINT AS n_nodes,
             |  min(node) AS min_node, max(node) AS max_node
             |FROM l3 GROUP BY 1
             |ORDER BY n_nodes DESC, community LIMIT 20""".stripMargin)),

    // Skyline (Pareto frontier) of one part family on (price ↓,
    // size ↑): a part survives iff nothing is at-least-as-good on
    // both axes and strictly better on one. Dominance is a
    // broadcast self anti-join on the filtered family; at a scale
    // where the family itself is huge, the standard prefilter (keep
    // each coarse price-bucket's max-size row before the pairwise
    // test) drops in front of the identical anti-join unchanged.
    QueryDef("q_skyline_parts",
      (s, d) => {
        val cand = graft.sources.Tables.load(s, d, "part")
          .filter(col("p_type") === "ECONOMY")
          .select(col("p_partkey"),
            col("p_retailprice").cast("decimal(12,2)").as("price"),
            col("p_size"))
        val dom = cand.select(col("price").as("bp"), col("p_size").as("bs"))
        cand.join(broadcast(dom),
            col("bp") <= col("price") && col("bs") >= col("p_size") &&
              (col("bp") < col("price") || col("bs") > col("p_size")),
            "left_anti")
          .select(col("p_partkey"), col("price").cast("double").as("price"),
            col("p_size"))
          .orderBy(col("p_partkey"))
      },
      Some("""WITH cand AS (SELECT p_partkey,
             |    CAST(p_retailprice AS DECIMAL(12,2)) AS price, p_size
             |  FROM part WHERE p_type = 'ECONOMY')
             |SELECT p_partkey, price::DOUBLE AS price, p_size
             |FROM cand a
             |WHERE NOT EXISTS (SELECT 1 FROM cand b
             |  WHERE b.price <= a.price AND b.p_size >= a.p_size
             |    AND (b.price < a.price OR b.p_size > a.p_size))
             |ORDER BY p_partkey""".stripMargin)),

    // Weighted median (50th weighted percentile) of quantity with
    // revenue weight, per return flag: the order statistic where
    // half the WEIGHT lies on each side. Collapse to the per-(flag,
    // qty) weight digest first — the cumulative window then runs
    // over the tiny digest, never the facts (the same
    // digest-then-window shape as the Spearman ranks). Threshold
    // test `2·cum >= total` stays in exact decimals.
    QueryDef("q_weighted_median",
      (s, d) => {
        val wq = graft.sources.Tables.load(s, d, "lineitem")
          .groupBy(col("l_returnflag"), col("l_quantity"))
          .agg(sum(col("l_extendedprice").cast("decimal(14,2)")).as("w"))
        val win = Window.partitionBy(col("l_returnflag"))
          .orderBy(col("l_quantity"))
          .rowsBetween(Window.unboundedPreceding, 0)
        val tot = Window.partitionBy(col("l_returnflag"))
        wq.withColumn("cum", sum(col("w")).over(win))
          .withColumn("total", sum(col("w")).over(tot))
          .filter(col("cum") * 2 >= col("total"))
          .groupBy(col("l_returnflag"))
          .agg(min(col("l_quantity")).as("wmedian_qty"))
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH wq AS (SELECT l_returnflag, l_quantity,
             |    sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS w
             |  FROM lineitem GROUP BY 1, 2),
             |c AS (SELECT l_returnflag, l_quantity,
             |    sum(w) OVER (PARTITION BY l_returnflag ORDER BY l_quantity
             |      ROWS UNBOUNDED PRECEDING) AS cum,
             |    sum(w) OVER (PARTITION BY l_returnflag) AS total
             |  FROM wq)
             |SELECT l_returnflag, min(l_quantity) AS wmedian_qty
             |FROM c WHERE cum * 2 >= total
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Rolling least-squares slope (trailing-10 trend) per sampled
    // user: slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²) over the window,
    // with x = seconds since 2024-01-01 (small ints, so x² sums fit
    // exactly) and y as exact decimal — numerator and denominator
    // are EXACT until the single final division, so the windowed
    // regression hash-matches despite being float-valued. The
    // trend-detection primitive for telemetry.
    QueryDef("q_rolling_slope",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .filter(col("event_type") === "click" &&
            pmod(col("user_id"), lit(10)) === 0)
          .select(col("user_id"), col("event_id"),
            (unix_seconds(col("ts")) - lit(1704067200L)).as("x"),
            col("value").cast("decimal(18,2)").as("y"))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("x"), col("event_id")).rowsBetween(-9, 0)
        ev.withColumn("n", count(lit(1)).over(w))
          .withColumn("sx", sum(col("x")).over(w))
          .withColumn("sy", sum(col("y")).over(w))
          .withColumn("sxx", sum(col("x") * col("x")).over(w))
          .withColumn("sxy", sum(col("x").cast("decimal(18,0)") * col("y"))
            .over(w))
          .filter(col("n") === 10)
          .select(col("user_id"), col("event_id"),
            round((col("n") * col("sxy") - col("sx") * col("sy"))
              .cast("double") /
              (col("n") * col("sxx") - col("sx") * col("sx"))
                .cast("double"), 9).as("slope10"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""WITH ev AS (SELECT user_id, event_id,
             |    floor(epoch(ts))::BIGINT - 1704067200 AS x,
             |    CAST(value AS DECIMAL(18,2)) AS y
             |  FROM events
             |  WHERE event_type = 'click' AND user_id % 10 = 0),
             |w AS (SELECT user_id, event_id,
             |    count(*) OVER win AS n,
             |    sum(x) OVER win AS sx, sum(y) OVER win AS sy,
             |    sum(x * x) OVER win AS sxx,
             |    sum(x::DECIMAL(18,0) * y) OVER win AS sxy
             |  FROM ev WINDOW win AS (PARTITION BY user_id
             |    ORDER BY x, event_id ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
             |SELECT user_id, event_id,
             |  round((n * sxy - sx * sy)::DOUBLE
             |    / (n * sxx - sx * sx)::DOUBLE, 9) AS slope10
             |FROM w WHERE n = 10
             |ORDER BY user_id, event_id""".stripMargin)),

    // Mutual information between event type and the value's integer
    // bucket — the model-free dependence measure that catches what
    // correlation misses. One aggregate to the contingency digest;
    // marginals come from re-aggregating the digest (never the
    // facts); per-cell pointwise terms rounded once and summed as
    // exact decimals, the established entropy-query discipline.
    QueryDef("q_mutual_information",
      (s, d) => {
        val cell = graft.sources.Tables.events(s, d)
          .groupBy(col("event_type").as("x"),
            floor(col("value")).cast("long").as("y"))
          .agg(count(lit(1)).as("nxy"))
        val mx = cell.groupBy(col("x")).agg(sum(col("nxy")).as("nx"))
        val my = cell.groupBy(col("y")).agg(sum(col("nxy")).as("ny"))
        val n = cell.agg(sum(col("nxy")).as("n"))
        cell.join(mx, "x").join(my, "y").crossJoin(broadcast(n))
          .withColumn("term", round(
            (col("nxy").cast("double") / col("n").cast("double")) *
              log((col("nxy").cast("double") * col("n").cast("double")) /
                (col("nx").cast("double") * col("ny").cast("double"))), 9)
            .cast("decimal(20,9)"))
          .agg(max(col("n")).as("n_events"),
            round(sum(col("term")).cast("double"), 6).as("mutual_info"))
      },
      Some("""WITH cell AS (SELECT event_type AS x,
             |    CAST(floor(value) AS BIGINT) AS y, count(*) AS nxy
             |  FROM events GROUP BY 1, 2),
             |mx AS (SELECT x, sum(nxy)::BIGINT AS nx FROM cell GROUP BY 1),
             |my AS (SELECT y, sum(nxy)::BIGINT AS ny FROM cell GROUP BY 1),
             |n AS (SELECT sum(nxy)::BIGINT AS n FROM cell),
             |t AS (SELECT n.n,
             |    round((cell.nxy::DOUBLE / n.n::DOUBLE)
             |      * ln((cell.nxy::DOUBLE * n.n::DOUBLE)
             |        / (mx.nx::DOUBLE * my.ny::DOUBLE)), 9)::DECIMAL(20,9) AS term
             |  FROM cell JOIN mx USING (x) JOIN my USING (y), n)
             |SELECT max(n)::BIGINT AS n_events,
             |  round(sum(term)::DOUBLE, 6) AS mutual_info
             |FROM t""".stripMargin)),

    // Sweep-line peak concurrency: treat each click as a 5-minute
    // half-open interval and find each day's maximum number of
    // simultaneously-open intervals. The sweep is +1/-1 deltas
    // AGGREGATED PER TIMESTAMP first (closes applied before opens,
    // the [s,e) convention — so the window never orders within ties
    // and the peak is partition-order independent), then a
    // DAY-PARTITIONED running sum: concurrency is measured within
    // the day, which clips the rare midnight-crossing interval but
    // lets the sweep parallelize by day instead of one global
    // ordering. No interval self-join, no per-second explode.
    QueryDef("q_max_concurrency",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .filter(col("event_type") === "click")
        val deltas = ev.select(col("ts").as("t"), lit(1L).as("delta"))
          .unionAll(ev.select(
            (col("ts") + expr("INTERVAL 5 MINUTES")).as("t"),
            lit(-1L).as("delta")))
        val perT = deltas.groupBy(to_date(col("t")).as("day"), col("t"))
          .agg(sum(col("delta")).as("net"))
        val w = Window.partitionBy(col("day")).orderBy(col("t"))
          .rowsBetween(Window.unboundedPreceding, 0)
        perT.withColumn("cum", sum(col("net")).over(w))
          .groupBy(col("day").cast("string").as("day"))
          .agg(max(col("cum")).as("max_concurrency"))
          .orderBy(col("day"))
      },
      Some("""WITH ev AS (SELECT ts FROM events WHERE event_type = 'click'),
             |deltas AS (SELECT ts AS t, 1::BIGINT AS delta FROM ev
             |  UNION ALL
             |  SELECT ts + INTERVAL 5 MINUTE, -1::BIGINT FROM ev),
             |pert AS (SELECT t::DATE AS day, t, sum(delta)::BIGINT AS net
             |  FROM deltas GROUP BY 1, 2),
             |c AS (SELECT day, sum(net) OVER (PARTITION BY day ORDER BY t
             |    ROWS UNBOUNDED PRECEDING) AS cum
             |  FROM pert)
             |SELECT day::VARCHAR AS day,
             |  max(cum)::BIGINT AS max_concurrency
             |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Wald–Wolfowitz runs test per source stream: are
    // above/below-threshold values serially independent, or do they
    // clump? Signs from a fixed threshold, run boundaries from one
    // lag() in the per-type ordered window, then the closed-form
    // z-score from pure integer counts — the third member of the
    // drift/independence audit family (chi-square, KS) covering
    // SERIAL structure.
    QueryDef("q_runs_test",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .select(col("event_type"), col("ts"), col("event_id"),
            when(col("value") >= 5.0, 1).otherwise(0).as("sign"))
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("ts"), col("event_id"))
        val runs = ev
          .withColumn("brk", when(lag(col("sign"), 1).over(w).isNull ||
            lag(col("sign"), 1).over(w) =!= col("sign"), 1L).otherwise(0L))
          .groupBy(col("event_type"))
          .agg(sum(when(col("sign") === 1, 1L).otherwise(0L)).as("n1"),
            sum(when(col("sign") === 0, 1L).otherwise(0L)).as("n0"),
            sum(col("brk")).as("n_runs"))
        val n1 = col("n1").cast("double"); val n0 = col("n0").cast("double")
        val mu = lit(2.0) * n1 * n0 / (n1 + n0) + lit(1.0)
        val sig2 = (lit(2.0) * n1 * n0 * (lit(2.0) * n1 * n0 - n1 - n0)) /
          ((n1 + n0) * (n1 + n0) * (n1 + n0 - lit(1.0)))
        runs.select(col("event_type"), col("n1"), col("n0"), col("n_runs"),
            round((col("n_runs").cast("double") - mu) / sqrt(sig2), 6)
              .as("z_score"))
          .orderBy(col("event_type"))
      },
      Some("""WITH ev AS (SELECT event_type, ts, event_id,
             |    CASE WHEN value >= 5.0 THEN 1 ELSE 0 END AS sign
             |  FROM events),
             |b AS (SELECT event_type, sign,
             |    CASE WHEN lag(sign) OVER (PARTITION BY event_type
             |        ORDER BY ts, event_id) IS DISTINCT FROM sign
             |      THEN 1 ELSE 0 END AS brk
             |  FROM ev),
             |r AS (SELECT event_type,
             |    sum(CASE WHEN sign = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
             |    sum(CASE WHEN sign = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
             |    sum(brk)::BIGINT AS n_runs
             |  FROM b GROUP BY 1)
             |SELECT event_type, n1, n0, n_runs,
             |  round((n_runs::DOUBLE
             |    - (2.0 * n1::DOUBLE * n0::DOUBLE / (n1::DOUBLE + n0::DOUBLE) + 1.0))
             |    / sqrt((2.0 * n1::DOUBLE * n0::DOUBLE
             |        * (2.0 * n1::DOUBLE * n0::DOUBLE - n1::DOUBLE - n0::DOUBLE))
             |      / ((n1::DOUBLE + n0::DOUBLE) * (n1::DOUBLE + n0::DOUBLE)
             |        * (n1::DOUBLE + n0::DOUBLE - 1.0))), 6) AS z_score
             |FROM r ORDER BY event_type""".stripMargin)),

    // Schema-evolution read: the maintained two-generation dir (gen 1
    // lacks `lang` entirely) read back as ONE table via mergeSchema —
    // Spark fills the missing column with nulls, which the rollup
    // labels '<legacy>'. The oracle replays the generational split
    // from the base table, so the merged read's semantics (not just
    // its row count) are verified. This is the additive-migration
    // path every long-lived lake table goes through.
    QueryDef("io_schema_evolution",
      (s, d) => {
        val dir = schemaEvolvedDirOf(s, d)
        s.read.option("mergeSchema", "true").parquet(dir)
          .select(coalesce(col("lang"), lit("<legacy>")).as("lang"),
            col("n_chars"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
          .orderBy(col("lang"))
      },
      Some("""SELECT CASE WHEN doc_id % 2 = 1 THEN lang
             |    ELSE '<legacy>' END AS lang,
             |  count(*) AS n_docs, sum(n_chars)::BIGINT AS chars
             |FROM documents
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // TPC-H Q6: the canonical single-table predicate+aggregate probe
    // — revenue that would be gained by eliminating small discounts.
    // Everything pushes to the scan (three PushedFilters, two read
    // columns); the whole query is one partial-aggregatable sum.
    QueryDef("q6_revenue_delta",
      (s, d) => {
        graft.sources.Tables.load(s, d, "lineitem")
          .filter(col("l_shipdate") >= "1996-01-01" &&
            col("l_shipdate") < "1997-01-01" &&
            col("l_discount").between(0.05, 0.07) &&
            col("l_quantity") < 24)
          .agg(count(lit(1)).as("n_lines"),
            sum(col("l_extendedprice").cast("decimal(12,2)") *
              col("l_discount").cast("decimal(4,2)")).cast("double")
              .as("revenue_delta"))
      },
      Some("""SELECT count(*) AS n_lines,
             |  sum(CAST(l_extendedprice AS DECIMAL(12,2))
             |    * CAST(l_discount AS DECIMAL(4,2)))::DOUBLE AS revenue_delta
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             |  AND l_shipdate < TIMESTAMP '1997-01-01'
             |  AND l_discount BETWEEN 0.05 AND 0.07
             |  AND l_quantity < 24""".stripMargin)),

    // TPC-H Q9 shape: profit by supplier nation × order year, with
    // retail price × quantity standing in for supply cost (no
    // partsupp table in this schema). The join tree keeps lineitem
    // as the only big input: part/supplier/nation broadcast, orders
    // joins on its key. Profit terms are exact decimals end-to-end.
    QueryDef("q9_profit_nation",
      (s, d) => {
        val n = graft.sources.Tables.load(s, d, "nation")
          .select(col("n_nationkey"), col("n_name"))
        val sup = graft.sources.Tables.load(s, d, "supplier")
          .select("s_suppkey", "s_nationkey")
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .select("s_suppkey", "n_name")
        val p = graft.sources.Tables.load(s, d, "part")
          .filter(col("p_name").contains("red"))
          .select(col("p_partkey"),
            col("p_retailprice").cast("decimal(12,2)").as("cost"))
        val o = graft.sources.Tables.load(s, d, "orders")
          .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
        graft.sources.Tables.load(s, d, "lineitem")
          .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
            "l_extendedprice", "l_discount")
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("n_name").as("nation"), col("o_year"))
          .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
              (lit(1) - col("l_discount")).cast("decimal(4,2)") -
              col("cost") * col("l_quantity").cast("decimal(4,0)"))
            .cast("double").as("profit"))
          .orderBy(col("nation"), col("o_year"))
      },
      Some("""SELECT n_name AS nation, year(o_orderdate) AS o_year,
             |  sum(CAST(l_extendedprice AS DECIMAL(12,2))
             |      * CAST(1 - l_discount AS DECIMAL(4,2))
             |    - CAST(p_retailprice AS DECIMAL(12,2))
             |      * CAST(l_quantity AS DECIMAL(4,0)))::DOUBLE AS profit
             |FROM lineitem
             |JOIN part ON p_partkey = l_partkey AND p_name LIKE '%red%'
             |JOIN supplier ON s_suppkey = l_suppkey
             |JOIN nation ON n_nationkey = s_nationkey
             |JOIN orders ON o_orderkey = l_orderkey
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // TPC-H Q11 shape: parts whose revenue exceeds 1.5× the AVERAGE
    // part's revenue — group-by with a HAVING against a scalar
    // aggregate (scale-free threshold, so it binds at any sf). The
    // global digest re-aggregates the per-part digest (one scan of
    // the facts total) and broadcasts as a 1-row threshold; the
    // compare `2·val·n > 3·tot` stays in exact integers/decimals so
    // the boundary is bit-deterministic.
    QueryDef("q11_major_parts",
      (s, d) => {
        val per = graft.sources.Tables.load(s, d, "lineitem")
          .groupBy(col("l_partkey"))
          .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
            (lit(1) - col("l_discount")).cast("decimal(4,2)")).as("val_dec"))
        val tot = per.agg(sum(col("val_dec")).as("tot"),
          count(lit(1)).as("nparts"))
        per.crossJoin(broadcast(tot))
          .filter(col("val_dec") * 2 * col("nparts") > col("tot") * 3)
          .select(col("l_partkey"),
            col("val_dec").cast("double").as("part_value"))
          .orderBy(col("l_partkey"))
      },
      Some("""WITH per AS (SELECT l_partkey,
             |    sum(CAST(l_extendedprice AS DECIMAL(12,2))
             |      * CAST(1 - l_discount AS DECIMAL(4,2))) AS val_dec
             |  FROM lineitem GROUP BY 1),
             |tot AS (SELECT sum(val_dec) AS tot, count(*) AS nparts FROM per)
             |SELECT l_partkey, val_dec::DOUBLE AS part_value
             |FROM per, tot WHERE val_dec * 2 * nparts > tot * 3
             |ORDER BY l_partkey""".stripMargin)),

    // TPC-H Q12 shape: shipping-lateness classes per order priority
    // — lines shipped >90 days after the order date count as late,
    // bucketed by whether the order was URGENT/HIGH. One fact-side
    // join on the order key, conditional sums instead of a second
    // pass per class.
    QueryDef("q12_late_shipments",
      (s, d) => {
        val o = graft.sources.Tables.load(s, d, "orders")
          .select("o_orderkey", "o_orderdate", "o_orderpriority")
        graft.sources.Tables.load(s, d, "lineitem")
          .select("l_orderkey", "l_shipdate")
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .withColumn("late",
            (col("l_shipdate") > col("o_orderdate") +
              expr("INTERVAL 90 DAYS")).cast("long"))
          .groupBy(col("o_orderpriority"))
          .agg(sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
              col("late")).otherwise(0L)).as("high_line_late"),
            sum(col("late")).as("n_late"),
            count(lit(1)).as("n_lines"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority,
             |  sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             |    AND l_shipdate > o_orderdate + INTERVAL 90 DAY
             |    THEN 1 ELSE 0 END)::BIGINT AS high_line_late,
             |  sum(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
             |    THEN 1 ELSE 0 END)::BIGINT AS n_late,
             |  count(*) AS n_lines
             |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Incremental maintenance of a JOIN view (ΔA⋈dim): the enriched
    // cohort digest is maintained from saved state + ONLY the new
    // day's events — the delta is enriched against the dim updated
    // with delta-only first-appearances (valid because first_day is
    // monotone: history rows can never change cohort), then merged
    // into the state digest. The oracle recomputes the view from
    // scratch, so any lost or double-counted delta row hash-fails.
    // This is the join-view face of `q_incremental_agg`: at 100 TB
    // you re-enrich one partition, never the history.
    QueryDef("q_incremental_join_mv",
      (s, d) => {
        val base = joinStateOf(s, d)
        val dimState = s.read.parquet(s"$base/dim")
        val state = s.read.parquet(s"$base/enriched")
        val delta = graft.sources.Tables.events(s, d)
          .filter(to_date(col("ts")) >= lit(StateCut).cast("date"))
        val dimDelta = delta.groupBy(col("user_id"))
          .agg(min(to_date(col("ts"))).as("first_day"))
        val dim = dimState.unionAll(dimDelta)
          .groupBy(col("user_id")).agg(min(col("first_day")).as("first_day"))
        val deltaEnriched = delta
          .join(dim.withColumnRenamed("user_id", "du"),
            col("user_id") === col("du"))
          .groupBy(col("first_day").as("cohort_day"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).as("sv"))
        state.unionAll(deltaEnriched)
          .groupBy(col("cohort_day"), col("event_type"))
          .agg(sum(col("n")).as("n"), sum(col("sv")).as("sv"))
          .select(col("cohort_day").cast("string").as("cohort_day"),
            col("event_type"), col("n"),
            col("sv").cast("double").as("sum_value"))
          .orderBy(col("cohort_day"), col("event_type"))
      },
      Some("""WITH dim AS (SELECT user_id, min(ts::DATE) AS first_day
             |  FROM events GROUP BY 1)
             |SELECT (dim.first_day)::VARCHAR AS cohort_day, e.event_type,
             |  count(*) AS n,
             |  sum(CAST(e.value AS DECIMAL(18,2)))::DOUBLE AS sum_value
             |FROM events e JOIN dim USING (user_id)
             |GROUP BY 1, 2 ORDER BY cohort_day, event_type""".stripMargin)),

    // Week-over-week growth per event type: weekly rollup, lag() on
    // the per-type weekly digest, relative change. The window runs
    // over the digest (weeks × types), never the facts; growth for
    // the first week is NULL by definition on both engines.
    QueryDef("q_wow_growth",
      (s, d) => {
        val wk = graft.sources.Tables.events(s, d)
          .groupBy(col("event_type"),
            date_trunc("week", col("ts")).cast("date").as("week"))
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("week"))
        wk.withColumn("prev_n", lag(col("n"), 1).over(w))
          .select(col("event_type"), col("week").cast("string").as("week"),
            col("n"), col("prev_n"),
            round((col("n") - col("prev_n")).cast("double") /
              col("prev_n").cast("double"), 6).as("wow_growth"))
          .orderBy(col("event_type"), col("week"))
      },
      Some("""WITH wk AS (SELECT event_type,
             |    date_trunc('week', ts)::DATE AS week, count(*) AS n
             |  FROM events GROUP BY 1, 2),
             |l AS (SELECT event_type, week, n,
             |    lag(n) OVER (PARTITION BY event_type ORDER BY week) AS prev_n
             |  FROM wk)
             |SELECT event_type, week::VARCHAR AS week, n, prev_n,
             |  round((n - prev_n)::DOUBLE / prev_n::DOUBLE, 6) AS wow_growth
             |FROM l ORDER BY event_type, week""".stripMargin)),

    // Customer-lifetime-value deciles: per-user exact-decimal value
    // totals cut into 10 equal-population bands over the tie-free
    // (ltv, user) ordering, then per-band size and share. No global
    // window anywhere: `Ranks.withNtile` ranks only a narrow
    // projection of the persisted digest (TeraSort range partition +
    // zipWithIndex), collects the 9 boundary keys, and the decile is
    // a broadcast-boundary CASE — user-grain is data-proportional at
    // the north star, so even the digest never funnels through one
    // task.
    QueryDef("q_ltv_deciles",
      (s, d) => {
        val ltv = graft.sources.Tables.events(s, d)
          .groupBy(col("user_id"))
          .agg(sum(col("value").cast("decimal(18,2)")).as("ltv"))
          .persist()
        val dec = graft.analytics.Ranks.withNtile(ltv, 10, "decile",
          Seq("ltv" -> true, "user_id" -> false))
        ltv.unpersist(false)
        dec.groupBy(col("decile"))
          .agg(count(lit(1)).as("n_users"),
            sum(col("ltv")).cast("double").as("total_value"),
            min(col("ltv")).cast("double").as("min_ltv"),
            max(col("ltv")).cast("double").as("max_ltv"))
          .orderBy(col("decile"))
      },
      Some("""WITH ltv AS (SELECT user_id,
             |    sum(CAST(value AS DECIMAL(18,2))) AS ltv
             |  FROM events GROUP BY 1),
             |t AS (SELECT user_id, ltv,
             |    ntile(10) OVER (ORDER BY ltv DESC, user_id) AS decile
             |  FROM ltv)
             |SELECT decile, count(*) AS n_users,
             |  sum(ltv)::DOUBLE AS total_value,
             |  min(ltv)::DOUBLE AS min_ltv, max(ltv)::DOUBLE AS max_ltv
             |FROM t GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Year-over-year contribution decomposition: each nation's share
    // of the TOTAL 1996→1997 revenue change — the "what moved the
    // number" breakdown. Two conditional exact-decimal sums in ONE
    // pass over the joined facts, the 1-row total broadcast back for
    // the share division (doubles only at the division).
    QueryDef("q_yoy_contribution",
      (s, d) => {
        val n = graft.sources.Tables.load(s, d, "nation")
          .select("n_nationkey", "n_name")
        val c = graft.sources.Tables.load(s, d, "customer")
          .select("c_custkey", "c_nationkey")
        val o = graft.sources.Tables.load(s, d, "orders")
          .filter(year(col("o_orderdate")).isin(1996, 1997))
          .select(col("o_orderkey"), col("o_custkey"),
            year(col("o_orderdate")).as("yr"))
        val rev = graft.sources.Tables.load(s, d, "lineitem")
          .select(col("l_orderkey"),
            (col("l_extendedprice").cast("decimal(12,2)") *
              (lit(1) - col("l_discount")).cast("decimal(4,2)")).as("vol"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name").as("nation"))
          .agg(sum(when(col("yr") === 1996, col("vol"))
              .otherwise(lit(0).cast("decimal(17,4)"))).as("rev96"),
            sum(when(col("yr") === 1997, col("vol"))
              .otherwise(lit(0).cast("decimal(17,4)"))).as("rev97"))
          .withColumn("delta", col("rev97") - col("rev96"))
        val tot = rev.agg(sum(col("delta")).as("tot_delta"))
        rev.crossJoin(broadcast(tot))
          .select(col("nation"), col("rev96").cast("double").as("rev96"),
            col("rev97").cast("double").as("rev97"),
            col("delta").cast("double").as("delta"),
            round(col("delta").cast("double") /
              col("tot_delta").cast("double"), 6).as("share_of_change"))
          .orderBy(col("nation"))
      },
      Some("""WITH rev AS (SELECT n_name AS nation,
             |    sum(CASE WHEN year(o_orderdate) = 1996
             |      THEN CAST(l_extendedprice AS DECIMAL(12,2))
             |        * CAST(1 - l_discount AS DECIMAL(4,2))
             |      ELSE CAST(0 AS DECIMAL(17,4)) END) AS rev96,
             |    sum(CASE WHEN year(o_orderdate) = 1997
             |      THEN CAST(l_extendedprice AS DECIMAL(12,2))
             |        * CAST(1 - l_discount AS DECIMAL(4,2))
             |      ELSE CAST(0 AS DECIMAL(17,4)) END) AS rev97
             |  FROM lineitem
             |  JOIN orders ON o_orderkey = l_orderkey
             |    AND year(o_orderdate) IN (1996, 1997)
             |  JOIN customer ON c_custkey = o_custkey
             |  JOIN nation ON n_nationkey = c_nationkey
             |  GROUP BY 1),
             |d AS (SELECT nation, rev96, rev97, rev97 - rev96 AS delta
             |  FROM rev),
             |t AS (SELECT sum(delta) AS tot_delta FROM d)
             |SELECT nation, rev96::DOUBLE AS rev96, rev97::DOUBLE AS rev97,
             |  delta::DOUBLE AS delta,
             |  round(delta::DOUBLE / tot_delta::DOUBLE, 6) AS share_of_change
             |FROM d, t ORDER BY nation""".stripMargin)),

    // TPC-H Q4 shape: orders with AT LEAST ONE slow line, counted by
    // priority. The EXISTS compiles to a LEFT SEMI join whose
    // condition carries a NON-EQUI residual (shipdate vs orderdate +
    // 60d) on top of the key — the semi join dedups in the join
    // itself, so no order is counted twice however many lines are
    // late.
    QueryDef("q4_priority_exists",
      (s, d) => {
        val o = graft.sources.Tables.load(s, d, "orders")
          .filter(col("o_orderdate") >= "1996-01-01" &&
            col("o_orderdate") < "1996-07-01")
          .select("o_orderkey", "o_orderdate", "o_orderpriority")
        val li = graft.sources.Tables.load(s, d, "lineitem")
          .select("l_orderkey", "l_shipdate")
        o.join(li, col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate") +
              expr("INTERVAL 60 DAYS"), "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, count(*) AS order_count
             |FROM orders
             |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
             |  AND o_orderdate < TIMESTAMP '1996-07-01'
             |  AND EXISTS (SELECT 1 FROM lineitem
             |    WHERE l_orderkey = o_orderkey
             |      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Mode imputation on the schema-evolved table: legacy rows (no
    // `lang` column) get the corpus-wide most-frequent language. The
    // mode is argmax over the tiny lang digest (ties break on the
    // value itself), broadcast into the scan as a 1-row fill — the
    // categorical twin of mean-fill, and the natural consumer of the
    // mergeSchema read: impute what the old schema never recorded.
    QueryDef("feat_impute_mode",
      (s, d) => {
        val evolved = s.read.option("mergeSchema", "true")
          .parquet(schemaEvolvedDirOf(s, d))
        val mode = evolved.filter(col("lang").isNotNull)
          .groupBy(col("lang")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("lang")).limit(1)
          .select(col("lang").as("mode_lang"))
        evolved.crossJoin(broadcast(mode))
          .select(coalesce(col("lang"), col("mode_lang")).as("lang_filled"),
            when(col("lang").isNull, 1L).otherwise(0L).as("was_imputed"))
          .groupBy(col("lang_filled"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("was_imputed")).as("n_imputed"))
          .orderBy(col("lang_filled"))
      },
      Some("""WITH ev AS (SELECT CASE WHEN doc_id % 2 = 1 THEN lang END AS lang
             |  FROM documents),
             |mode AS (SELECT lang AS mode_lang FROM ev
             |  WHERE lang IS NOT NULL GROUP BY 1
             |  ORDER BY count(*) DESC, lang LIMIT 1)
             |SELECT coalesce(ev.lang, mode.mode_lang) AS lang_filled,
             |  count(*) AS n_docs,
             |  sum(CASE WHEN ev.lang IS NULL THEN 1 ELSE 0 END)::BIGINT
             |    AS n_imputed
             |FROM ev, mode
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Quantile (rank) normalization via the bucket digest — maps
    // values to [0,1] by their within-type CDF position, qnorm =
    // (below + ½·tied)/n, computed on the per-(type, bucket) digest
    // with an exclusive cumulative window. At scale this is THE way
    // to rank-normalize: the facts join the tiny normalization map
    // back by bucket; no global sort, no per-row percent_rank over
    // the raw stream.
    QueryDef("feat_quantile_normalize",
      (s, d) => {
        val b = graft.sources.Tables.events(s, d)
          .groupBy(col("event_type"),
            floor(col("value") * 10).cast("long").as("v10"))
          .agg(count(lit(1)).as("cnt"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("v10"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val tot = Window.partitionBy(col("event_type"))
        b.withColumn("below", coalesce(sum(col("cnt")).over(w), lit(0L)))
          .withColumn("n", sum(col("cnt")).over(tot))
          .select(col("event_type"), col("v10"), col("cnt"),
            round((col("below").cast("double") +
              lit(0.5) * col("cnt").cast("double")) /
              col("n").cast("double"), 6).as("qnorm"))
          .orderBy(col("event_type"), col("v10"))
      },
      Some("""WITH b AS (SELECT event_type,
             |    CAST(floor(value * 10) AS BIGINT) AS v10, count(*) AS cnt
             |  FROM events GROUP BY 1, 2),
             |c AS (SELECT event_type, v10, cnt,
             |    coalesce(sum(cnt) OVER (PARTITION BY event_type
             |      ORDER BY v10 ROWS BETWEEN UNBOUNDED PRECEDING
             |      AND 1 PRECEDING), 0) AS below,
             |    sum(cnt) OVER (PARTITION BY event_type) AS n
             |  FROM b)
             |SELECT event_type, v10, cnt,
             |  round((below::DOUBLE + 0.5 * cnt::DOUBLE) / n::DOUBLE, 6)
             |    AS qnorm
             |FROM c ORDER BY event_type, v10""".stripMargin)),

    // CUSUM-style downward-drift alarm per channel (Page-Hinkley
    // form): S_t = cumulative deviation from the channel mean;
    // an alarm fires whenever running_max(S) − S exceeds the
    // threshold — i.e. the series has fallen H below its historical
    // high-water mark. EVERYTHING is integer µcents: values floor to
    // cents, the mean is `(total·1e4) div n`, and the two stacked
    // windows (cumsum, then running max) reuse ONE per-channel
    // partitioning — so the alarm sequence is bit-identical across
    // engines, which no float CUSUM can promise.
    QueryDef("q_drift_cusum",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .select(col("event_type"), col("ts"), col("event_id"),
            floor(col("value") * 100).cast("long").as("cents"))
        val mu = ev.groupBy(col("event_type").as("mt"))
          .agg(expr("(sum(cents) * 10000) div count(1)").as("mu_u"))
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("ts"), col("event_id"))
        val wc = w.rowsBetween(Window.unboundedPreceding, 0)
        ev.join(broadcast(mu), col("event_type") === col("mt"))
          .withColumn("rn", row_number().over(w))
          .withColumn("s",
            sum(col("cents")).over(wc) * 10000 - col("rn") * col("mu_u"))
          .withColumn("gap", max(col("s")).over(wc) - col("s"))
          .groupBy(col("event_type"))
          .agg(sum(when(col("gap") > 500000000L, 1L).otherwise(0L))
            .as("n_alarms"), max(col("gap")).as("max_gap"))
          .orderBy(col("event_type"))
      },
      Some("""WITH ev AS (SELECT event_type, ts, event_id,
             |    floor(value * 100)::BIGINT AS cents FROM events),
             |mu AS (SELECT event_type, (sum(cents) * 10000) // count(*)
             |    AS mu_u FROM ev GROUP BY 1),
             |c AS (SELECT ev.event_type, ts, event_id,
             |    sum(cents) OVER win * 10000
             |      - (row_number() OVER win) * mu.mu_u AS s
             |  FROM ev JOIN mu USING (event_type)
             |  WINDOW win AS (PARTITION BY ev.event_type
             |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)),
             |g AS (SELECT event_type,
             |    max(s) OVER (PARTITION BY event_type ORDER BY ts, event_id
             |      ROWS UNBOUNDED PRECEDING) - s AS gap
             |  FROM c)
             |SELECT event_type,
             |  sum(CASE WHEN gap > 500000000 THEN 1 ELSE 0 END)::BIGINT
             |    AS n_alarms,
             |  max(gap)::BIGINT AS max_gap
             |FROM g GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Interval-union coverage: seconds of each day covered by AT
    // LEAST one open 5-minute click interval — the uptime/coverage
    // measure (distinct from peak concurrency: union length, not
    // max depth). Same per-timestamp delta digest and day-clipped
    // sweep as `q_max_concurrency`; covered time is Σ(next_t − t)
    // over digest rows where the running count is positive — one
    // lead() on the same window, all epoch-microsecond integers.
    QueryDef("q_interval_coverage",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .filter(col("event_type") === "click")
        val deltas = ev.select(col("ts").as("t"), lit(1L).as("delta"))
          .unionAll(ev.select(
            (col("ts") + expr("INTERVAL 5 MINUTES")).as("t"),
            lit(-1L).as("delta")))
        val perT = deltas.groupBy(to_date(col("t")).as("day"), col("t"))
          .agg(sum(col("delta")).as("net"))
        val w = Window.partitionBy(col("day")).orderBy(col("t"))
        val wc = w.rowsBetween(Window.unboundedPreceding, 0)
        perT.withColumn("cum", sum(col("net")).over(wc))
          .withColumn("next_t", lead(col("t"), 1).over(w))
          .withColumn("covered_us",
            when(col("cum") > 0 && col("next_t").isNotNull,
              unix_micros(col("next_t")) - unix_micros(col("t")))
              .otherwise(0L))
          .groupBy(col("day").cast("string").as("day"))
          .agg(expr("sum(covered_us) div 1000000").as("covered_sec"))
          .orderBy(col("day"))
      },
      Some("""WITH ev AS (SELECT ts FROM events WHERE event_type = 'click'),
             |deltas AS (SELECT ts AS t, 1::BIGINT AS delta FROM ev
             |  UNION ALL
             |  SELECT ts + INTERVAL 5 MINUTE, -1::BIGINT FROM ev),
             |pert AS (SELECT t::DATE AS day, t, sum(delta)::BIGINT AS net
             |  FROM deltas GROUP BY 1, 2),
             |c AS (SELECT day, t,
             |    sum(net) OVER (PARTITION BY day ORDER BY t
             |      ROWS UNBOUNDED PRECEDING) AS cum,
             |    lead(t) OVER (PARTITION BY day ORDER BY t) AS next_t
             |  FROM pert)
             |SELECT day::VARCHAR AS day,
             |  (sum(CASE WHEN cum > 0 AND next_t IS NOT NULL
             |    THEN epoch_us(next_t) - epoch_us(t) ELSE 0 END)
             |    // 1000000)::BIGINT AS covered_sec
             |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Pareto concentration: how much of total order value the top
    // 1/5/10% of orders carry. Thresholds come from the EXACT
    // percentile aggregate (partition-safe, no global ntile sort);
    // the 1-row threshold digest broadcasts back for one pass of
    // conditional exact-decimal sums. The revenue-concentration
    // health check every marketplace runs.
    QueryDef("q_pareto_concentration",
      (s, d) => {
        val o = graft.sources.Tables.load(s, d, "orders")
          .select(col("o_totalprice"))
        val th = graft.analytics.Stats.quantiles(
          graft.sources.Tables.load(s, d, "orders"), "o_totalprice",
          Seq(0.9, 0.95, 0.99))
        o.crossJoin(broadcast(th))
          .agg(
            round(max(col("q90")), 4).as("t90"),
            round(max(col("q95")), 4).as("t95"),
            round(max(col("q99")), 4).as("t99"),
            round(sum(when(col("o_totalprice") >= col("q90"),
                col("o_totalprice").cast("decimal(14,2)"))
              .otherwise(lit(0).cast("decimal(14,2)"))).cast("double") /
              sum(col("o_totalprice").cast("decimal(14,2)")).cast("double"),
              6).as("share_top10"),
            round(sum(when(col("o_totalprice") >= col("q95"),
                col("o_totalprice").cast("decimal(14,2)"))
              .otherwise(lit(0).cast("decimal(14,2)"))).cast("double") /
              sum(col("o_totalprice").cast("decimal(14,2)")).cast("double"),
              6).as("share_top5"),
            round(sum(when(col("o_totalprice") >= col("q99"),
                col("o_totalprice").cast("decimal(14,2)"))
              .otherwise(lit(0).cast("decimal(14,2)"))).cast("double") /
              sum(col("o_totalprice").cast("decimal(14,2)")).cast("double"),
              6).as("share_top1"))
      },
      Some("""WITH th AS (SELECT quantile_cont(o_totalprice, 0.90) AS q90,
             |    quantile_cont(o_totalprice, 0.95) AS q95,
             |    quantile_cont(o_totalprice, 0.99) AS q99
             |  FROM orders)
             |SELECT round(max(q90), 4) AS t90, round(max(q95), 4) AS t95,
             |  round(max(q99), 4) AS t99,
             |  round(sum(CASE WHEN o_totalprice >= q90
             |      THEN CAST(o_totalprice AS DECIMAL(14,2))
             |      ELSE CAST(0 AS DECIMAL(14,2)) END)::DOUBLE
             |    / sum(CAST(o_totalprice AS DECIMAL(14,2)))::DOUBLE, 6)
             |    AS share_top10,
             |  round(sum(CASE WHEN o_totalprice >= q95
             |      THEN CAST(o_totalprice AS DECIMAL(14,2))
             |      ELSE CAST(0 AS DECIMAL(14,2)) END)::DOUBLE
             |    / sum(CAST(o_totalprice AS DECIMAL(14,2)))::DOUBLE, 6)
             |    AS share_top5,
             |  round(sum(CASE WHEN o_totalprice >= q99
             |      THEN CAST(o_totalprice AS DECIMAL(14,2))
             |      ELSE CAST(0 AS DECIMAL(14,2)) END)::DOUBLE
             |    / sum(CAST(o_totalprice AS DECIMAL(14,2)))::DOUBLE, 6)
             |    AS share_top1
             |FROM orders, th""".stripMargin)),

    // Sequential pattern mining: the 20 most common 3-step event-type
    // paths WITHIN a session (30-min-gap sessionization, the
    // q_sessionize rule). Two leads on the per-user window with a
    // session-id equality guard so paths never span a session break;
    // counting runs on the path digest.
    QueryDef("q_session_paths",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val ev = graft.sources.Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"))
          .withColumn("new_s",
            when(col("ts").cast("long") -
              lag(col("ts"), 1).over(w).cast("long") > 1800 ||
              lag(col("ts"), 1).over(w).isNull, 1L).otherwise(0L))
          .withColumn("sid", sum(col("new_s"))
            .over(w.rowsBetween(Window.unboundedPreceding, 0)))
        val withLeads = ev
          .withColumn("t2", lead(col("event_type"), 1).over(w))
          .withColumn("s2", lead(col("sid"), 1).over(w))
          .withColumn("t3", lead(col("event_type"), 2).over(w))
          .withColumn("s3", lead(col("sid"), 2).over(w))
          .filter(col("s2") === col("sid") && col("s3") === col("sid"))
        withLeads
          .select(concat_ws(">", col("event_type"), col("t2"), col("t3"))
            .as("path"))
          .groupBy(col("path")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("path")).limit(20)
      },
      Some("""WITH ev AS (SELECT user_id, ts, event_id, event_type,
             |    CASE WHEN lag(ts) OVER win IS NULL
             |      OR floor(epoch(ts))::BIGINT
             |        - floor(epoch(lag(ts) OVER win))::BIGINT > 1800
             |      THEN 1 ELSE 0 END AS new_s
             |  FROM events
             |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |sx AS (SELECT user_id, ts, event_id, event_type,
             |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM ev),
             |tri AS (SELECT event_type, sid,
             |    lead(event_type, 1) OVER win AS t2,
             |    lead(sid, 1) OVER win AS s2,
             |    lead(event_type, 2) OVER win AS t3,
             |    lead(sid, 2) OVER win AS s3
             |  FROM sx
             |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id))
             |SELECT event_type || '>' || t2 || '>' || t3 AS path,
             |  count(*) AS n
             |FROM tri WHERE s2 = sid AND s3 = sid
             |GROUP BY 1 ORDER BY n DESC, path LIMIT 20""".stripMargin)),

    // Aggregate-navigator routing: a MONTHLY rollup answered from
    // the maintained DAILY state plus only the tail days' facts —
    // the query never rescans covered history, it re-grains the MV.
    // The oracle recomputes the month from raw facts, so the routed
    // answer must be exactly the full-scan answer. This is the read
    // side of `q_incremental_agg`'s write side: coarser grains come
    // free once the finest maintained grain exists.
    QueryDef("q_mv_routing",
      (s, d) => {
        val cut = StateCut
        val state = s.read.parquet(dailyStateOf(s, d))
        val tail = graft.sources.Tables.events(s, d)
          .filter(to_date(col("ts")) >= lit(cut).cast("date"))
          .groupBy(to_date(col("ts")).as("day"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).as("sv"))
        state.unionAll(tail)
          .groupBy(date_trunc("month", col("day")).cast("date")
            .cast("string").as("month"), col("event_type"))
          .agg(sum(col("n")).as("n"),
            sum(col("sv")).cast("double").as("sum_value"))
          .orderBy(col("month"), col("event_type"))
      },
      Some("""SELECT (date_trunc('month', ts)::DATE)::VARCHAR AS month,
             |  event_type, count(*) AS n,
             |  sum(CAST(value AS DECIMAL(18,2)))::DOUBLE AS sum_value
             |FROM events
             |GROUP BY 1, 2 ORDER BY month, event_type""".stripMargin)),

    // Mann-Whitney AUC: does value separate purchases from clicks?
    // AUC = P(score_pos > score_neg) with half-credit ties, computed
    // from TIE-AWARE average ranks over the cent-quantized score
    // digest (the Spearman machinery): 2·avgrank = 2·below + cnt + 1
    // keeps every rank an exact integer, so the ranker is
    // bit-deterministic and the only division is the final AUC. The
    // standard classifier-evaluation metric, computed distributed.
    QueryDef("q_auc_mannwhitney",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .filter(col("event_type").isin("purchase", "click"))
          .select(floor(col("value") * 100).cast("long").as("v100"),
            when(col("event_type") === "purchase", 1L).otherwise(0L)
              .as("pos"))
        val cell = ev.groupBy(col("v100"))
          .agg(sum(col("pos")).as("np"),
            sum(lit(1L) - col("pos")).as("nn"))
        val w = Window.orderBy(col("v100"))
          .rowsBetween(Window.unboundedPreceding, -1)
        cell
          .withColumn("below", coalesce(sum(col("np") + col("nn")).over(w),
            lit(0L)))
          .withColumn("r2", col("np") *
            (lit(2L) * col("below") + col("np") + col("nn") + 1L))
          .agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
            sum(col("r2")).as("sum2r"))
          .select(col("n_pos"), col("n_neg"),
            round((col("sum2r") - col("n_pos") * (col("n_pos") + 1L))
              .cast("double") /
              (lit(2.0) * col("n_pos").cast("double") *
                col("n_neg").cast("double")), 6).as("auc"))
      },
      Some("""WITH ev AS (SELECT floor(value * 100)::BIGINT AS v100,
             |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
             |  FROM events WHERE event_type IN ('purchase', 'click')),
             |cell AS (SELECT v100, sum(pos)::BIGINT AS np,
             |    sum(1 - pos)::BIGINT AS nn
             |  FROM ev GROUP BY 1),
             |c AS (SELECT v100, np, nn,
             |    coalesce(sum(np + nn) OVER (ORDER BY v100
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS below
             |  FROM cell),
             |g AS (SELECT sum(np)::BIGINT AS n_pos, sum(nn)::BIGINT AS n_neg,
             |    sum(np * (2 * below + np + nn + 1))::BIGINT AS sum2r
             |  FROM c)
             |SELECT n_pos, n_neg,
             |  round((sum2r - n_pos * (n_pos + 1))::DOUBLE
             |    / (2.0 * n_pos::DOUBLE * n_neg::DOUBLE), 6) AS auc
             |FROM g""".stripMargin)),

    // Gini coefficient of user lifetime value — the inequality
    // summary behind the Pareto/LTV reports: G = (2·Σ i·xᵢ −
    // (n+1)·Σx) / (n·Σx) over ascending-sorted LTVs. Values are
    // exact CENTS and ranks integers, so both sums are exact; the
    // rank-weighted sum needs TRUE global ranks, so it rides
    // `Ranks.withGlobalRank` — range-partitioned sort + zipWithIndex
    // offsets — never a single-task global window, because user-grain
    // is data-proportional at the north star.
    QueryDef("q_gini_coefficient",
      (s, d) => {
        val ltv = graft.sources.Tables.events(s, d)
          .groupBy(col("user_id"))
          .agg(sum(floor(col("value") * 100).cast("long")).as("cents"))
        graft.analytics.Ranks.withGlobalRank(ltv, "i",
            Seq("cents" -> false, "user_id" -> false))
          .agg(count(lit(1)).as("n_users"),
            sum(col("cents")).as("sx"),
            sum(col("i") * col("cents")).as("six"))
          .select(col("n_users"),
            round((lit(2.0) * col("six").cast("double") -
              (col("n_users") + 1L).cast("double") *
                col("sx").cast("double")) /
              (col("n_users").cast("double") * col("sx").cast("double")),
              6).as("gini"))
      },
      Some("""WITH ltv AS (SELECT user_id,
             |    sum(floor(value * 100)::BIGINT)::BIGINT AS cents
             |  FROM events GROUP BY 1),
             |r AS (SELECT cents, row_number() OVER
             |    (ORDER BY cents, user_id) AS i
             |  FROM ltv),
             |g AS (SELECT count(*) AS n_users, sum(cents)::BIGINT AS sx,
             |    sum(i * cents)::BIGINT AS six FROM r)
             |SELECT n_users,
             |  round((2.0 * six::DOUBLE - (n_users + 1)::DOUBLE * sx::DOUBLE)
             |    / (n_users::DOUBLE * sx::DOUBLE), 6) AS gini
             |FROM g""".stripMargin)),

    // Laplace-mechanism count release (ε=1): each published count
    // carries noise drawn by inverse-CDF from an md5-derived uniform
    // — the differential-privacy release SHAPE (sensitivity-1 count,
    // b=1/ε, noise added post-aggregation, never to rows). The
    // deterministic seed exists so the oracle can replay the release
    // exactly; a production run swaps the hash for a real RNG and
    // nothing else changes.
    QueryDef("pipe_dp_count_release",
      (s, d) => {
        val cnt = graft.sources.Tables.events(s, d)
          .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        val u = (pmod(Dedup.strHash60(concat(lit("dp:"), col("event_type"))),
          lit(1000000)).cast("double") + lit(0.5)) / lit(1000000.0)
        cnt.withColumn("u", u)
          .select(col("event_type"), col("n"),
            round(col("n").cast("double") +
              (when(col("u") < 0.5, lit(1.0)).otherwise(lit(-1.0)) *
                log(lit(1.0) - lit(2.0) * abs(col("u") - lit(0.5)))), 3)
              .as("noisy_count"))
          .orderBy(col("event_type"))
      },
      Some(s"""WITH c AS (SELECT event_type, count(*) AS n
              |  FROM events GROUP BY 1),
              |un AS (SELECT event_type, n,
              |    ((${dkHash60s("'dp:'||event_type")} % 1000000)::DOUBLE + 0.5)
              |      / 1000000.0 AS u
              |  FROM c)
              |SELECT event_type, n,
              |  round(n::DOUBLE + (CASE WHEN u < 0.5 THEN 1.0 ELSE -1.0 END)
              |    * ln(1.0 - 2.0 * abs(u - 0.5)), 3) AS noisy_count
              |FROM un ORDER BY event_type""".stripMargin)),

    // Kendall tau-b between value decile and hour-of-day — the third
    // rank-association measure (after Spearman and Mann-Whitney),
    // and the one that's naively O(rows²): concordant/discordant
    // PAIRS. The engine trick, twice over: pairs are counted on the
    // CELL DIGEST, and the digest pair-sum itself runs as 2-D PREFIX
    // SUMS over the densified (x, 24-hour) grid — O(grid) with three
    // windows, not O(grid²) with a non-equi join (the grid grows with
    // the value domain, and a BroadcastNestedLoopJoin over grid² is
    // exactly the plan that melts at 100 TB). C = Σ n(x,y)·A(x,y)
    // with A the strict lower-left prefix; ties from the digest
    // margins; all exact integers — tau-b's sqrt is the only float.
    // Ljung-Box portmanteau test at lag 3 — "is the hourly series
    // white noise?": Q = n(n+2) Σ_{k=1..3} r_k²/(n−k), the residual
    // -diagnostics companion to the ACF/PACF pair, from the same
    // integer centered-series digest. Q >> 7.81 (chi-sq df=3, .05)
    // rejects whiteness.
    QueryDef("q_ljung_box",
      (s, d) => {
        val hr = graft.sources.Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .groupBy(date_trunc("hour", col("ts")).as("hr"))
          .agg(sum(floor(col("value") * 100).cast("long")).as("cents"))
        val mu = hr.agg(expr("sum(cents) div count(1)").as("mu"))
        val cen = hr.crossJoin(broadcast(mu))
          .withColumn("rn", row_number().over(Window.orderBy(col("hr"))))
          .select(col("rn"), (col("cents") - col("mu")).as("c"))
          .persist()
        val denom = cen.agg(sum(col("c") * col("c")).as("ss"),
          count(lit(1)).as("n"))
        val lags = cen.withColumn("lag",
          explode(array(lit(1), lit(2), lit(3))))
        QueryDef.digest(s, lags
          .join(cen.select(col("rn").as("rb"), col("c").as("cb")),
            col("rb") === col("rn") + col("lag"))
          .groupBy(col("lag")).agg(sum(col("c") * col("cb")).as("num"))
          .crossJoin(broadcast(denom))
          .select(col("n"), col("lag"),
            (col("num").cast("double") / col("ss").cast("double")).as("r"))
          .select(col("n"),
            round((col("r") * col("r")) /
              (col("n") - col("lag")).cast("double"), 12)
              .cast("decimal(24,12)").as("term"))
          .groupBy(col("n"))
          .agg(round(col("n").cast("double") * (col("n") + 1) *
            sum(col("term")).cast("double"), 4).as("q_stat"))
          .select(col("n"), col("q_stat"),
            when(col("q_stat") > 7.815, 1L).otherwise(0L)
              .as("reject_white_noise")), cen)
      },
      Some("""WITH h AS (SELECT date_trunc('hour', ts) AS hr,
             |    sum(floor(value * 100)::BIGINT)::BIGINT AS cents
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
             |mu AS (SELECT sum(cents) // count(*) AS mu FROM h),
             |cen AS (SELECT row_number() OVER (ORDER BY hr) AS rn,
             |    cents - mu AS c FROM h, mu),
             |dn AS (SELECT sum(c * c)::BIGINT AS ss, count(*)::BIGINT AS n
             |  FROM cen),
             |lg AS (SELECT a.rn, a.c, l.lag FROM cen a
             |  CROSS JOIN (SELECT unnest([1, 2, 3]) AS lag) l),
             |rr AS (SELECT lg.lag, max(dn.n) AS n,
             |    sum(lg.c * b.c)::DOUBLE / max(dn.ss)::DOUBLE AS r
             |  FROM lg JOIN cen b ON b.rn = lg.rn + lg.lag, dn GROUP BY 1),
             |tm AS (SELECT n, round(r * r / (n - lag)::DOUBLE, 12)
             |    ::DECIMAL(24,12) AS term
             |  FROM rr),
             |qq AS (SELECT n, round(n::DOUBLE * (n + 1) * sum(term)::DOUBLE, 4)
             |    AS q_stat
             |  FROM tm GROUP BY n)
             |SELECT n, q_stat,
             |  CASE WHEN q_stat > 7.815 THEN 1 ELSE 0 END::BIGINT
             |    AS reject_white_noise
             |FROM qq""".stripMargin)),

    // Mann-Kendall trend test — the non-parametric "is this series
    // trending" standard (no linearity or normality assumed): S = Σ
    // sign(x_j − x_i) over ordered day pairs of the daily purchase
    // total, variance with the tie correction, and the
    // continuity-corrected z. The pairwise sum runs on the ~30-row
    // day DIGEST (digest², never rows²); all counts exact integers.
    QueryDef("q_mann_kendall",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .groupBy(to_date(col("ts")).as("day"))
          .agg(sum(floor(col("value") * 100).cast("long")).as("cents"))
          .persist()
        val pairs = daily.select(col("day").as("d1"), col("cents").as("c1"))
          .join(daily.select(col("day").as("d2"), col("cents").as("c2")),
            col("d1") < col("d2"))
          .agg(sum(when(col("c2") > col("c1"), 1L)
            .when(col("c2") < col("c1"), -1L).otherwise(0L)).as("s"))
        val nn = daily.agg(count(lit(1)).as("n"))
        val ties = daily.groupBy(col("cents")).agg(count(lit(1)).as("t"))
          .agg(coalesce(sum(col("t") * (col("t") - 1) *
            (col("t") * 2 + 5)), lit(0L)).as("tsum"))
        QueryDef.digest(s, pairs
          .crossJoin(broadcast(nn)).crossJoin(broadcast(ties))
          .select(col("n"), col("s"),
            round((col("s").cast("double") -
              signum(col("s").cast("double"))) /
              sqrt((col("n") * (col("n") - 1) * (col("n") * 2 + 5) -
                col("tsum")).cast("double") / 18.0), 6).as("z")), daily)
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day,
             |    sum(floor(value * 100)::BIGINT)::BIGINT AS cents
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
             |pr AS (SELECT sum(CASE WHEN b.cents > a.cents THEN 1
             |      WHEN b.cents < a.cents THEN -1 ELSE 0 END)::BIGINT AS s
             |  FROM daily a JOIN daily b ON a.day < b.day),
             |nn AS (SELECT count(*)::BIGINT AS n FROM daily),
             |ti AS (SELECT coalesce(sum(t * (t - 1) * (2 * t + 5)), 0)::BIGINT
             |    AS tsum
             |  FROM (SELECT count(*)::BIGINT AS t FROM daily GROUP BY cents))
             |SELECT n, s,
             |  round((s::DOUBLE - sign(s::DOUBLE))
             |    / sqrt((n * (n - 1) * (2 * n + 5) - tsum)::DOUBLE / 18.0), 6)
             |    AS z
             |FROM pr, nn, ti""".stripMargin)),

    // Daily P10/P50/P90 bands per channel — the percentile time series
    // behind a latency/SLA dashboard: exact per-(channel, day)
    // percentile digests (bounded by channels x days, not rows), the
    // at-scale switch being the grouped approx-percentile twin.
    QueryDef("q_daily_percentile_bands",
      (s, d) => {
        graft.sources.Tables.events(s, d)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n"),
            graft.functions.ExactPercentile
              .percentiles(col("value"), Seq(0.1, 0.5, 0.9)).as("__q"))
          .select(col("event_type"), col("day").cast("string").as("day"),
            col("n"), round(col("__q").getItem(0), 4).as("p10"),
            round(col("__q").getItem(1), 4).as("p50"),
            round(col("__q").getItem(2), 4).as("p90"))
          .orderBy(col("event_type"), col("day"))
      },
      Some("""SELECT event_type, (ts::DATE)::VARCHAR AS day,
             |  count(*)::BIGINT AS n,
             |  round(quantile_cont(value, 0.10), 4) AS p10,
             |  round(quantile_cont(value, 0.50), 4) AS p50,
             |  round(quantile_cont(value, 0.90), 4) AS p90
             |FROM events GROUP BY event_type, ts::DATE
             |ORDER BY event_type, day""".stripMargin)),

    // Does week-1 spend predict lifetime spend? Pearson r between each
    // user's first-7-day purchase cents and their whole-window total
    // (the early-signal validity check behind any LTV model). Week-1
    // is anchored per USER (first event + 7 days), not the calendar;
    // closed-form r from exact integer digests.
    QueryDef("q_week1_ltv_corr",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"),
            floor(col("value") * 100).cast("long").as("cents"))
        val first = ev.groupBy(col("user_id")).agg(min(col("ts")).as("t0"))
        val per = ev.join(broadcast(first), "user_id")
          .groupBy(col("user_id"))
          .agg(sum(when(col("ts") < col("t0") + expr("interval 7 days"),
              col("cents")).otherwise(0L)).as("w1"),
            sum(col("cents")).as("tot"))
        per.agg(count(lit(1)).as("n"), sum(col("w1")).as("sx"),
            sum(col("tot")).as("sy"),
            sum(col("w1").cast("decimal(38,0)") * col("w1")).as("qx"),
            sum(col("tot").cast("decimal(38,0)") * col("tot")).as("qy"),
            sum(col("w1").cast("decimal(38,0)") * col("tot")).as("sxy"))
          .select(col("n"),
            round((col("n") * col("sxy") -
              col("sx").cast("decimal(38,0)") * col("sy")).cast("double") /
              sqrt((col("n") * col("qx") -
                col("sx").cast("decimal(38,0)") * col("sx")).cast("double") *
                (col("n") * col("qy") -
                  col("sy").cast("decimal(38,0)") * col("sy")).cast("double")),
              6).as("week1_ltv_r"))
      },
      Some("""WITH e AS (SELECT user_id, ts,
             |    floor(value * 100)::BIGINT AS cents
             |  FROM events WHERE event_type = 'purchase'),
             |f AS (SELECT user_id, min(ts) AS t0 FROM e GROUP BY 1),
             |per AS (SELECT e.user_id,
             |    sum(CASE WHEN e.ts < f.t0 + INTERVAL 7 DAYS
             |      THEN cents ELSE 0 END)::BIGINT AS w1,
             |    sum(cents)::BIGINT AS tot
             |  FROM e JOIN f USING (user_id) GROUP BY 1),
             |a AS (SELECT count(*)::BIGINT AS n, sum(w1)::BIGINT AS sx,
             |    sum(tot)::BIGINT AS sy,
             |    sum(w1::HUGEINT * w1)::HUGEINT AS qx,
             |    sum(tot::HUGEINT * tot)::HUGEINT AS qy,
             |    sum(w1::HUGEINT * tot)::HUGEINT AS sxy
             |  FROM per)
             |SELECT n,
             |  round((n * sxy - sx::HUGEINT * sy)::DOUBLE
             |    / sqrt((n * qx - sx::HUGEINT * sx)::DOUBLE
             |      * (n * qy - sy::HUGEINT * sy)::DOUBLE), 6) AS week1_ltv_r
             |FROM a""".stripMargin)),

    // Sessions-per-user distribution — the engagement histogram: how
    // many users had k sessions over the window (the shape behind the
    // DAU/MAU one-number). Session derivation is the q_sessionize
    // window; two stacked digest aggregations after it.
    QueryDef("q_sessions_per_user_hist",
      (s, d) => {
        val byUser = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        graft.sources.Tables.events(s, d)
          .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
          .withColumn("new_session",
            when(col("prev_ts").isNull ||
              unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L,
              1L).otherwise(0L))
          .groupBy(col("user_id"))
          .agg(sum(col("new_session")).as("n_sessions"))
          .groupBy(col("n_sessions"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy(col("n_sessions"))
      },
      Some("""WITH g AS (
             |  SELECT user_id,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
             |         THEN 1 ELSE 0 END AS new_session
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |u AS (SELECT user_id, sum(new_session)::BIGINT AS n_sessions
             |  FROM g GROUP BY 1)
             |SELECT n_sessions, count(*)::BIGINT AS n_users
             |FROM u GROUP BY 1 ORDER BY n_sessions""".stripMargin)),

    // Goodman-Kruskal gamma — tau-b's tie-blind sibling: (C−D)/(C+D)
    // over the SAME 2-D prefix-sum concordance counts (see
    // q_kendall_tau for the O(grid) machinery); gamma reads higher on
    // heavily-tied ordinal data because ties simply leave the
    // denominator. Reported next to the pair counts so the two
    // statistics' divergence is itself visible.
    QueryDef("q_gamma_gk",
      (s, d) => {
        val cell = graft.sources.Tables.events(s, d)
          .groupBy(floor(col("value") * 10).cast("long").as("x"),
            hour(col("ts")).cast("long").as("y"))
          .agg(count(lit(1)).as("nc"))
        val ys = s.range(0, 24).select(col("id").as("y"))
        val grid = cell.select(col("x")).distinct()
          .crossJoin(broadcast(ys))
          .join(cell, Seq("x", "y"), "left")
          .select(col("x"), col("y"), coalesce(col("nc"), lit(0L)).as("nc"))
        val wx = Window.partitionBy(col("y")).orderBy(col("x"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val p = grid.withColumn("p", coalesce(sum(col("nc")).over(wx), lit(0L)))
        val wyAsc = Window.partitionBy(col("x")).orderBy(col("y"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val wyDesc = Window.partitionBy(col("x")).orderBy(col("y").desc)
          .rowsBetween(Window.unboundedPreceding, -1)
        p.withColumn("a", coalesce(sum(col("p")).over(wyAsc), lit(0L)))
          .withColumn("b", coalesce(sum(col("p")).over(wyDesc), lit(0L)))
          .agg(sum(col("nc") * col("a")).as("c"),
            sum(col("nc") * col("b")).as("dd"))
          .select(col("c"), col("dd").as("d"),
            round((col("c") - col("dd")).cast("double") /
              (col("c") + col("dd")).cast("double"), 6).as("gamma"))
      },
      Some("""WITH cell AS (SELECT floor(value * 10)::BIGINT AS x,
             |    hour(ts)::BIGINT AS y, count(*) AS nc
             |  FROM events GROUP BY 1, 2),
             |conc AS (SELECT coalesce(sum(a.nc * b.nc), 0)::BIGINT AS c
             |  FROM cell a JOIN cell b ON a.x < b.x AND a.y < b.y),
             |disc AS (SELECT coalesce(sum(a.nc * b.nc), 0)::BIGINT AS d
             |  FROM cell a JOIN cell b ON a.x < b.x AND a.y > b.y)
             |SELECT c, d,
             |  round((c - d)::DOUBLE / (c + d)::DOUBLE, 6) AS gamma
             |FROM conc, disc""".stripMargin)),

    QueryDef("q_kendall_tau",
      (s, d) => {
        // the digest is referenced five times (grid, margins, both
        // tie sums) — persist it so events is scanned ONCE, the same
        // discipline as dedup_neardup_groups' rounds
        val cell = graft.sources.Tables.events(s, d)
          .groupBy(floor(col("value") * 10).cast("long").as("x"),
            hour(col("ts")).cast("long").as("y"))
          .agg(count(lit(1)).as("nc"))
          .persist()
        // dense (x, y) grid: every observed x crossed with all 24
        // hours, missing cells as 0 — prefix sums need the full lattice
        val ys = s.range(0, 24).select(col("id").as("y"))
        val grid = cell.select(col("x")).distinct()
          .crossJoin(broadcast(ys))
          .join(cell, Seq("x", "y"), "left")
          .select(col("x"), col("y"), coalesce(col("nc"), lit(0L)).as("nc"))
        // P(x,y) = Σ_{x'<x} n(x',y): strict prefix along x, per y
        val wx = Window.partitionBy(col("y")).orderBy(col("x"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val p = grid.withColumn("p", coalesce(sum(col("nc")).over(wx), lit(0L)))
        // A = Σ_{y'<y} P(x,y'), B = Σ_{y'>y} P(x,y'): strict prefixes
        // along y (both directions), per x — grid is dense so the
        // window frames see every y level
        val wyAsc = Window.partitionBy(col("x")).orderBy(col("y"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val wyDesc = Window.partitionBy(col("x")).orderBy(col("y").desc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val ab = p
          .withColumn("a", coalesce(sum(col("p")).over(wyAsc), lit(0L)))
          .withColumn("b", coalesce(sum(col("p")).over(wyDesc), lit(0L)))
        val cd = ab.agg(sum(col("nc") * col("a")).as("c"),
          sum(col("nc") * col("b")).as("dd"))
        val margins = cell.agg(sum(col("nc")).as("n"))
        val tx = cell.groupBy(col("x")).agg(sum(col("nc")).as("nx"))
          .agg(sum(col("nx") * (col("nx") - 1)).as("tieX2"))
        val ty = cell.groupBy(col("y")).agg(sum(col("nc")).as("ny"))
          .agg(sum(col("ny") * (col("ny") - 1)).as("tieY2"))
        QueryDef.digest(s, cd.crossJoin(broadcast(margins))
          .crossJoin(broadcast(tx)).crossJoin(broadcast(ty))
          .select(col("c"), col("dd").as("d"),
            round((col("c") - col("dd")).cast("double") /
              sqrt((col("n") * (col("n") - 1) - col("tieX2"))
                .cast("double") *
                (col("n") * (col("n") - 1) - col("tieY2"))
                  .cast("double")) / lit(0.5), 6).as("tau_b")), cell)
      },
      Some("""WITH cell AS (SELECT floor(value * 10)::BIGINT AS x,
             |    hour(ts)::BIGINT AS y, count(*) AS nc
             |  FROM events GROUP BY 1, 2),
             |conc AS (SELECT coalesce(sum(a.nc * b.nc), 0)::BIGINT AS c
             |  FROM cell a JOIN cell b ON a.x < b.x AND a.y < b.y),
             |disc AS (SELECT coalesce(sum(a.nc * b.nc), 0)::BIGINT AS d
             |  FROM cell a JOIN cell b ON a.x < b.x AND a.y > b.y),
             |m AS (SELECT sum(nc)::BIGINT AS n FROM cell),
             |tx AS (SELECT sum(nx * (nx - 1))::BIGINT AS tiex2 FROM
             |  (SELECT sum(nc)::BIGINT AS nx FROM cell GROUP BY x)),
             |ty AS (SELECT sum(ny * (ny - 1))::BIGINT AS tiey2 FROM
             |  (SELECT sum(nc)::BIGINT AS ny FROM cell GROUP BY y))
             |SELECT conc.c, disc.d,
             |  round((conc.c - disc.d)::DOUBLE
             |    / sqrt((m.n * (m.n - 1) - tx.tiex2)::DOUBLE
             |      * (m.n * (m.n - 1) - ty.tiey2)::DOUBLE) / 0.5, 6)
             |    AS tau_b
             |FROM conc, disc, m, tx, ty""".stripMargin)),

    // RFM segmentation: per-user Recency / Frequency / Monetary
    // quintile scores concatenated into the classic 3-digit segment,
    // rolled up to segment sizes. Recency anchors on the corpus max
    // day so the score is reproducible, not wall-clock-relative.
    // Each axis's quintile is a broadcast-boundary CASE from
    // `Ranks.ntileBoundaries` — the three stacked single-task global
    // windows this query once had are gone; the digest is persisted
    // so the three boundary collections scan the facts once, and the
    // scoring pass itself is shuffle-free.
    QueryDef("q_rfm_segments",
      (s, d) => {
        import graft.analytics.Ranks
        val ev = graft.sources.Tables.events(s, d)
        val per = ev.groupBy(col("user_id"))
          .agg(max(to_date(col("ts"))).as("last_day"),
            count(lit(1)).as("freq"),
            sum(floor(col("value") * 100).cast("long")).as("cents"))
          .persist()
        val sR = Seq("last_day" -> true, "user_id" -> false)
        val sF = Seq("freq" -> true, "user_id" -> false)
        val sM = Seq("cents" -> true, "user_id" -> false)
        val (bR, bF, bM) = (Ranks.ntileBoundaries(per, 5, sR),
          Ranks.ntileBoundaries(per, 5, sF),
          Ranks.ntileBoundaries(per, 5, sM))
        per.unpersist(false)
        per.withColumn("r", Ranks.ntileColumn(bR, sR).cast("int"))
          .withColumn("f", Ranks.ntileColumn(bF, sF).cast("int"))
          .withColumn("m", Ranks.ntileColumn(bM, sM).cast("int"))
          .groupBy(concat(col("r"), col("f"), col("m")).as("segment"))
          .agg(count(lit(1)).as("n_users"),
            sum(col("cents")).as("total_cents"))
          .orderBy(col("segment"))
      },
      Some("""WITH per AS (SELECT user_id, max(ts::DATE) AS last_day,
             |    count(*) AS freq,
             |    sum(floor(value * 100)::BIGINT)::BIGINT AS cents
             |  FROM events GROUP BY 1),
             |sc AS (SELECT user_id, cents,
             |    ntile(5) OVER (ORDER BY last_day DESC, user_id) AS r,
             |    ntile(5) OVER (ORDER BY freq DESC, user_id) AS f,
             |    ntile(5) OVER (ORDER BY cents DESC, user_id) AS m
             |  FROM per)
             |SELECT r::VARCHAR || f::VARCHAR || m::VARCHAR AS segment,
             |  count(*) AS n_users, sum(cents)::BIGINT AS total_cents
             |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Two-proportion z-test (the A/B-test readout): purchase rate of
    // the even-user cohort vs the odd-user cohort, pooled-variance z
    // from pure integer counts in ONE conditional aggregate pass.
    // Completes the inference family (chi-square, KS, runs, AUC) with
    // the test every experimentation platform runs first.
    QueryDef("q_abtest_ztest",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .select((col("user_id") % 2 === 0).as("va"),
            (col("event_type") === "purchase").as("conv"))
        val g = ev.agg(
          sum(when(col("va") && col("conv"), 1L).otherwise(0L)).as("x1"),
          sum(when(col("va"), 1L).otherwise(0L)).as("n1"),
          sum(when(!col("va") && col("conv"), 1L).otherwise(0L)).as("x2"),
          sum(when(!col("va"), 1L).otherwise(0L)).as("n2"))
        val p1 = col("x1").cast("double") / col("n1").cast("double")
        val p2 = col("x2").cast("double") / col("n2").cast("double")
        val pp = (col("x1") + col("x2")).cast("double") /
          (col("n1") + col("n2")).cast("double")
        g.select(col("x1"), col("n1"), col("x2"), col("n2"),
          round(p1 - p2, 6).as("rate_diff"),
          round((p1 - p2) / sqrt(pp * (lit(1.0) - pp) *
            (lit(1.0) / col("n1").cast("double") +
              lit(1.0) / col("n2").cast("double"))), 6).as("z_score"))
      },
      Some("""WITH g AS (SELECT
             |    sum(CASE WHEN user_id % 2 = 0 AND event_type = 'purchase'
             |      THEN 1 ELSE 0 END)::BIGINT AS x1,
             |    sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n1,
             |    sum(CASE WHEN user_id % 2 = 1 AND event_type = 'purchase'
             |      THEN 1 ELSE 0 END)::BIGINT AS x2,
             |    sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n2
             |  FROM events)
             |SELECT x1, n1, x2, n2,
             |  round(x1::DOUBLE / n1::DOUBLE - x2::DOUBLE / n2::DOUBLE, 6)
             |    AS rate_diff,
             |  round((x1::DOUBLE / n1::DOUBLE - x2::DOUBLE / n2::DOUBLE)
             |    / sqrt(((x1 + x2)::DOUBLE / (n1 + n2)::DOUBLE)
             |      * (1.0 - (x1 + x2)::DOUBLE / (n1 + n2)::DOUBLE)
             |      * (1.0 / n1::DOUBLE + 1.0 / n2::DOUBLE)), 6) AS z_score
             |FROM g""".stripMargin)),

    // New-vs-returning daily split: each day's users and events
    // divided by whether the day is that user's FIRST. The first-day
    // dim is one aggregate of (user, day) pairs; the classification
    // joins it back onto the per-(user, day) digest, never the raw
    // stream — the acquisition-vs-retention lens on the same cohort
    // machinery as q_retention.
    QueryDef("q_new_vs_returning",
      (s, d) => {
        val ud = graft.sources.Tables.events(s, d)
          .groupBy(col("user_id"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n_ev"))
        val first = ud.groupBy(col("user_id").as("fu"))
          .agg(min(col("day")).as("first_day"))
        ud.join(first, col("user_id") === col("fu"))
          .withColumn("is_new", (col("day") === col("first_day")).cast("long"))
          .groupBy(col("day").cast("string").as("day"))
          .agg(sum(col("is_new")).as("n_new_users"),
            sum(lit(1L) - col("is_new")).as("n_returning_users"),
            sum(col("n_ev") * col("is_new")).as("ev_new"),
            sum(col("n_ev") * (lit(1L) - col("is_new"))).as("ev_returning"))
          .orderBy(col("day"))
      },
      Some("""WITH ud AS (SELECT user_id, ts::DATE AS day, count(*) AS n_ev
             |  FROM events GROUP BY 1, 2),
             |f AS (SELECT user_id, min(day) AS first_day FROM ud GROUP BY 1)
             |SELECT ud.day::VARCHAR AS day,
             |  sum(CASE WHEN ud.day = f.first_day THEN 1 ELSE 0 END)::BIGINT
             |    AS n_new_users,
             |  sum(CASE WHEN ud.day = f.first_day THEN 0 ELSE 1 END)::BIGINT
             |    AS n_returning_users,
             |  sum(CASE WHEN ud.day = f.first_day THEN n_ev ELSE 0 END)::BIGINT
             |    AS ev_new,
             |  sum(CASE WHEN ud.day = f.first_day THEN 0 ELSE n_ev END)::BIGINT
             |    AS ev_returning
             |FROM ud JOIN f USING (user_id)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Conversion-lag histogram: hours from each user's FIRST click to
    // their FIRST subsequent purchase, bucketed hourly (capped at
    // 48h, -1 = never converted). Two endpoint digests (min over the
    // filtered stream each) joined once — the time-to-convert
    // distribution behind the q_funnel rate, computed without any
    // per-event pairing.
    QueryDef("q_conversion_lag",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
        val click = ev.filter(col("event_type") === "click")
          .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
        val buy = ev.filter(col("event_type") === "purchase")
          .groupBy(col("user_id").as("bu")).agg(min(col("ts")).as("t_buy"))
        click.join(buy, col("user_id") === col("bu"), "left")
          .withColumn("lag_h",
            when(col("t_buy").isNull || col("t_buy") < col("t_click"),
              lit(-1L))
            .otherwise(least(
              expr("(unix_micros(t_buy) - unix_micros(t_click)) div 3600000000"),
              lit(48L))))
          .groupBy(col("lag_h")).agg(count(lit(1)).as("n_users"))
          .orderBy(col("lag_h"))
      },
      Some("""WITH c AS (SELECT user_id, min(ts) AS t_click FROM events
             |  WHERE event_type = 'click' GROUP BY 1),
             |b AS (SELECT user_id, min(ts) AS t_buy FROM events
             |  WHERE event_type = 'purchase' GROUP BY 1),
             |l AS (SELECT c.user_id,
             |    CASE WHEN b.t_buy IS NULL OR b.t_buy < c.t_click THEN -1
             |      ELSE least((epoch_us(b.t_buy) - epoch_us(c.t_click))
             |        // 3600000000, 48) END AS lag_h
             |  FROM c LEFT JOIN b USING (user_id))
             |SELECT lag_h::BIGINT AS lag_h, count(*) AS n_users
             |FROM l GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Session-duration distribution: 30-min-gap sessions reduced to
    // one integer duration each (the session DIGEST — seconds from
    // floored epochs), then count / exact mean / exact p50+p90 via
    // the percentile aggregate. The engagement-depth readout on the
    // same sessionization rule as q_sessionize/q_session_paths.
    QueryDef("q_session_duration_stats",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val sess = graft.sources.Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"))
          .withColumn("new_s",
            when(lag(col("ts"), 1).over(w).isNull ||
              col("ts").cast("long") -
                lag(col("ts"), 1).over(w).cast("long") > 1800, 1L)
              .otherwise(0L))
          .withColumn("sid", sum(col("new_s"))
            .over(w.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy(col("user_id"), col("sid"))
          .agg((max(col("ts").cast("long")) - min(col("ts").cast("long")))
            .cast("double").as("dur_sec"))
        val q = graft.analytics.Stats.quantiles(sess, "dur_sec",
          Seq(0.5, 0.9))
        sess.crossJoin(broadcast(q))
          .agg(count(lit(1)).as("n_sessions"),
            round(sum(col("dur_sec").cast("decimal(18,0)")).cast("double") /
              count(lit(1)).cast("double"), 4).as("avg_sec"),
            round(max(col("q50")), 4).as("p50_sec"),
            round(max(col("q90")), 4).as("p90_sec"))
      },
      Some("""WITH ev AS (SELECT user_id, ts, event_id,
             |    CASE WHEN lag(ts) OVER win IS NULL
             |      OR floor(epoch(ts))::BIGINT
             |        - floor(epoch(lag(ts) OVER win))::BIGINT > 1800
             |      THEN 1 ELSE 0 END AS new_s
             |  FROM events
             |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |sx AS (SELECT user_id,
             |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS UNBOUNDED PRECEDING) AS sid, ts
             |  FROM ev),
             |sess AS (SELECT user_id, sid,
             |    (max(floor(epoch(ts))::BIGINT)
             |      - min(floor(epoch(ts))::BIGINT))::DOUBLE AS dur_sec
             |  FROM sx GROUP BY 1, 2)
             |SELECT count(*) AS n_sessions,
             |  round(sum(dur_sec::DECIMAL(18,0))::DOUBLE / count(*)::DOUBLE, 4)
             |    AS avg_sec,
             |  round(quantile_cont(dur_sec, 0.5), 4) AS p50_sec,
             |  round(quantile_cont(dur_sec, 0.9), 4) AS p90_sec
             |FROM sess""".stripMargin)),

    // Bollinger-band breaches: trailing-20 mean ± 2σ per channel,
    // counting points outside their own band. Rolling mean/variance
    // come from EXACT windowed Σx, Σx² in integer cents (the rolling-
    // slope discipline), and the band test |x − x̄| > 2σ multiplies
    // through by n² into the pure-integer inequality
    // (n·x − Σx)² > 4·(n·Σx² − (Σx)²) — the breach set is
    // bit-deterministic with no sqrt, no division, anywhere.
    QueryDef("q_rolling_bands",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .select(col("event_type"), col("ts"), col("event_id"),
            floor(col("value") * 100).cast("long").as("c"))
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("ts"), col("event_id")).rowsBetween(-19, 0)
        ev.withColumn("n", count(lit(1)).over(w))
          .withColumn("sx", sum(col("c")).over(w))
          .withColumn("sxx", sum(col("c") * col("c")).over(w))
          .filter(col("n") === 20)
          .withColumn("dev", col("n") * col("c") - col("sx"))
          .withColumn("varn",
            col("n") * col("sxx") - col("sx") * col("sx"))
          .withColumn("breach",
            (col("dev") * col("dev") > col("varn") * 4).cast("long"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_points"), sum(col("breach")).as("n_breaches"))
          .orderBy(col("event_type"))
      },
      Some("""WITH ev AS (SELECT event_type, ts, event_id,
             |    floor(value * 100)::BIGINT AS c FROM events),
             |r AS (SELECT event_type,
             |    count(*) OVER win AS n,
             |    sum(c) OVER win AS sx,
             |    sum(c * c) OVER win AS sxx, c
             |  FROM ev WINDOW win AS (PARTITION BY event_type
             |    ORDER BY ts, event_id ROWS BETWEEN 19 PRECEDING
             |    AND CURRENT ROW)),
             |f AS (SELECT event_type,
             |    (n * c - sx) * (n * c - sx) AS dev2,
             |    n * sxx - sx * sx AS varn
             |  FROM r WHERE n = 20)
             |SELECT event_type, count(*) AS n_points,
             |  sum(CASE WHEN dev2 > varn * 4 THEN 1 ELSE 0 END)::BIGINT
             |    AS n_breaches
             |FROM f GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Lorenz curve (the graph behind q_gini_coefficient): per LTV
    // decile, the cumulative share of users vs cumulative share of
    // value, both in exact ppm integers — deciles via the
    // broadcast-boundary `Ranks.withNtile` (user-grain is
    // data-proportional; no single-task window touches the digest),
    // cumulative sums over the 10-row decile digest. `A 45° line` ⇒
    // equality; the sag IS the inequality.
    QueryDef("q_lorenz_curve",
      (s, d) => {
        val ltv = graft.sources.Tables.events(s, d)
          .groupBy(col("user_id"))
          .agg(sum(floor(col("value") * 100).cast("long")).as("cents"))
          .persist()
        val dec0 = graft.analytics.Ranks.withNtile(ltv, 10, "decile",
          Seq("cents" -> false, "user_id" -> false))
        ltv.unpersist(false)
        val dec = dec0.groupBy(col("decile"))
          .agg(count(lit(1)).as("nu"), sum(col("cents")).as("cts"))
        val wd = Window.orderBy(col("decile"))
          .rowsBetween(Window.unboundedPreceding, 0)
        val tot = dec.agg(sum(col("nu")).as("tu"), sum(col("cts")).as("tc"))
        dec.withColumn("cum_u", sum(col("nu")).over(wd))
          .withColumn("cum_c", sum(col("cts")).over(wd))
          .crossJoin(broadcast(tot))
          .select(col("decile"),
            expr("cum_u * 1000000 div tu").as("cum_users_ppm"),
            expr("cum_c * 1000000 div tc").as("cum_value_ppm"))
          .orderBy(col("decile"))
      },
      Some("""WITH ltv AS (SELECT user_id,
             |    sum(floor(value * 100)::BIGINT)::BIGINT AS cents
             |  FROM events GROUP BY 1),
             |dec AS (SELECT ntile(10) OVER (ORDER BY cents, user_id)
             |      AS decile, cents
             |  FROM ltv),
             |g AS (SELECT decile, count(*) AS nu, sum(cents)::BIGINT AS cts
             |  FROM dec GROUP BY 1),
             |c AS (SELECT decile,
             |    sum(nu) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
             |      AS cum_u,
             |    sum(cts) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
             |      AS cum_c
             |  FROM g),
             |t AS (SELECT sum(nu)::BIGINT AS tu, sum(cts)::BIGINT AS tc FROM g)
             |SELECT decile, (cum_u * 1000000 // tu)::BIGINT AS cum_users_ppm,
             |  (cum_c * 1000000 // tc)::BIGINT AS cum_value_ppm
             |FROM c, t ORDER BY decile""".stripMargin)),

    // Population Stability Index between the month's first and
    // second half, per value bucket — THE production
    // model-monitoring drift score (PSI > 0.25 ⇒ retrain). Bucket
    // shares from one conditional aggregate; per-bucket
    // (p−q)·ln(p/q) terms rounded once and summed as exact decimals
    // (the entropy discipline). Buckets empty on either side are
    // excluded by exact integer predicates, identically in both
    // engines.
    QueryDef("q_psi_stability",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .select(floor(col("value")).cast("long").as("b"),
            (dayofmonth(col("ts")) <= 15).as("h1"))
        val cell = ev.groupBy(col("b"))
          .agg(sum(when(col("h1"), 1L).otherwise(0L)).as("na"),
            sum(when(!col("h1"), 1L).otherwise(0L)).as("nb"))
          .filter(col("na") > 0 && col("nb") > 0)
        val tot = cell.agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb"))
        val p = col("na").cast("double") / col("ta").cast("double")
        val q = col("nb").cast("double") / col("tb").cast("double")
        cell.crossJoin(broadcast(tot))
          .withColumn("term", round((p - q) * log(p / q), 9)
            .cast("decimal(20,9)"))
          .agg(count(lit(1)).as("n_buckets"),
            round(sum(col("term")).cast("double"), 6).as("psi"))
      },
      Some("""WITH ev AS (SELECT floor(value)::BIGINT AS b,
             |    day(ts) <= 15 AS h1 FROM events),
             |cell AS (SELECT b,
             |    sum(CASE WHEN h1 THEN 1 ELSE 0 END)::BIGINT AS na,
             |    sum(CASE WHEN h1 THEN 0 ELSE 1 END)::BIGINT AS nb
             |  FROM ev GROUP BY 1
             |  HAVING sum(CASE WHEN h1 THEN 1 ELSE 0 END) > 0
             |    AND sum(CASE WHEN h1 THEN 0 ELSE 1 END) > 0),
             |t AS (SELECT sum(na)::BIGINT AS ta, sum(nb)::BIGINT AS tb
             |  FROM cell),
             |c AS (SELECT
             |    round((na::DOUBLE / t.ta::DOUBLE - nb::DOUBLE / t.tb::DOUBLE)
             |      * ln((na::DOUBLE / t.ta::DOUBLE)
             |        / (nb::DOUBLE / t.tb::DOUBLE)), 9)::DECIMAL(20,9) AS term
             |  FROM cell, t)
             |SELECT count(*) AS n_buckets,
             |  round(sum(term)::DOUBLE, 6) AS psi
             |FROM c""".stripMargin)),

    // Day-of-week seasonal effects per channel: each weekday's mean
    // deviation from the channel mean, in exact integer µcents
    // (mean = total·1e4 div n on both the channel and the cell, so
    // the decomposition needs no float means at all). The additive
    // seasonality table a forecaster subtracts before modeling
    // trend; complements the hour-of-day baseline in
    // q_seasonal_anomaly at the weekly grain.
    QueryDef("q_dow_effects",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .select(col("event_type"), dayofweek(col("ts")).as("dow"),
            floor(col("value") * 100).cast("long").as("c"))
        val cell = ev.groupBy(col("event_type"), col("dow"))
          .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"))
        val ch = cell.groupBy(col("event_type").as("ct"))
          .agg(expr("(sum(sc) * 10000) div sum(n)").as("mu_u"))
        cell.join(broadcast(ch), col("event_type") === col("ct"))
          .select(col("event_type"), col("dow"), col("n"),
            (expr("(sc * 10000) div n") - col("mu_u")).as("dow_effect_ucents"))
          .orderBy(col("event_type"), col("dow"))
      },
      Some("""WITH ev AS (SELECT event_type, dayofweek(ts) + 1 AS dow,
             |    floor(value * 100)::BIGINT AS c FROM events),
             |cell AS (SELECT event_type, dow, count(*) AS n,
             |    sum(c)::BIGINT AS sc
             |  FROM ev GROUP BY 1, 2),
             |ch AS (SELECT event_type, (sum(sc) * 10000) // sum(n) AS mu_u
             |  FROM cell GROUP BY 1)
             |SELECT cell.event_type, dow, n,
             |  ((sc * 10000) // n - ch.mu_u)::BIGINT AS dow_effect_ucents
             |FROM cell JOIN ch USING (event_type)
             |ORDER BY event_type, dow""".stripMargin)),

    // Embedding centroid drift: cosine between each label's centroid
    // in the even-id half vs the odd-id half of the corpus — the
    // snapshot-to-snapshot stability probe that catches an encoder
    // change or a poisoned batch before it reaches the ANN index.
    // Centroids are raw integer SUM vectors (cosine is
    // scale-invariant, the emb_exemplars trick), so everything up to
    // the single final cosine is exact.
    QueryDef("emb_centroid_drift",
      (s, d) => {
        val xl = graft.sources.Tables.load(s, d, "embeddings")
          .select(col("vec_id"), col("label"),
            posexplode(col("embedding")).as(Seq("dim", "xf")))
          .select(col("vec_id"), col("label"), col("dim"),
            round(col("xf").cast("double") * 1000, 0).cast("long").as("xq"))
        val halves = xl.groupBy(col("label"), col("dim"))
          .agg(sum(when(col("vec_id") % 2 === 0, col("xq")).otherwise(0L))
            .as("sa"),
            sum(when(col("vec_id") % 2 === 1, col("xq")).otherwise(0L))
              .as("sb"))
        halves.groupBy(col("label"))
          .agg(sum(col("sa") * col("sb")).as("dot"),
            sum(col("sa") * col("sa")).as("n2a"),
            sum(col("sb") * col("sb")).as("n2b"))
          .select(col("label"),
            round(col("dot").cast("double") /
              sqrt(col("n2a").cast("double") * col("n2b").cast("double")),
              6).as("drift_cos"))
          .orderBy(col("label"))
      },
      Some("""WITH xl AS (SELECT vec_id, label, r.i - 1 AS dim,
             |    round(embedding[r.i]::DOUBLE * 1000)::BIGINT AS xq
             |  FROM embeddings, range(1, 65) r(i)),
             |h AS (SELECT label, dim,
             |    sum(CASE WHEN vec_id % 2 = 0 THEN xq ELSE 0 END)::BIGINT AS sa,
             |    sum(CASE WHEN vec_id % 2 = 1 THEN xq ELSE 0 END)::BIGINT AS sb
             |  FROM xl GROUP BY 1, 2),
             |g AS (SELECT label, sum(sa * sb)::BIGINT AS dot,
             |    sum(sa * sa)::BIGINT AS n2a, sum(sb * sb)::BIGINT AS n2b
             |  FROM h GROUP BY 1)
             |SELECT label,
             |  round(dot::DOUBLE / sqrt(n2a::DOUBLE * n2b::DOUBLE), 6)
             |    AS drift_cos
             |FROM g ORDER BY label""".stripMargin)),

    // Audience overlap matrix: Jaccard between the USER BASES of
    // every event-type pair — who clicks also buys? Distinct
    // (user, type) pairs once; the intersection count is a
    // co-partitioned self-join on user_id; unions come from the
    // per-type sizes by inclusion-exclusion, so no second pass. The
    // segment-overlap planning number behind every cross-sell
    // analysis.
    QueryDef("q_segment_overlap",
      (s, d) => {
        val ut = graft.sources.Tables.events(s, d)
          .select(col("user_id"), col("event_type")).distinct()
        val sizes = ut.groupBy(col("event_type").as("st"))
          .agg(count(lit(1)).as("sz"))
        val inter = ut.join(ut.select(col("user_id").as("u2"),
            col("event_type").as("t2")),
            col("user_id") === col("u2") && col("event_type") < col("t2"))
          .groupBy(col("event_type").as("ta"), col("t2").as("tb"))
          .agg(count(lit(1)).as("n_inter"))
        inter.join(broadcast(sizes), col("ta") === col("st"))
          .withColumnRenamed("sz", "sz_a").drop("st")
          .join(broadcast(sizes), col("tb") === col("st"))
          .withColumnRenamed("sz", "sz_b").drop("st")
          .select(col("ta"), col("tb"), col("n_inter"),
            expr("n_inter * 1000000 div (sz_a + sz_b - n_inter)")
              .as("jaccard_ppm"))
          .orderBy(col("ta"), col("tb"))
      },
      Some("""WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
             |sz AS (SELECT event_type, count(*) AS sz FROM ut GROUP BY 1),
             |inter AS (SELECT a.event_type AS ta, b.event_type AS tb,
             |    count(*) AS n_inter
             |  FROM ut a JOIN ut b ON a.user_id = b.user_id
             |    AND a.event_type < b.event_type
             |  GROUP BY 1, 2)
             |SELECT ta, tb, n_inter,
             |  (n_inter * 1000000
             |    // (sa.sz + sb.sz - n_inter))::BIGINT AS jaccard_ppm
             |FROM inter JOIN sz sa ON sa.event_type = ta
             |JOIN sz sb ON sb.event_type = tb
             |ORDER BY ta, tb""".stripMargin)),

    // CUPED variance-reduced A/B readout: adjust each user's
    // second-half outcome by their FIRST-half covariate,
    // Yadj = Y − θ(X − X̄), θ = cov(X,Y)/var(X) — the standard
    // experimentation trick that shrinks confidence intervals for
    // free. Per-user halves come from one conditional aggregate in
    // exact cents; θ and both variances are closed forms over exact
    // sums (the q_sensor_drift discipline); the report shows the
    // variance reduction CUPED bought.
    QueryDef("q_ab_cuped",
      (s, d) => {
        val per = graft.sources.Tables.events(s, d)
          .groupBy(col("user_id"))
          .agg(sum(when(dayofmonth(col("ts")) <= 15,
              floor(col("value") * 100).cast("long")).otherwise(0L)).as("x"),
            sum(when(dayofmonth(col("ts")) > 15,
              floor(col("value") * 100).cast("long")).otherwise(0L)).as("y"))
        val g = per.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("y") * col("y")).as("syy"))
        // moment combinations escape int64 at scale (n·Σxy ~ 4e19);
        // DECIMAL(38,0) keeps them exact where DuckDB auto-escapes
        // to HUGEINT — both engines reach the identical double
        def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
        val n = col("n").cast("double")
        val covxy = (d38(col("n")) * d38(col("sxy")) -
          d38(col("sx")) * d38(col("sy"))).cast("double")
        val varx = (d38(col("n")) * d38(col("sxx")) -
          d38(col("sx")) * d38(col("sx"))).cast("double")
        val vary = (d38(col("n")) * d38(col("syy")) -
          d38(col("sy")) * d38(col("sy"))).cast("double")
        g.select(col("n").as("n_users"),
          round(covxy / varx, 6).as("theta"),
          round(vary / (n * n), 4).as("var_y"),
          round((vary - covxy * covxy / varx) / (n * n), 4)
            .as("var_y_cuped"),
          round(lit(1.0) - (vary - covxy * covxy / varx) / vary, 6)
            .as("var_reduction"))
      },
      Some("""WITH per AS (SELECT user_id,
             |    sum(CASE WHEN day(ts) <= 15
             |      THEN floor(value * 100)::BIGINT ELSE 0 END)::BIGINT AS x,
             |    sum(CASE WHEN day(ts) > 15
             |      THEN floor(value * 100)::BIGINT ELSE 0 END)::BIGINT AS y
             |  FROM events GROUP BY 1),
             |g AS (SELECT count(*) AS n, sum(x)::BIGINT AS sx,
             |    sum(y)::BIGINT AS sy, sum(x * x)::BIGINT AS sxx,
             |    sum(x * y)::BIGINT AS sxy, sum(y * y)::BIGINT AS syy
             |  FROM per)
             |SELECT n AS n_users,
             |  round((n * sxy - sx * sy)::DOUBLE
             |    / (n * sxx - sx * sx)::DOUBLE, 6) AS theta,
             |  round((n * syy - sy * sy)::DOUBLE / (n::DOUBLE * n::DOUBLE), 4)
             |    AS var_y,
             |  round(((n * syy - sy * sy)::DOUBLE
             |    - (n * sxy - sx * sy)::DOUBLE * (n * sxy - sx * sy)::DOUBLE
             |      / (n * sxx - sx * sx)::DOUBLE) / (n::DOUBLE * n::DOUBLE), 4)
             |    AS var_y_cuped,
             |  round(1.0 - ((n * syy - sy * sy)::DOUBLE
             |    - (n * sxy - sx * sy)::DOUBLE * (n * sxy - sx * sy)::DOUBLE
             |      / (n * sxx - sx * sx)::DOUBLE)
             |    / (n * syy - sy * sy)::DOUBLE, 6) AS var_reduction
             |FROM g""".stripMargin)),

    // Fixed-depth hierarchy rollup: events attributed up a synthetic
    // binary org tree (parent = id div 2) to self + parent +
    // grandparent, WITHOUT recursion — bounded-depth ancestor
    // explosion over the per-leaf digest, then one re-aggregation.
    // The category-tree/org-chart rollup shape: at a fixed depth the
    // explode is a constant fan-out, embarrassingly parallel, and
    // needs no iterative driver loop.
    QueryDef("q_hierarchy_rollup",
      (s, d) => {
        val leaf = graft.sources.Tables.events(s, d)
          .filter(col("user_id") >= 8)
          .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        leaf.select(explode(array(
            struct(col("user_id").as("node"), lit(0).as("depth")),
            struct(expr("user_id div 2").as("node"), lit(1).as("depth")),
            struct(expr("user_id div 4").as("node"), lit(2).as("depth"))))
            .as("a"), col("n"))
          .groupBy(col("a.node").as("node"))
          .agg(sum(col("n")).as("subtree_events"),
            sum(when(col("a.depth") === 0, col("n")).otherwise(0L))
              .as("own_events"))
          .orderBy(col("subtree_events").desc, col("node")).limit(20)
      },
      Some("""WITH leaf AS (SELECT user_id, count(*) AS n FROM events
             |  WHERE user_id >= 8 GROUP BY 1),
             |anc AS (SELECT user_id AS node, 0 AS depth, n FROM leaf
             |  UNION ALL SELECT user_id // 2, 1, n FROM leaf
             |  UNION ALL SELECT user_id // 4, 2, n FROM leaf),
             |g AS (SELECT node, sum(n)::BIGINT AS subtree_events,
             |    sum(CASE WHEN depth = 0 THEN n ELSE 0 END)::BIGINT
             |      AS own_events
             |  FROM anc GROUP BY 1)
             |SELECT node, subtree_events, own_events FROM g
             |ORDER BY subtree_events DESC, node LIMIT 20""".stripMargin)),

    // Herfindahl-Hirschman concentration of revenue by nation: HHI =
    // Σ shareᵢ², the antitrust-grade concentration number. Shares
    // quantize to ppm integers (one floored double division of
    // exact-decimal sums — IEEE-identical on both engines), so the
    // index itself is pure integer arithmetic: Σ ppm² div 1e6 → ppm
    // of the 1e6 "fully concentrated" ceiling.
    QueryDef("q_hhi_concentration",
      (s, d) => {
        val rev = graft.sources.Tables.load(s, d, "lineitem")
          .select(col("l_orderkey"),
            (col("l_extendedprice").cast("decimal(12,2)") *
              (lit(1) - col("l_discount")).cast("decimal(4,2)")).as("vol"))
          .join(graft.sources.Tables.load(s, d, "orders")
            .select("o_orderkey", "o_custkey"),
            col("l_orderkey") === col("o_orderkey"))
          .join(graft.sources.Tables.load(s, d, "customer")
            .select("c_custkey", "c_nationkey"),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey"))
          .agg(sum(col("vol")).as("rev"))
        val tot = rev.agg(sum(col("rev")).as("tot"))
        rev.crossJoin(broadcast(tot))
          .withColumn("share_ppm",
            floor(col("rev").cast("double") * lit(1000000.0) /
              col("tot").cast("double")).cast("long"))
          .agg(count(lit(1)).as("n_nations"),
            expr("sum(share_ppm * share_ppm) div 1000000").as("hhi_ppm"))
      },
      Some("""WITH rev AS (SELECT c_nationkey,
             |    sum(CAST(l_extendedprice AS DECIMAL(12,2))
             |      * CAST(1 - l_discount AS DECIMAL(4,2))) AS rev
             |  FROM lineitem
             |  JOIN orders ON o_orderkey = l_orderkey
             |  JOIN customer ON c_custkey = o_custkey
             |  GROUP BY 1),
             |t AS (SELECT sum(rev) AS tot FROM rev),
             |s AS (SELECT floor(rev::DOUBLE * 1000000.0 / t.tot::DOUBLE)::BIGINT
             |    AS share_ppm
             |  FROM rev, t)
             |SELECT count(*) AS n_nations,
             |  (sum(share_ppm * share_ppm) // 1000000)::BIGINT AS hhi_ppm
             |FROM s""".stripMargin)),

    // TPC-H Q17 shape: revenue locked in "small-quantity" lineitems —
    // lines whose quantity sits under 20% of their part's average.
    // The per-part threshold is the correlated-subquery classic; here
    // it's one grouped pass over the brand's lines joined back on
    // partkey (both sides pre-filtered by the broadcast part dim, so
    // at 100 TB the fact scan reads one brand's slice twice, never
    // the whole table). The 20%-of-average comparison is cleared of
    // float division entirely: qty < sum/(5n)  ⟺  5·n·qty < sum in
    // exact decimals — no rounding boundary can flip a row.
    QueryDef("q17_small_quantity",
      (s, d) => {
        val p = graft.sources.Tables.load(s, d, "part")
          .filter(col("p_brand") === "Brand#7").select("p_partkey")
        val li = graft.sources.Tables.load(s, d, "lineitem")
          .select("l_partkey", "l_quantity", "l_extendedprice")
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        val th = li.groupBy(col("l_partkey").as("tk"))
          .agg(sum(col("l_quantity").cast("decimal(12,2)")).as("sq"),
            count(lit(1)).as("nq"))
        li.join(th, col("l_partkey") === col("tk"))
          .filter(col("l_quantity").cast("decimal(12,2)") * lit(5) *
            col("nq") < col("sq"))
          .agg(count(lit(1)).as("n_small"),
            sum(col("l_extendedprice").cast("decimal(12,2)"))
              .cast("double").as("small_revenue"))
      },
      Some("""WITH li AS (SELECT l_partkey, l_quantity, l_extendedprice
             |    FROM lineitem JOIN part ON p_partkey = l_partkey
             |    WHERE p_brand = 'Brand#7'),
             |th AS (SELECT l_partkey AS tk,
             |    sum(CAST(l_quantity AS DECIMAL(12,2))) AS sq,
             |    count(*) AS nq
             |  FROM li GROUP BY 1)
             |SELECT count(*) AS n_small,
             |  sum(CAST(l_extendedprice AS DECIMAL(12,2)))::DOUBLE
             |    AS small_revenue
             |FROM li JOIN th ON l_partkey = tk
             |WHERE CAST(l_quantity AS DECIMAL(12,2)) * 5 * nq < sq""".stripMargin)),

    // TPC-H Q16 shape (parts/supplier relationship), adapted to this
    // schema: the partsupp relation is reconstructed as the DISTINCT
    // (l_partkey, l_suppkey) pairs actually shipped (one pair-digest
    // shuffle — at 100 TB this is how you recover a dim you didn't
    // persist); the "customer complaints" supplier exclusion maps to
    // s_acctbal < 0, a 100-row broadcast ANTI join. Filters on part
    // push into its scan; both dims broadcast.
    QueryDef("q16_parts_suppliers",
      (s, d) => {
        val p = graft.sources.Tables.load(s, d, "part")
          .filter(col("p_brand") =!= "Brand#5" &&
            col("p_type") =!= "ECONOMY" &&
            col("p_size").isin(1, 4, 7, 9, 11))
          .select("p_partkey", "p_brand", "p_type", "p_size")
        val bad = graft.sources.Tables.load(s, d, "supplier")
          .filter(col("s_acctbal") < 0)
          .select(col("s_suppkey").as("bad_sk"))
        val ps = graft.sources.Tables.load(s, d, "lineitem")
          .select(col("l_partkey"), col("l_suppkey")).distinct()
        ps.join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .join(broadcast(bad), col("l_suppkey") === col("bad_sk"),
            "left_anti")
          .groupBy(col("p_brand"), col("p_type"), col("p_size"))
          .agg(count_distinct(col("l_suppkey")).as("supplier_cnt"))
          .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
            col("p_size"))
      },
      Some("""WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
             |SELECT p_brand, p_type, p_size,
             |  count(DISTINCT l_suppkey)::BIGINT AS supplier_cnt
             |FROM ps JOIN part ON p_partkey = l_partkey
             |WHERE p_brand <> 'Brand#5' AND p_type <> 'ECONOMY'
             |  AND p_size IN (1, 4, 7, 9, 11)
             |  AND l_suppkey NOT IN
             |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
             |GROUP BY 1, 2, 3
             |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)),

    // TPC-H Q20 shape (potential part promotion), adapted: without
    // ps_availqty, a supplier "holds excess" of a small% part when its
    // lifetime shipped quantity is more than double its 1998 shipments
    // (same correlated-threshold semi-join plan as the original —
    // aggregate subquery decides membership, then the supplier dim is
    // joined only for survivors). Quantities are integral doubles cast
    // to BIGINT so the threshold compare is exact in both engines.
    QueryDef("q20_excess_suppliers",
      (s, d) => {
        val p = graft.sources.Tables.load(s, d, "part")
          .filter(col("p_name").startsWith("small")).select("p_partkey")
        val li = graft.sources.Tables.load(s, d, "lineitem")
          .select("l_partkey", "l_suppkey", "l_quantity", "l_shipdate")
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        val sup = li.groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(sum(col("l_quantity").cast("long")).as("qty_total"),
            sum(when(year(col("l_shipdate")) === 1998,
              col("l_quantity").cast("long")).otherwise(0L)).as("qty_1998"))
          .filter(col("qty_1998") > 0 &&
            col("qty_total") > col("qty_1998") * 2)
          .select(col("l_suppkey")).distinct()
        graft.sources.Tables.load(s, d, "supplier")
          .join(sup, col("s_suppkey") === col("l_suppkey"))
          .join(broadcast(graft.sources.Tables.load(s, d, "nation")),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_name"), col("n_name"))
          .orderBy(col("s_name"))
      },
      Some("""WITH p AS (SELECT p_partkey FROM part
             |  WHERE p_name LIKE 'small%'),
             |a AS (SELECT l_partkey, l_suppkey,
             |    sum(l_quantity::BIGINT) AS qty_total,
             |    sum(CASE WHEN year(l_shipdate) = 1998
             |      THEN l_quantity::BIGINT ELSE 0 END) AS qty_1998
             |  FROM lineitem JOIN p ON p_partkey = l_partkey GROUP BY 1, 2),
             |sup AS (SELECT DISTINCT l_suppkey FROM a
             |  WHERE qty_1998 > 0 AND qty_total > qty_1998 * 2)
             |SELECT s_name, n_name
             |FROM supplier JOIN sup ON s_suppkey = l_suppkey
             |JOIN nation ON n_nationkey = s_nationkey
             |ORDER BY s_name""".stripMargin)),

    // TPC-H Q21 shape: suppliers who kept multi-supplier orders
    // waiting — they shipped late (>60 days past the order date) on a
    // finished order where EVERY other supplier shipped on time. The
    // EXISTS / NOT-EXISTS pair of the original is folded into one
    // per-order digest (distinct-supplier count + distinct-late-
    // supplier count), so the plan is two shuffles on orderkey and a
    // broadcast of the supplier dim — no correlated re-scan per
    // supplier the way the textbook plan does it.
    QueryDef("q21_waiting_supplier",
      (s, d) => {
        val o = graft.sources.Tables.load(s, d, "orders")
          .filter(col("o_orderstatus") === "F")
          .select("o_orderkey", "o_orderdate")
        val lo = graft.sources.Tables.load(s, d, "lineitem")
          .select("l_orderkey", "l_suppkey", "l_shipdate")
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .withColumn("late",
            (col("l_shipdate") > col("o_orderdate") +
              expr("INTERVAL 60 DAYS")).cast("int"))
        val per = lo.groupBy(col("l_orderkey").as("ok"))
          .agg(countDistinct(col("l_suppkey")).as("n_supp"),
            countDistinct(when(col("late") === 1, col("l_suppkey")))
              .as("n_late_supp"))
        val lateLines = lo.filter(col("late") === 1)
          .select("l_orderkey", "l_suppkey").distinct()
        lateLines
          .join(per, col("l_orderkey") === col("ok") &&
            col("n_supp") > 1 && col("n_late_supp") === 1)
          .join(broadcast(graft.sources.Tables.load(s, d, "supplier")
            .select("s_suppkey", "s_name")),
            col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("s_name"))
          .agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("s_name")).limit(20)
      },
      Some("""WITH lo AS (SELECT l_orderkey, l_suppkey,
             |    CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
             |      THEN 1 ELSE 0 END AS late
             |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
             |  WHERE o_orderstatus = 'F'),
             |per AS (SELECT l_orderkey, count(DISTINCT l_suppkey) AS n_supp,
             |    count(DISTINCT CASE WHEN late = 1 THEN l_suppkey END)
             |      AS n_late_supp
             |  FROM lo GROUP BY 1),
             |w AS (SELECT DISTINCT lo.l_orderkey, l_suppkey
             |  FROM lo JOIN per USING (l_orderkey)
             |  WHERE late = 1 AND n_supp > 1 AND n_late_supp = 1)
             |SELECT s_name, count(*) AS numwait
             |FROM w JOIN supplier ON s_suppkey = l_suppkey
             |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin)),

    // Link prediction on the co-purchase graph via the Resource
    // Allocation index: RA(a,b) = Σ_{z ∈ Γ(a)∩Γ(b)} 1/deg(z), scored
    // only for NON-edges (the recommendation candidates). Candidate
    // generation is the wedge join (adjacency self-joined on the
    // shared neighbor z) — the same ids-only shuffle shape as the
    // triangle counter, never an all-pairs scan. 1/deg is carried as
    // the integer ppb quotient 1e9 div deg, so the score sum is
    // partition-order independent and bit-identical to the oracle.
    QueryDef("q_link_prediction",
      (s, d) => {
        val e = s.read.parquet(copurchaseEdgesOf(s, d))
        val eb = e.select(col("p1").as("src"), col("p2").as("dst"))
          .unionAll(e.select(col("p2").as("src"), col("p1").as("dst")))
        val deg = eb.groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("deg"))
        val adj = eb.join(deg, col("src") === col("node"))
          .select(col("src"), col("dst"),
            expr("1000000000 div deg").as("w"))
        val cand = adj.select(col("src").as("z"), col("dst").as("a"),
            col("w"))
          .join(adj.select(col("src").as("z2"), col("dst").as("b")),
            col("z") === col("z2") && col("a") < col("b"))
          .groupBy(col("a"), col("b"))
          .agg(count(lit(1)).as("common_neighbors"),
            sum(col("w")).as("ra_score_ppb"))
        cand.join(e, col("a") === col("p1") && col("b") === col("p2"),
            "left_anti")
          .orderBy(col("ra_score_ppb").desc, col("a"), col("b"))
          .limit(30)
      },
      Some("""WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |e AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2
             |  FROM pp a JOIN pp b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |eb AS (SELECT p1 AS src, p2 AS dst FROM e
             |  UNION ALL SELECT p2, p1 FROM e),
             |deg AS (SELECT src AS node, count(*) AS deg FROM eb GROUP BY 1),
             |adj AS (SELECT src, dst, 1000000000 // deg AS w
             |  FROM eb JOIN deg ON src = node),
             |cand AS (SELECT x.dst AS a, y.dst AS b,
             |    count(*) AS common_neighbors,
             |    sum(x.w)::BIGINT AS ra_score_ppb
             |  FROM adj x JOIN adj y
             |    ON x.src = y.src AND x.dst < y.dst
             |  GROUP BY 1, 2)
             |SELECT a, b, common_neighbors, ra_score_ppb FROM cand
             |WHERE NOT EXISTS (SELECT 1 FROM e
             |  WHERE p1 = a AND p2 = b)
             |ORDER BY ra_score_ppb DESC, a, b LIMIT 30""".stripMargin)),

    // Per-user activity bitmap: one bit per calendar day ORed into a
    // 30-bit mask — the roaring-bitmap-style engagement encoding
    // (64 users/word at the warehouse, popcount = days active, mask
    // equality = identical schedules). One shuffle on user_id, then a
    // catalog-sized regroup on popcount; the mask checksum pins the
    // exact bit pattern, not just its cardinality.
    QueryDef("q_activity_bitmap",
      (s, d) => {
        graft.sources.Tables.events(s, d)
          .groupBy(col("user_id"))
          .agg(expr("bit_or(shiftleft(1L, datediff(to_date(ts), " +
            "date'2024-01-01')))").as("mask"))
          .groupBy(bit_count(col("mask")).as("n_active_days"))
          .agg(count(lit(1)).as("n_users"),
            sum(col("mask")).as("mask_checksum"))
          .orderBy(col("n_active_days"))
      },
      Some("""WITH m AS (SELECT user_id,
             |    bit_or(1::BIGINT << datediff('day', DATE '2024-01-01',
             |      ts::DATE)) AS mask
             |  FROM events GROUP BY 1)
             |SELECT bit_count(mask) AS n_active_days,
             |  count(*) AS n_users, sum(mask)::BIGINT AS mask_checksum
             |FROM m GROUP BY 1 ORDER BY n_active_days""".stripMargin)),

    // Per-brand OLS slope of quantity on discount ("price
    // elasticity" readout): slope = (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²).
    // Both sufficient statistics are EXACT decimal sums carried in
    // 1e-4 units (bigint), so the only float op is the final
    // IEEE-deterministic double division, floored to ppm — the same
    // exactness discipline as the covariance/HHI queries. One scan,
    // map-side partial aggregation, 25 groups.
    QueryDef("feat_price_elasticity",
      (s, d) => {
        val li = graft.sources.Tables.load(s, d, "lineitem")
          .select(col("l_partkey"),
            col("l_discount").cast("decimal(4,2)").as("x"),
            col("l_quantity").cast("decimal(12,2)").as("y"))
          .join(broadcast(graft.sources.Tables.load(s, d, "part")
            .select("p_partkey", "p_brand")),
            col("l_partkey") === col("p_partkey"))
        li.groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("x")).as("sxx"))
          .select(col("p_brand"), col("n"),
            ((col("n") * col("sxy") - col("sx") * col("sy")) *
              lit(10000)).cast("long").as("nsxy_u"),
            ((col("n") * col("sxx") - col("sx") * col("sx")) *
              lit(10000)).cast("long").as("nsxx_u"))
          .withColumn("slope_ppm",
            floor(col("nsxy_u").cast("double") * lit(1000000.0) /
              col("nsxx_u").cast("double")).cast("long"))
          .orderBy(col("p_brand"))
      },
      Some("""WITH g AS (SELECT p_brand, count(*) AS n,
             |    sum(CAST(l_discount AS DECIMAL(4,2)) *
             |        CAST(l_quantity AS DECIMAL(12,2))) AS sxy,
             |    sum(CAST(l_discount AS DECIMAL(4,2))) AS sx,
             |    sum(CAST(l_quantity AS DECIMAL(12,2))) AS sy,
             |    sum(CAST(l_discount AS DECIMAL(4,2)) *
             |        CAST(l_discount AS DECIMAL(4,2))) AS sxx
             |  FROM lineitem JOIN part ON p_partkey = l_partkey
             |  GROUP BY 1),
             |u AS (SELECT p_brand, n,
             |    ((n * sxy - sx * sy) * 10000)::BIGINT AS nsxy_u,
             |    ((n * sxx - sx * sx) * 10000)::BIGINT AS nsxx_u
             |  FROM g)
             |SELECT p_brand, n, nsxy_u, nsxx_u,
             |  floor(nsxy_u::DOUBLE * 1000000.0 / nsxx_u::DOUBLE)::BIGINT
             |    AS slope_ppm
             |FROM u ORDER BY p_brand""".stripMargin)),

    // Record survivorship (MDM golden record): per user, the most
    // recent value of each sparse attribute stream — last click /
    // purchase / signup value with its timestamp — merged into one
    // row. The rank runs per (user, attribute) in a single window
    // pass, then a conditional-aggregation pivot; users missing an
    // attribute surface NULLs, exactly the semantics a survivorship
    // merge must preserve (absence ≠ zero).
    QueryDef("q_record_survivorship",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("ts").desc, col("event_id").desc)
        graft.sources.Tables.events(s, d)
          .filter(col("event_type").isin("click", "purchase", "signup"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .groupBy(col("user_id"))
          .agg(
            max(when(col("event_type") === "click", col("value")))
              .as("click_value"),
            max(when(col("event_type") === "click", col("ts")))
              .as("click_ts"),
            max(when(col("event_type") === "purchase", col("value")))
              .as("purchase_value"),
            max(when(col("event_type") === "purchase", col("ts")))
              .as("purchase_ts"),
            max(when(col("event_type") === "signup", col("value")))
              .as("signup_value"),
            max(when(col("event_type") === "signup", col("ts")))
              .as("signup_ts"))
          .orderBy(col("user_id"))
      },
      Some("""WITH r AS (SELECT user_id, event_type, value, ts,
             |    row_number() OVER (PARTITION BY user_id, event_type
             |      ORDER BY ts DESC, event_id DESC) AS rn
             |  FROM events
             |  WHERE event_type IN ('click', 'purchase', 'signup'))
             |SELECT user_id,
             |  max(CASE WHEN event_type = 'click' THEN value END)
             |    AS click_value,
             |  max(CASE WHEN event_type = 'click' THEN ts END)
             |    AS click_ts,
             |  max(CASE WHEN event_type = 'purchase' THEN value END)
             |    AS purchase_value,
             |  max(CASE WHEN event_type = 'purchase' THEN ts END)
             |    AS purchase_ts,
             |  max(CASE WHEN event_type = 'signup' THEN value END)
             |    AS signup_value,
             |  max(CASE WHEN event_type = 'signup' THEN ts END)
             |    AS signup_ts
             |FROM r WHERE rn = 1 GROUP BY 1 ORDER BY user_id""".stripMargin)),

    // Single-changepoint detection per event-type series: for every
    // candidate split day t, score the mean shift between the two
    // halves as |RS·Ln − LS·Rn| (the cross-multiplied form of
    // |mean_L − mean_R| — no division, so the argmax is exact integer
    // arithmetic end to end). One daily rollup, then two window
    // passes inside the per-type partition; ties break to the
    // earliest day. This is binary segmentation's inner step, the
    // building block of level-shift monitors.
    QueryDef("q_changepoint_detect",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(col("event_type"),
            datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
              .as("day"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).as("sv"))
        val wCum = Window.partitionBy(col("event_type")).orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.partitionBy(col("event_type"))
        val scored = daily
          .withColumn("ln", sum(col("n")).over(wCum))
          .withColumn("ls", sum(col("sv")).over(wCum))
          .withColumn("tn", sum(col("n")).over(wAll))
          .withColumn("ts_", sum(col("sv")).over(wAll))
          .withColumn("rn_", col("tn") - col("ln"))
          .withColumn("rs", col("ts_") - col("ls"))
          .filter(col("rn_") > 0)
          .withColumn("score_u",
            abs(col("rs") * col("ln") - col("ls") * col("rn_"))
              .multiply(lit(100)).cast("long"))
        scored
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("event_type"))
              .orderBy(col("score_u").desc, col("day"))))
          .filter(col("rk") === 1)
          .select(col("event_type"), col("day").as("split_day"),
            col("score_u"), col("ln").as("n_left"),
            col("rn_").as("n_right"))
          .orderBy(col("event_type"))
      },
      Some("""WITH daily AS (SELECT event_type,
             |    datediff('day', DATE '2024-01-01', ts::DATE) AS day,
             |    count(*) AS n,
             |    sum(CAST(value AS DECIMAL(18,2))) AS sv
             |  FROM events GROUP BY 1, 2),
             |c AS (SELECT event_type, day,
             |    sum(n) OVER (PARTITION BY event_type ORDER BY day) AS ln,
             |    sum(sv) OVER (PARTITION BY event_type ORDER BY day) AS ls,
             |    sum(n) OVER (PARTITION BY event_type) AS tn,
             |    sum(sv) OVER (PARTITION BY event_type) AS ts_
             |  FROM daily),
             |sc AS (SELECT event_type, day, ln, tn - ln AS rn_,
             |    (abs((ts_ - ls) * ln - ls * (tn - ln)) * 100)::BIGINT
             |      AS score_u
             |  FROM c WHERE tn - ln > 0),
             |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
             |    ORDER BY score_u DESC, day) AS rk FROM sc)
             |SELECT event_type, day AS split_day, score_u,
             |  ln::BIGINT AS n_left, rn_::BIGINT AS n_right
             |FROM r WHERE rk = 1 ORDER BY event_type""".stripMargin)),

    // Kaplan-Meier counting process for time-to-conversion: the
    // "event" is a user's first high-value purchase (value ≥ 90),
    // measured in days since their first activity; users who never
    // convert are right-censored at the observation horizon. The
    // output is the survival table — at each event time t: number at
    // risk, events, censorings — the exact-integer core of the KM
    // estimator (the product-limit curve is a float post-process the
    // warehouse leaves to the notebook). The reverse-cumulative
    // at-risk count runs on the ≤31-row lifetime digest, so the
    // unpartitioned window is catalog-sized by construction.
    QueryDef("q_survival_at_risk",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
        val perUser = ev.groupBy(col("user_id"))
          .agg(min(to_date(col("ts"))).as("first_d"))
        val conv = ev.filter(col("event_type") === "purchase" &&
            col("value") >= 90)
          .groupBy(col("user_id").as("cu"))
          .agg(min(to_date(col("ts"))).as("conv_d"))
        val horizon = ev.agg(max(to_date(col("ts"))).as("max_d"))
        val lived = perUser
          .join(conv, col("user_id") === col("cu"), "left")
          .crossJoin(broadcast(horizon))
          .withColumn("dead", col("conv_d").isNotNull.cast("long"))
          .withColumn("lifetime",
            datediff(coalesce(col("conv_d"), col("max_d")),
              col("first_d")))
        val byT = lived.groupBy(col("lifetime"))
          .agg(sum(col("dead")).as("n_deaths"),
            sum(lit(1L) - col("dead")).as("n_censored"))
        byT.withColumn("n_risk",
            sum(col("n_deaths") + col("n_censored")).over(
              Window.orderBy(col("lifetime").desc)
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .filter(col("n_deaths") > 0)
          .select(col("lifetime").as("t_days"), col("n_risk"),
            col("n_deaths"), col("n_censored"))
          .orderBy(col("t_days"))
      },
      Some("""WITH pu AS (SELECT user_id, min(ts::DATE) AS first_d
             |  FROM events GROUP BY 1),
             |conv AS (SELECT user_id, min(ts::DATE) AS conv_d FROM events
             |  WHERE event_type = 'purchase' AND value >= 90 GROUP BY 1),
             |h AS (SELECT max(ts::DATE) AS max_d FROM events),
             |lived AS (SELECT
             |    CASE WHEN conv_d IS NOT NULL THEN 1 ELSE 0 END AS dead,
             |    datediff('day', first_d, coalesce(conv_d, max_d))
             |      AS lifetime
             |  FROM pu LEFT JOIN conv USING (user_id), h),
             |byt AS (SELECT lifetime, sum(dead)::BIGINT AS n_deaths,
             |    sum(1 - dead)::BIGINT AS n_censored
             |  FROM lived GROUP BY 1),
             |r AS (SELECT lifetime, n_deaths, n_censored,
             |    sum(n_deaths + n_censored) OVER (ORDER BY lifetime DESC)
             |      ::BIGINT AS n_risk
             |  FROM byt)
             |SELECT lifetime AS t_days, n_risk, n_deaths, n_censored
             |FROM r WHERE n_deaths > 0 ORDER BY t_days""".stripMargin)),

    // Difference-in-differences readout: treated = users who onboarded
    // by Jan 10, period split at Jan 15; the effect estimate is
    // (T_post − T_pre) − (C_post − C_pre) on mean purchase value.
    // Cell means quantize to milli-units via one floored
    // IEEE-deterministic double division of exact cent sums, then the
    // DiD itself is pure integer subtraction — the causal-inference
    // twin of the CUPED query. Single pass after a broadcast-joined
    // per-user cohort dim.
    QueryDef("q_did_promo",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
        val cohort = ev.groupBy(col("user_id").as("cu"))
          .agg(min(to_date(col("ts"))).as("first_d"))
          .select(col("cu"),
            (col("first_d") <= lit("2024-01-10").cast("date"))
              .cast("int").as("treated"))
        val cells = ev.filter(col("event_type") === "purchase")
          .join(broadcast(cohort), col("user_id") === col("cu"))
          .withColumn("post",
            (to_date(col("ts")) >= lit("2024-01-15").cast("date"))
              .cast("int"))
          .groupBy(col("treated"), col("post"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).as("sv"))
          .withColumn("mean_milli",
            floor(col("sv").cast("double") * lit(1000.0) /
              col("n").cast("double")).cast("long"))
        cells.agg(
            sum(when(col("treated") === 1 && col("post") === 1,
              col("mean_milli"))).as("t_post_milli"),
            sum(when(col("treated") === 1 && col("post") === 0,
              col("mean_milli"))).as("t_pre_milli"),
            sum(when(col("treated") === 0 && col("post") === 1,
              col("mean_milli"))).as("c_post_milli"),
            sum(when(col("treated") === 0 && col("post") === 0,
              col("mean_milli"))).as("c_pre_milli"),
            sum(col("n")).as("n_purchases"))
          .withColumn("did_milli",
            col("t_post_milli") - col("t_pre_milli") -
              (col("c_post_milli") - col("c_pre_milli")))
      },
      Some("""WITH cohort AS (SELECT user_id,
             |    CASE WHEN min(ts::DATE) <= DATE '2024-01-10'
             |      THEN 1 ELSE 0 END AS treated
             |  FROM events GROUP BY 1),
             |cells AS (SELECT treated,
             |    CASE WHEN e.ts::DATE >= DATE '2024-01-15'
             |      THEN 1 ELSE 0 END AS post,
             |    count(*) AS n,
             |    sum(CAST(e.value AS DECIMAL(18,2))) AS sv
             |  FROM events e JOIN cohort USING (user_id)
             |  WHERE e.event_type = 'purchase' GROUP BY 1, 2),
             |m AS (SELECT treated, post, n,
             |    floor(sv::DOUBLE * 1000.0 / n::DOUBLE)::BIGINT AS mean_milli
             |  FROM cells)
             |SELECT
             |  sum(CASE WHEN treated = 1 AND post = 1 THEN mean_milli END)
             |    ::BIGINT AS t_post_milli,
             |  sum(CASE WHEN treated = 1 AND post = 0 THEN mean_milli END)
             |    ::BIGINT AS t_pre_milli,
             |  sum(CASE WHEN treated = 0 AND post = 1 THEN mean_milli END)
             |    ::BIGINT AS c_post_milli,
             |  sum(CASE WHEN treated = 0 AND post = 0 THEN mean_milli END)
             |    ::BIGINT AS c_pre_milli,
             |  sum(n)::BIGINT AS n_purchases,
             |  (sum(CASE WHEN treated = 1 AND post = 1 THEN mean_milli END)
             |   - sum(CASE WHEN treated = 1 AND post = 0 THEN mean_milli END)
             |   - (sum(CASE WHEN treated = 0 AND post = 1 THEN mean_milli END)
             |      - sum(CASE WHEN treated = 0 AND post = 0 THEN mean_milli END)))
             |    ::BIGINT AS did_milli
             |FROM m""".stripMargin)),

    // Duplicate-invoice audit: same customer, order totals within 1%
    // of each other, placed ≤3 days apart — the classic double-payment
    // screen. The self-join shuffles on custkey only (per-customer
    // groups are naturally small), and the 1% band is the
    // cross-multiplied decimal test |p1−p2|·100 ≤ min(p1,p2): no
    // division, no float boundary. Top pairs surface by tightest
    // price gap.
    QueryDef("q_dup_invoices",
      (s, d) => {
        val o = graft.sources.Tables.load(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            col("o_totalprice").cast("decimal(12,2)").as("p"),
            to_date(col("o_orderdate")).as("od"))
        val a = o.select(col("o_custkey").as("ck"),
          col("o_orderkey").as("ok1"), col("p").as("p1"),
          col("od").as("d1"))
        val b = o.select(col("o_custkey").as("ck2"),
          col("o_orderkey").as("ok2"), col("p").as("p2"),
          col("od").as("d2"))
        a.join(b, col("ck") === col("ck2") && col("ok1") < col("ok2") &&
            abs(datediff(col("d1"), col("d2"))) <= 3 &&
            abs(col("p1") - col("p2")) * lit(100) <=
              least(col("p1"), col("p2")))
          .select(col("ck").as("custkey"), col("ok1"), col("ok2"),
            (abs(col("p1") - col("p2")) * lit(100)).cast("long")
              .as("price_diff_cents"),
            abs(datediff(col("d1"), col("d2"))).as("day_gap"))
          .orderBy(col("price_diff_cents"), col("custkey"), col("ok1"),
            col("ok2"))
          .limit(30)
      },
      Some("""SELECT a.o_custkey AS custkey,
             |  a.o_orderkey AS ok1, b.o_orderkey AS ok2,
             |  (abs(CAST(a.o_totalprice AS DECIMAL(12,2))
             |       - CAST(b.o_totalprice AS DECIMAL(12,2))) * 100)::BIGINT
             |    AS price_diff_cents,
             |  abs(datediff('day', b.o_orderdate::DATE,
             |    a.o_orderdate::DATE))::INT AS day_gap
             |FROM orders a JOIN orders b
             |  ON a.o_custkey = b.o_custkey
             |  AND a.o_orderkey < b.o_orderkey
             |  AND abs(datediff('day', b.o_orderdate::DATE,
             |    a.o_orderdate::DATE)) <= 3
             |  AND abs(CAST(a.o_totalprice AS DECIMAL(12,2))
             |      - CAST(b.o_totalprice AS DECIMAL(12,2))) * 100
             |    <= least(CAST(a.o_totalprice AS DECIMAL(12,2)),
             |             CAST(b.o_totalprice AS DECIMAL(12,2)))
             |ORDER BY price_diff_cents, custkey, ok1, ok2
             |LIMIT 30""".stripMargin)),

    // Theil-Sen robust trend per event-type: the median of all
    // pairwise slopes between daily means — outlier days can't drag
    // it the way OLS lets them. The pair join runs on the ~30-row
    // daily digest per type (O(days²) on a catalog-sized input, never
    // on raw events); daily means and slopes are IEEE-deterministic
    // doubles derived from exact cent sums, and the median is picked
    // by rank (lower median, ties broken by day pair) — selection,
    // not averaging, so both engines pick the bit-identical element.
    QueryDef("q_theil_sen_daily",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(col("event_type"),
            datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
              .as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")) * lit(100))
              .cast("long").as("su"),
            count(lit(1)).as("n"))
          .withColumn("m", col("su").cast("double") /
            (col("n") * lit(100)).cast("double"))
        val x = daily.select(col("event_type").as("et1"),
          col("day").as("i"), col("m").as("mi"))
        val y = daily.select(col("event_type").as("et2"),
          col("day").as("j"), col("m").as("mj"))
        val pairs = x.join(y,
            col("et1") === col("et2") && col("i") < col("j"))
          .withColumn("slope", (col("mj") - col("mi")) /
            (col("j") - col("i")).cast("double"))
        val ranked = pairs
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("et1"))
              .orderBy(col("slope"), col("i"), col("j"))))
          .withColumn("cnt", count(lit(1)).over(
            Window.partitionBy(col("et1"))))
        ranked.filter(col("rk") === (col("cnt") + 1).divide(2)
            .cast("long"))
          .select(col("et1").as("event_type"),
            col("cnt").as("n_pairs"),
            floor(col("slope") * lit(1000000.0)).cast("long")
              .as("ts_slope_ppm"))
          .orderBy(col("event_type"))
      },
      Some("""WITH daily AS (SELECT event_type,
             |    datediff('day', DATE '2024-01-01', ts::DATE) AS day,
             |    (sum(CAST(value AS DECIMAL(18,2))) * 100)::BIGINT AS su,
             |    count(*) AS n
             |  FROM events GROUP BY 1, 2),
             |dm AS (SELECT event_type, day,
             |    su::DOUBLE / (n * 100)::DOUBLE AS m FROM daily),
             |pairs AS (SELECT a.event_type, a.day AS i, b.day AS j,
             |    (b.m - a.m) / (b.day - a.day)::DOUBLE AS slope
             |  FROM dm a JOIN dm b
             |    ON a.event_type = b.event_type AND a.day < b.day),
             |r AS (SELECT event_type, slope,
             |    row_number() OVER (PARTITION BY event_type
             |      ORDER BY slope, i, j) AS rk,
             |    count(*) OVER (PARTITION BY event_type) AS cnt
             |  FROM pairs)
             |SELECT event_type, cnt AS n_pairs,
             |  floor(slope * 1000000.0)::BIGINT AS ts_slope_ppm
             |FROM r WHERE rk = (cnt + 1) // 2
             |ORDER BY event_type""".stripMargin)),

    // Holt double exponential smoothing (α=0.2, β=0.3) over each
    // event-type's daily-revenue series, plus the 3-step-ahead
    // forecast. The recurrence lives in milli-unit integers with a
    // sign-safe floor division (x − pmod(x,10)) div 10, so the fold
    // is bit-identical to the oracle's recursive CTE. Spark-side the
    // whole recursion is ONE `aggregate()` higher-order function over
    // the per-type day array — stays inside codegen, no iterative
    // jobs, and the only shuffle is the daily rollup; the array is
    // days-sized (~30), never data-sized.
    QueryDef("q_holt_linear", {
      def fldivS(e: String) = s"(($e - pmod($e, 10)) div 10)"
      val xS = "(2 * y + 8 * (acc.l + acc.b))"
      val newlS = fldivS(xS)
      val yS = s"(3 * ($newlS - acc.l) + 7 * acc.b)"
      val newbS = fldivS(yS)
      (s, d) => {
        graft.sources.Tables.events(s, d)
          .groupBy(col("event_type"),
            to_date(col("ts")).as("day"))
          .agg((sum(col("value").cast("decimal(18,2)")) * lit(1000))
            .cast("long").as("ym"))
          .groupBy(col("event_type"))
          .agg(sort_array(collect_list(struct(col("day"), col("ym"))))
            .as("sd"))
          .withColumn("ys", expr("transform(sd, x -> x.ym)"))
          .withColumn("st", expr(
            "aggregate(slice(ys, 2, size(ys) - 1), " +
              "named_struct('l', element_at(ys, 1), " +
              "'b', element_at(ys, 2) - element_at(ys, 1)), " +
              s"(acc, y) -> named_struct('l', $newlS, 'b', $newbS))"))
          .select(col("event_type"), size(col("ys")).as("n_days"),
            col("st.l").as("level_milli"), col("st.b").as("trend_milli"),
            (col("st.l") + lit(3) * col("st.b")).as("forecast3_milli"))
          .orderBy(col("event_type"))
      }
    }, {
      def fldiv(e: String) = s"(($e - (($e % 10 + 10) % 10)) // 10)"
      val x = "(2 * y.ym + 8 * (it.l + it.b))"
      val newl = fldiv(x)
      val yy = s"(3 * ($newl - it.l) + 7 * it.b)"
      val newb = fldiv(yy)
      Some(s"""WITH RECURSIVE daily AS (SELECT event_type, ts::DATE AS day,
             |    (sum(CAST(value AS DECIMAL(18,2))) * 1000)::BIGINT AS ym
             |  FROM events GROUP BY 1, 2),
             |r AS (SELECT event_type, ym, row_number() OVER (
             |    PARTITION BY event_type ORDER BY day) AS rn FROM daily),
             |n AS (SELECT event_type, max(rn) AS nd FROM r GROUP BY 1),
             |it AS (
             |  SELECT r1.event_type, 2 AS k, r1.ym AS l,
             |      r2.ym - r1.ym AS b
             |    FROM r r1 JOIN r r2 ON r1.event_type = r2.event_type
             |      AND r1.rn = 1 AND r2.rn = 2
             |  UNION ALL
             |  SELECT it.event_type, it.k + 1,
             |      $newl,
             |      $newb
             |    FROM it
             |    JOIN r y ON y.event_type = it.event_type AND y.rn = it.k
             |    JOIN n ON n.event_type = it.event_type
             |    WHERE it.k <= n.nd)
             |SELECT it.event_type, n.nd AS n_days,
             |  it.l AS level_milli, it.b AS trend_milli,
             |  (it.l + 3 * it.b)::BIGINT AS forecast3_milli
             |FROM it JOIN n ON n.event_type = it.event_type
             |WHERE it.k = n.nd + 1
             |ORDER BY it.event_type""".stripMargin)
    }),

    // View→purchase conversion latency: for every purchase, the time
    // since that user's most recent prior view, carried by a
    // running-max window over the interleaved event stream (the
    // "last qualifying event" pattern — no as-of self-join, one
    // shuffle on user_id). Latencies land in 30-minute buckets
    // (capped at 12 = "6h+"); all arithmetic is exact microseconds.
    QueryDef("q_view_purchase_latency",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        graft.sources.Tables.events(s, d)
          .filter(col("event_type").isin("view", "purchase"))
          .withColumn("lv",
            max(when(col("event_type") === "view", unix_micros(col("ts"))))
              .over(w))
          .filter(col("event_type") === "purchase" && col("lv").isNotNull)
          .withColumn("bucket",
            least(expr("((unix_micros(ts) - lv) div 60000000) div 30"),
              lit(12L)))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_purchases"),
            sum(unix_micros(col("ts")) - col("lv")).as("sum_latency_us"))
          .orderBy(col("bucket"))
      },
      Some("""WITH f AS (SELECT user_id, event_id, event_type, ts,
             |    epoch_us(ts) AS us FROM events
             |  WHERE event_type IN ('view', 'purchase')),
             |l AS (SELECT event_type, us,
             |    max(CASE WHEN event_type = 'view' THEN us END) OVER (
             |      PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lv
             |  FROM f)
             |SELECT least((us - lv) // 60000000 // 30, 12) AS bucket,
             |  count(*) AS n_purchases,
             |  sum(us - lv)::BIGINT AS sum_latency_us
             |FROM l WHERE event_type = 'purchase' AND lv IS NOT NULL
             |GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // Strictly-ordered 3-step funnel (signup → view → purchase) with
    // a 24h clock between consecutive steps — each stage is "first
    // qualifying event after the previous stage's timestamp", so a
    // view BEFORE the signup doesn't count. Three per-user min-
    // aggregations chained by broadcast-sized digests (the user dim
    // is tiny next to events); drop-off rates quantize to ppm via the
    // floored IEEE double division.
    QueryDef("q_funnel_ordered",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
        val dayUs = 86400000000L
        val s1 = ev.filter(col("event_type") === "signup")
          .groupBy(col("user_id"))
          .agg(min(unix_micros(col("ts"))).as("s1_us"))
        val s2 = ev.filter(col("event_type") === "view")
          .select(col("user_id").as("u2"), unix_micros(col("ts")).as("v_us"))
          .join(s1, col("u2") === col("user_id"))
          .filter(col("v_us") > col("s1_us") &&
            col("v_us") <= col("s1_us") + dayUs)
          .groupBy(col("u2")).agg(min(col("v_us")).as("s2_us"))
        val s3 = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("u3"), unix_micros(col("ts")).as("p_us"))
          .join(s2, col("u3") === col("u2"))
          .filter(col("p_us") > col("s2_us") &&
            col("p_us") <= col("s2_us") + dayUs)
          .groupBy(col("u3")).agg(min(col("p_us")).as("s3_us"))
        s1.join(s2, col("user_id") === col("u2"), "left")
          .join(s3, col("user_id") === col("u3"), "left")
          .agg(count(lit(1)).as("n_signup"),
            count(col("s2_us")).as("n_viewed_24h"),
            count(col("s3_us")).as("n_purchased_24h"))
          .withColumn("view_rate_ppm",
            floor(col("n_viewed_24h").cast("double") * lit(1000000.0) /
              col("n_signup").cast("double")).cast("long"))
          .withColumn("purchase_rate_ppm",
            floor(col("n_purchased_24h").cast("double") * lit(1000000.0) /
              greatest(col("n_viewed_24h"), lit(1L)).cast("double"))
              .cast("long"))
      },
      Some("""WITH s1 AS (SELECT user_id, min(epoch_us(ts)) AS s1_us
             |  FROM events WHERE event_type = 'signup' GROUP BY 1),
             |s2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS s2_us
             |  FROM events e JOIN s1 ON s1.user_id = e.user_id
             |  WHERE e.event_type = 'view'
             |    AND epoch_us(e.ts) > s1.s1_us
             |    AND epoch_us(e.ts) <= s1.s1_us + 86400000000
             |  GROUP BY 1),
             |s3 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS s3_us
             |  FROM events e JOIN s2 ON s2.user_id = e.user_id
             |  WHERE e.event_type = 'purchase'
             |    AND epoch_us(e.ts) > s2.s2_us
             |    AND epoch_us(e.ts) <= s2.s2_us + 86400000000
             |  GROUP BY 1)
             |SELECT count(*) AS n_signup,
             |  count(s2_us) AS n_viewed_24h,
             |  count(s3_us) AS n_purchased_24h,
             |  floor(count(s2_us)::DOUBLE * 1000000.0
             |    / count(*)::DOUBLE)::BIGINT AS view_rate_ppm,
             |  floor(count(s3_us)::DOUBLE * 1000000.0
             |    / greatest(count(s2_us), 1)::DOUBLE)::BIGINT
             |    AS purchase_rate_ppm
             |FROM s1 LEFT JOIN s2 USING (user_id)
             |  LEFT JOIN s3 USING (user_id)""".stripMargin)),

    // Candidate-key uniqueness audit: for each proposed key of
    // lineitem, how many duplicate key-groups exist and how deep the
    // worst one goes — the pre-flight check before declaring a
    // primary key or bucketing/sort column set. (In this synthetic
    // schema (l_orderkey, l_linenumber) is famously NOT unique.) One
    // grouped pass per candidate (no multi-distinct expand), unioned
    // into a catalog-sized report.
    QueryDef("q_key_uniqueness",
      (s, d) => {
        val li = graft.sources.Tables.load(s, d, "lineitem")
        def audit(keyName: String, keys: Seq[String]) =
          li.groupBy(keys.map(col): _*).agg(count(lit(1)).as("m"))
            .agg(count(lit(1)).as("n_groups"),
              sum(col("m")).as("n_rows"),
              sum(when(col("m") > 1, 1L).otherwise(0L)).as("n_dup_groups"),
              max(col("m")).as("max_multiplicity"))
            .select(lit(keyName).as("candidate_key"), col("n_groups"),
              col("n_rows"), col("n_dup_groups"), col("max_multiplicity"))
        audit("l_orderkey", Seq("l_orderkey"))
          .unionAll(audit("l_orderkey+l_linenumber",
            Seq("l_orderkey", "l_linenumber")))
          .unionAll(audit("l_orderkey+l_linenumber+l_partkey+l_suppkey",
            Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")))
          .orderBy(col("candidate_key"))
      },
      Some("""WITH k1 AS (SELECT count(*) AS m FROM lineitem
             |  GROUP BY l_orderkey),
             |k2 AS (SELECT count(*) AS m FROM lineitem
             |  GROUP BY l_orderkey, l_linenumber),
             |k3 AS (SELECT count(*) AS m FROM lineitem
             |  GROUP BY l_orderkey, l_linenumber, l_partkey, l_suppkey),
             |u AS (
             |  SELECT 'l_orderkey' AS candidate_key, count(*) AS n_groups,
             |    sum(m)::BIGINT AS n_rows,
             |    sum(CASE WHEN m > 1 THEN 1 ELSE 0 END)::BIGINT
             |      AS n_dup_groups,
             |    max(m)::BIGINT AS max_multiplicity FROM k1
             |  UNION ALL
             |  SELECT 'l_orderkey+l_linenumber', count(*), sum(m)::BIGINT,
             |    sum(CASE WHEN m > 1 THEN 1 ELSE 0 END)::BIGINT,
             |    max(m)::BIGINT FROM k2
             |  UNION ALL
             |  SELECT 'l_orderkey+l_linenumber+l_partkey+l_suppkey',
             |    count(*), sum(m)::BIGINT,
             |    sum(CASE WHEN m > 1 THEN 1 ELSE 0 END)::BIGINT,
             |    max(m)::BIGINT FROM k3)
             |SELECT * FROM u ORDER BY candidate_key""".stripMargin)),

    // Referential-integrity sweep: orphaned facts and childless /
    // inactive dimension rows across the star schema's three FK
    // edges, as one catalog-sized report. Each check is an anti-join
    // with the dim side reduced to its bare key before the shuffle —
    // at 100 TB the probe payload is 8 bytes/row, and the three
    // checks share no state so AQE runs them as independent stages.
    QueryDef("q_orphan_check",
      (s, d) => {
        val li = graft.sources.Tables.load(s, d, "lineitem").select("l_orderkey")
        val o = graft.sources.Tables.load(s, d, "orders")
          .select("o_orderkey", "o_custkey")
        val c = graft.sources.Tables.load(s, d, "customer").select("c_custkey")
        def check(name: String, probe: org.apache.spark.sql.DataFrame,
            build: org.apache.spark.sql.DataFrame,
            cond: org.apache.spark.sql.Column) =
          probe.join(build, cond, "left_anti")
            .agg(count(lit(1)).as("n_violations"))
            .crossJoin(probe.agg(count(lit(1)).as("n_total")))
            .select(lit(name).as("check_name"), col("n_violations"),
              col("n_total"))
        check("lineitem_without_order", li, o,
            col("l_orderkey") === col("o_orderkey"))
          .unionAll(check("order_without_customer", o, c,
            col("o_custkey") === col("c_custkey")))
          .unionAll(check("order_without_lineitem", o, li,
            col("o_orderkey") === col("l_orderkey")))
          .unionAll(check("customer_without_order", c, o,
            col("c_custkey") === col("o_custkey")))
          .orderBy(col("check_name"))
      },
      Some("""SELECT 'lineitem_without_order' AS check_name,
             |  (SELECT count(*) FROM lineitem WHERE NOT EXISTS
             |    (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey))
             |    AS n_violations,
             |  (SELECT count(*) FROM lineitem) AS n_total
             |UNION ALL
             |SELECT 'order_without_customer',
             |  (SELECT count(*) FROM orders WHERE NOT EXISTS
             |    (SELECT 1 FROM customer WHERE c_custkey = o_custkey)),
             |  (SELECT count(*) FROM orders)
             |UNION ALL
             |SELECT 'order_without_lineitem',
             |  (SELECT count(*) FROM orders WHERE NOT EXISTS
             |    (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)),
             |  (SELECT count(*) FROM orders)
             |UNION ALL
             |SELECT 'customer_without_order',
             |  (SELECT count(*) FROM customer WHERE NOT EXISTS
             |    (SELECT 1 FROM orders WHERE o_custkey = c_custkey)),
             |  (SELECT count(*) FROM customer)
             |ORDER BY check_name""".stripMargin)),

    // Inter-purchase cadence profile: each user's LOWER-MEDIAN gap
    // between consecutive purchases (selection by rank inside the
    // per-user partition — no averaging, no floats), bucketed into
    // hours (capped at 48 = "2d+"). Every window is partitioned by
    // user_id, so the plan holds at any user count; the only global
    // aggregation is the final catalog-sized histogram.
    QueryDef("q_interpurchase_gaps",
      (s, d) => {
        val wSeq = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val gaps = graft.sources.Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(wSeq))
          .filter(col("prev_us").isNotNull)
          .withColumn("gap_us", unix_micros(col("ts")) - col("prev_us"))
        val wRank = Window.partitionBy(col("user_id"))
          .orderBy(col("gap_us"), col("ts"), col("event_id"))
        val med = gaps
          .withColumn("rk", row_number().over(wRank))
          .withColumn("cnt", count(lit(1)).over(
            Window.partitionBy(col("user_id"))))
          .filter(col("rk") === (col("cnt") + 1).divide(2).cast("long"))
        med.withColumn("bucket",
            least(expr("gap_us div 3600000000"), lit(48L)))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_users"),
            sum(col("gap_us")).as("sum_median_gap_us"))
          .orderBy(col("bucket"))
      },
      Some("""WITH p AS (SELECT user_id, event_id, ts, epoch_us(ts) AS us
             |  FROM events WHERE event_type = 'purchase'),
             |g AS (SELECT user_id, event_id, ts,
             |    us - lag(us) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS gap_us
             |  FROM p),
             |f AS (SELECT user_id, event_id, ts, gap_us FROM g
             |  WHERE gap_us IS NOT NULL),
             |r AS (SELECT gap_us,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY gap_us, ts, event_id) AS rk,
             |    count(*) OVER (PARTITION BY user_id) AS cnt
             |  FROM f)
             |SELECT least(gap_us // 3600000000, 48) AS bucket,
             |  count(*) AS n_users,
             |  sum(gap_us)::BIGINT AS sum_median_gap_us
             |FROM r WHERE rk = (cnt + 1) // 2
             |GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // Stationary distribution of the event-type Markov chain: row-
    // normalize the observed transition matrix to ppm, then run 8
    // power-iteration steps from the uniform vector — where does a
    // user's behavior settle? All mass arithmetic is integer ppm
    // (div AFTER the dot-product sum, so truncation enters once per
    // step, identically on both engines). The matrix is |types|² =
    // catalog-sized; the only data-scale work is the lag pass that
    // counts transitions, partitioned by user. The oracle unrolls the
    // same 8 steps as generated CTEs (recursive terms can't
    // aggregate), built by the same Scala loop.
    QueryDef("q_markov_stationary", {
      (s, d) => {
        val wSeq = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val trans = graft.sources.Tables.events(s, d)
          .withColumn("prev", lag(col("event_type"), 1).over(wSeq))
          .filter(col("prev").isNotNull)
          .groupBy(col("prev").as("i"), col("event_type").as("j"))
          .agg(count(lit(1)).as("c"))
        val rowTot = trans.groupBy(col("i").as("ri"))
          .agg(sum(col("c")).as("rc"))
        // the ppm matrix is |types|² = catalog-sized at ANY corpus
        // scale, so like the attribution/Bradley-Terry/IPF fits it is
        // collected and the 8 power steps run exactly on the driver —
        // an 8-deep lazy DataFrame chain would re-plan (and partially
        // re-execute) the facts-scale lag pass at every step
        val p = trans.join(rowTot, col("i") === col("ri"))
          .select(col("i"), col("j"),
            floor(col("c").cast("double") * lit(1000000.0) /
              col("rc").cast("double")).cast("long").as("p_ppm"))
          .collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        val states = p.map(_._1).distinct.sorted
        var v: Map[String, Long] = states.map(_ -> 200000L).toMap
        for (_ <- 1 to 8) {
          val nv = scala.collection.mutable.Map.empty[String, Long]
          // exact inner-join semantics: a transition row contributes
          // (and creates its target key) only when its source is live
          p.foreach { case (i, j, ppm) =>
            v.get(i).foreach(vi => nv(j) = nv.getOrElse(j, 0L) + vi * ppm)
          }
          v = nv.view.mapValues(_ / 1000000L).toMap
        }
        val spark2 = s
        import spark2.implicits._
        v.toSeq.sortBy(_._1).toDF("state", "v")
      }
    }, {
      val steps = (1 to 8).map { k =>
        s"v$k AS (SELECT p.j AS state, sum(v.v * p.p_ppm) // 1000000 AS v\n" +
          s"  FROM v${k - 1} v JOIN p ON v.state = p.i GROUP BY 1)"
      }.mkString(",\n")
      Some(s"""WITH tr AS (SELECT user_id, event_id, ts, event_type,
             |    lag(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS prev
             |  FROM events),
             |t AS (SELECT prev AS i, event_type AS j, count(*) AS c
             |  FROM tr WHERE prev IS NOT NULL GROUP BY 1, 2),
             |rt AS (SELECT i AS ri, sum(c) AS rc FROM t GROUP BY 1),
             |p AS (SELECT i, j,
             |    floor(c::DOUBLE * 1000000.0 / rc::DOUBLE)::BIGINT AS p_ppm
             |  FROM t JOIN rt ON i = ri),
             |v0 AS (SELECT DISTINCT i AS state, 200000::BIGINT AS v FROM p),
             |$steps
             |SELECT state, v::BIGINT AS v FROM v8 ORDER BY state""".stripMargin)
    }),

    // Exponential time-decay LTV: each purchase contributes
    // value·0.9^(days before horizon) — the retention-aware customer
    // score. The decay curve is NOT a float pow(): it's the integer
    // recurrence dp(d) = dp(d−1)·9 div 10 in ppm, folded Spark-side
    // by an `aggregate()` HOF over the day gap and oracle-side by a
    // 31-row recursive-CTE dim — bit-identical everywhere, immune to
    // libm differences. One broadcast of the horizon digest, one
    // shuffle on user_id.
    QueryDef("q_decay_ltv",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
        val horizon = ev.agg(max(to_date(col("ts"))).as("max_d"))
        ev.filter(col("event_type") === "purchase")
          .crossJoin(broadcast(horizon))
          .withColumn("dd", datediff(col("max_d"), to_date(col("ts"))))
          .withColumn("decay_ppm",
            when(col("dd") === 0, lit(1000000L)).otherwise(expr(
              "aggregate(sequence(1, greatest(dd, 1)), 1000000L, " +
                "(acc, i) -> acc * 9 div 10)")))
          .withColumn("vc", (col("value").cast("decimal(18,2)") * 100)
            .cast("long"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_purchases"),
            sum(col("vc")).as("raw_cents"),
            expr("sum(vc * decay_ppm) div 1000000").as("decayed_cents"))
          .orderBy(col("decayed_cents").desc, col("user_id")).limit(20)
      },
      Some("""WITH RECURSIVE dk AS (
             |  SELECT 0 AS d, 1000000::BIGINT AS decay_ppm
             |  UNION ALL
             |  SELECT d + 1, decay_ppm * 9 // 10 FROM dk WHERE d < 40),
             |h AS (SELECT max(ts::DATE) AS max_d FROM events),
             |pv AS (SELECT user_id,
             |    datediff('day', ts::DATE, max_d) AS dd,
             |    (CAST(value AS DECIMAL(18,2)) * 100)::BIGINT AS vc
             |  FROM events, h WHERE event_type = 'purchase')
             |SELECT user_id, count(*) AS n_purchases,
             |  sum(vc)::BIGINT AS raw_cents,
             |  (sum(vc * decay_ppm) // 1000000)::BIGINT AS decayed_cents
             |FROM pv JOIN dk ON dk.d = pv.dd
             |GROUP BY 1
             |ORDER BY decayed_cents DESC, user_id LIMIT 20""".stripMargin)),

    // Welch's unequal-variance two-sample t: purchase spend vs click
    // value. The test the z/chi-square/KS/AUC family still lacked —
    // continuous outcome, no equal-variance assumption. ONE
    // conditional-aggregate scan produces n / Σv / Σv² per arm in
    // exact milli-unit integers (sums of squares stay < 2^63 well past
    // sf100; at true 100 TB the same two sums ride DECIMAL(38,0));
    // mean, variance, t, and the Welch–Satterthwaite df are scalar
    // post-agg arithmetic on those exact sums, identical in DuckDB.
    QueryDef("q_welch_ttest",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .filter(col("event_type").isin("purchase", "click"))
          .select((col("event_type") === "purchase").as("arm"),
            floor(col("value") * 1000).cast("long").as("vm"))
        val g = ev.agg(
          sum(when(col("arm"), 1L).otherwise(0L)).as("n1"),
          sum(when(col("arm"), col("vm")).otherwise(0L)).as("s1"),
          sum(when(col("arm"), col("vm") * col("vm")).otherwise(0L)).as("q1"),
          sum(when(!col("arm"), 1L).otherwise(0L)).as("n2"),
          sum(when(!col("arm"), col("vm")).otherwise(0L)).as("s2"),
          sum(when(!col("arm"), col("vm") * col("vm")).otherwise(0L)).as("q2"))
        def m(sc: String, nc: String) =
          col(sc).cast("double") / col(nc).cast("double")
        def v(qc: String, sc: String, nc: String) =
          (col(qc).cast("double") -
            col(sc).cast("double") * col(sc).cast("double") /
              col(nc).cast("double")) / (col(nc).cast("double") - 1.0)
        val se1 = v("q1", "s1", "n1") / col("n1").cast("double")
        val se2 = v("q2", "s2", "n2") / col("n2").cast("double")
        g.select(col("n1"), col("n2"),
          round(m("s1", "n1") / 1000.0, 6).as("mean_purchase"),
          round(m("s2", "n2") / 1000.0, 6).as("mean_click"),
          round((m("s1", "n1") - m("s2", "n2")) / sqrt(se1 + se2) , 6)
            .as("t_stat"),
          round((se1 + se2) * (se1 + se2) /
            (se1 * se1 / (col("n1").cast("double") - 1.0) +
              se2 * se2 / (col("n2").cast("double") - 1.0)), 4).as("df"))
      },
      Some("""WITH g AS (SELECT
             |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n1,
             |    sum(CASE WHEN event_type = 'purchase'
             |      THEN floor(value * 1000)::BIGINT ELSE 0 END)::BIGINT AS s1,
             |    sum(CASE WHEN event_type = 'purchase'
             |      THEN floor(value * 1000)::BIGINT * floor(value * 1000)::BIGINT
             |      ELSE 0 END)::BIGINT AS q1,
             |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS n2,
             |    sum(CASE WHEN event_type = 'click'
             |      THEN floor(value * 1000)::BIGINT ELSE 0 END)::BIGINT AS s2,
             |    sum(CASE WHEN event_type = 'click'
             |      THEN floor(value * 1000)::BIGINT * floor(value * 1000)::BIGINT
             |      ELSE 0 END)::BIGINT AS q2
             |  FROM events WHERE event_type IN ('purchase', 'click')),
             |e AS (SELECT n1, n2,
             |    s1::DOUBLE / n1::DOUBLE AS m1, s2::DOUBLE / n2::DOUBLE AS m2,
             |    ((q1::DOUBLE - s1::DOUBLE * s1::DOUBLE / n1::DOUBLE)
             |      / (n1::DOUBLE - 1.0)) / n1::DOUBLE AS se1,
             |    ((q2::DOUBLE - s2::DOUBLE * s2::DOUBLE / n2::DOUBLE)
             |      / (n2::DOUBLE - 1.0)) / n2::DOUBLE AS se2
             |  FROM g)
             |SELECT n1, n2,
             |  round(m1 / 1000.0, 6) AS mean_purchase,
             |  round(m2 / 1000.0, 6) AS mean_click,
             |  round((m1 - m2) / sqrt(se1 + se2), 6) AS t_stat,
             |  round((se1 + se2) * (se1 + se2)
             |    / (se1 * se1 / (n1::DOUBLE - 1.0)
             |      + se2 * se2 / (n2::DOUBLE - 1.0)), 4) AS df
             |FROM e""".stripMargin)),

    // Floored running balance (the non-associative recurrence
    // B_t = max(0, B_{t-1} + δ_t), inventory/wallet semantics) in ONE
    // window pass via the prefix-minimum closed form
    // B_t = S_t − min(0, min_{k≤t} S_k): views restock in cents,
    // purchases sell, and the floor "forgets" sales that found an
    // empty shelf. No recursion, no UDAF — two stacked windows over
    // the same per-user (ts, event_id) sort, one shuffle on user_id,
    // scale-independent of history length. Per user: final and peak
    // balance plus how much demand the floor absorbed (lost sales).
    QueryDef("q_capped_running_balance",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .filter(col("event_type").isin("view", "purchase"))
          .withColumn("delta",
            when(col("event_type") === "view",
              floor(col("value") * 100).cast("long"))
              .otherwise(-floor(col("value") * 100).cast("long")))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val run = ev.withColumn("s", sum(col("delta")).over(w))
          .withColumn("rn", row_number().over(w))
          .withColumn("bal", col("s") -
            least(lit(0L), min(col("s")).over(w)))
        run.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_moves"),
            max(col("bal")).as("peak_cents"),
            max_by(col("bal"), col("rn")).as("final_cents"),
            (max_by(col("bal"), col("rn")) - sum(col("delta")))
              .as("lost_sales_cents"))
          .orderBy(col("user_id"))
      },
      Some("""WITH mv AS (SELECT user_id, ts, event_id,
             |    CASE WHEN event_type = 'view'
             |      THEN floor(value * 100)::BIGINT
             |      ELSE -floor(value * 100)::BIGINT END AS delta
             |  FROM events WHERE event_type IN ('view', 'purchase')),
             |r AS (SELECT user_id, delta,
             |    sum(delta) OVER wu AS s,
             |    row_number() OVER wu AS rn
             |  FROM mv
             |  WINDOW wu AS (PARTITION BY user_id ORDER BY ts, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             |b AS (SELECT user_id, delta, rn,
             |    s - least(0, min(s) OVER (PARTITION BY user_id ORDER BY rn
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS bal
             |  FROM r)
             |SELECT user_id, count(*) AS n_moves,
             |  max(bal)::BIGINT AS peak_cents,
             |  max(CASE WHEN rn = n_total THEN bal END)::BIGINT AS final_cents,
             |  (max(CASE WHEN rn = n_total THEN bal END) - sum(delta))::BIGINT
             |    AS lost_sales_cents
             |FROM (SELECT *, max(rn) OVER (PARTITION BY user_id) AS n_total
             |      FROM b)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // 1-D earth mover's distance between the even- and odd-user value
    // distributions — the drift metric that, unlike KS (max gap) or
    // PSI/JS (binned log-ratios), weighs HOW FAR mass moved:
    // EMD = ∫|CDF₁−CDF₂|. Support is the integer floor(value) grid
    // (≤ ~500 cells regardless of row count), so the heavy scan
    // collapses to one conditional aggregate per cell; the integral is
    // a window cumsum over the tiny cell table with the cross-
    // multiplied integer form |c1cum·n2 − c2cum·n1|·gap — exact until
    // the single final division.
    QueryDef("q_emd_drift",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .select(floor(col("value")).cast("long").as("v"),
            (col("user_id") % 2 === 0).as("ea"))
        val cells = ev.groupBy(col("v"))
          .agg(sum(when(col("ea"), 1L).otherwise(0L)).as("c1"),
            sum(when(!col("ea"), 1L).otherwise(0L)).as("c2"))
        val wc = Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.partitionBy()
        val terms = cells
          .withColumn("c1c", sum(col("c1")).over(wc))
          .withColumn("c2c", sum(col("c2")).over(wc))
          .withColumn("n1", sum(col("c1")).over(wAll))
          .withColumn("n2", sum(col("c2")).over(wAll))
          .withColumn("gap",
            coalesce(lead(col("v"), 1).over(Window.orderBy(col("v"))) -
              col("v"), lit(0L)))
        terms.agg(max(col("n1")).as("n_even"), max(col("n2")).as("n_odd"),
          round(sum(abs(col("c1c") * col("n2") - col("c2c") * col("n1"))
            * col("gap")).cast("double") /
            (max(col("n1")) * max(col("n2"))).cast("double"), 6)
            .as("emd"))
      },
      Some("""WITH cells AS (SELECT floor(value)::BIGINT AS v,
             |    sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS c1,
             |    sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS c2
             |  FROM events GROUP BY 1),
             |t AS (SELECT v, c1, c2,
             |    sum(c1) OVER wv AS c1c, sum(c2) OVER wv AS c2c,
             |    sum(c1) OVER () AS n1, sum(c2) OVER () AS n2,
             |    coalesce(lead(v) OVER (ORDER BY v) - v, 0) AS gap
             |  FROM cells
             |  WINDOW wv AS (ORDER BY v
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             |SELECT max(n1)::BIGINT AS n_even, max(n2)::BIGINT AS n_odd,
             |  round(sum(abs(c1c * n2 - c2c * n1) * gap)::DOUBLE
             |    / (max(n1) * max(n2))::DOUBLE, 6) AS emd
             |FROM t""".stripMargin)),

    // Haar wavelet multi-resolution energy — the DSP companion to the
    // Allan curve: the hourly revenue series run through 4 unnormalized
    // Haar levels (pairwise sum/difference), reporting each level's
    // detail energy Σd² — where the series' variance lives by time
    // scale (level 1 = hour-to-hour noise, level 4 = 16-hour swings).
    // Integer cents end to end: the unnormalized transform keeps every
    // coefficient an exact BIGINT, each level is one tiny aggregate on
    // the previous level's digest (pair id = rn div 2; an incomplete
    // trailing pair is dropped, the standard dyadic truncation), and
    // the only facts-scale work is the initial hour rollup.
    QueryDef("q_haar_wavelet",
      (s, d) => {
        val hour = graft.sources.Tables.events(s, d)
          .groupBy(date_trunc("hour", col("ts")).as("hr"))
          .agg(sum(floor(col("value") * 100).cast("long")).as("v"))
        val w = Window.orderBy(col("hr"))
        var lvl = hour.withColumn("rn", row_number().over(w) - 1)
          .select(col("rn"), col("v"))
        val out = (1 to 4).map { level =>
          val pairs = lvl.groupBy(expr("rn div 2").as("p"))
            .agg(count(lit(1)).as("c"), sum(col("v")).as("a"),
              sum(when(col("rn") % 2 === 0, col("v"))
                .otherwise(-col("v"))).as("dd"))
            .filter(col("c") === 2)
          val e = pairs.agg(count(lit(1)).as("n_pairs"),
            sum(col("dd") * col("dd")).as("detail_energy"))
            .select(lit(level).as("level"), col("n_pairs"),
              col("detail_energy"))
          lvl = pairs.select(col("p").as("rn"), col("a").as("v"))
          e
        }
        out.reduce(_ unionAll _).orderBy(col("level"))
      },
      Some("""WITH hour AS (SELECT date_trunc('hour', ts) AS hr,
             |    sum(floor(value * 100)::BIGINT)::BIGINT AS v
             |  FROM events GROUP BY 1),
             |l0 AS (SELECT row_number() OVER (ORDER BY hr) - 1 AS rn, v
             |  FROM hour),
             |p1 AS (SELECT rn // 2 AS p, count(*) AS c, sum(v)::BIGINT AS a,
             |    sum(CASE WHEN rn % 2 = 0 THEN v ELSE -v END)::BIGINT AS dd
             |  FROM l0 GROUP BY 1),
             |l1 AS (SELECT p AS rn, a AS v FROM p1 WHERE c = 2),
             |e1 AS (SELECT 1 AS level, count(*)::BIGINT AS n_pairs,
             |    sum(dd * dd)::BIGINT AS detail_energy FROM p1 WHERE c = 2),
             |p2 AS (SELECT rn // 2 AS p, count(*) AS c, sum(v)::BIGINT AS a,
             |    sum(CASE WHEN rn % 2 = 0 THEN v ELSE -v END)::BIGINT AS dd
             |  FROM l1 GROUP BY 1),
             |l2 AS (SELECT p AS rn, a AS v FROM p2 WHERE c = 2),
             |e2 AS (SELECT 2 AS level, count(*)::BIGINT AS n_pairs,
             |    sum(dd * dd)::BIGINT AS detail_energy FROM p2 WHERE c = 2),
             |p3 AS (SELECT rn // 2 AS p, count(*) AS c, sum(v)::BIGINT AS a,
             |    sum(CASE WHEN rn % 2 = 0 THEN v ELSE -v END)::BIGINT AS dd
             |  FROM l2 GROUP BY 1),
             |l3 AS (SELECT p AS rn, a AS v FROM p3 WHERE c = 2),
             |e3 AS (SELECT 3 AS level, count(*)::BIGINT AS n_pairs,
             |    sum(dd * dd)::BIGINT AS detail_energy FROM p3 WHERE c = 2),
             |p4 AS (SELECT rn // 2 AS p, count(*) AS c, sum(v)::BIGINT AS a,
             |    sum(CASE WHEN rn % 2 = 0 THEN v ELSE -v END)::BIGINT AS dd
             |  FROM l3 GROUP BY 1),
             |e4 AS (SELECT 4 AS level, count(*)::BIGINT AS n_pairs,
             |    sum(dd * dd)::BIGINT AS detail_energy FROM p4 WHERE c = 2)
             |SELECT * FROM e1 UNION ALL SELECT * FROM e2
             |UNION ALL SELECT * FROM e3 UNION ALL SELECT * FROM e4
             |ORDER BY level""".stripMargin)),

    // Allan variance — THE sensor-stability metric (IMU/clock drift
    // characterization; reference domain: robotics telemetry). Each
    // event_type's value stream, ordered by (ts, event_id), is cut
    // into clusters of τ ∈ {1,2,4,8} samples; AVAR(τ) =
    // Σ(s̄_{k+1}−s̄_k)² / 2(K−1) over cluster means. Cluster sums stay
    // exact milli-unit BIGINTs (squares < 2^63 past sf10; DECIMAL(38)
    // beyond) so the whole τ-curve hash-matches DuckDB.
    //
    // The whole τ-curve comes from ONE window pass with ZERO row
    // fan-out (the ×4 explode + re-group this query used to do was
    // the sweep's 2.48×-at-10× outlier): cluster sums are prefix-sum
    // differences, so the difference of ADJACENT cluster sums is the
    // second difference of the running sum P at cluster boundaries —
    // d_k = P((k+2)τ) − 2·P((k+1)τ) + P(kτ) — i.e. lead/lag of the
    // cumulative sum at offsets τ, all riding the same
    // (event_type)-partitioned sort. lead(ps, τ) is NULL exactly when
    // cluster k+1 is incomplete, which IS the complete-cluster
    // filter. One shuffle, one WindowExec, then a per-type digest
    // unpivoted to the (type, τ) grid.
    QueryDef("q_allan_variance",
      (s, d) => {
        val taus = Seq(1, 2, 4, 8)
        val ev = graft.sources.Tables.events(s, d)
          .select(col("event_type"), col("ts"), col("event_id"),
            floor(col("value") * 1000).cast("long").as("vm"))
        val wt = Window.partitionBy(col("event_type"))
          .orderBy(col("ts"), col("event_id"))
        val wcum = wt.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val base = taus.foldLeft(
          ev.withColumn("rn", row_number().over(wt) - 1)
            .withColumn("ps", sum(col("vm")).over(wcum))) { (df, t) =>
          df.withColumn(s"d_$t",
              lead(col("ps"), t).over(wt) - col("ps") * 2 +
                coalesce(lag(col("ps"), t).over(wt), lit(0L)))
            .withColumn(s"b_$t", col("rn") % t === t - 1)
        }
        val aggs = taus.flatMap { t =>
          Seq(sum(when(col(s"b_$t"), 1L).otherwise(0L)).as(s"nc_$t"),
            sum(when(col(s"b_$t"), col(s"d_$t") * col(s"d_$t")))
              .as(s"ss_$t"),
            sum(when(col(s"b_$t") && col(s"d_$t").isNotNull, 1L)
              .otherwise(0L)).as(s"np_$t"))
        }
        val g = base.groupBy(col("event_type")).agg(aggs.head, aggs.tail: _*)
        val stackExpr = taus.map(t => s"$t, nc_$t, ss_$t, np_$t")
          .mkString(s"stack(${taus.size}, ", ", ",
            ") as (tau, n_clusters, ssq, npairs)")
        g.select(col("event_type"), expr(stackExpr))
          .select(col("event_type"), col("tau"), col("n_clusters"),
            round(col("ssq").cast("double") /
              (lit(2.0) * col("npairs").cast("double") *
                (col("tau") * col("tau")).cast("double") * 1e6), 6)
              .as("avar"))
          .orderBy(col("event_type"), col("tau"))
      },
      Some("""WITH base AS (SELECT event_type, ts, event_id,
             |    floor(value * 1000)::BIGINT AS vm,
             |    row_number() OVER (PARTITION BY event_type
             |      ORDER BY ts, event_id) - 1 AS rn
             |  FROM events),
             |cl AS (SELECT event_type, t.tau, rn // t.tau AS k,
             |    count(*) AS cnt, sum(vm)::BIGINT AS cs
             |  FROM base CROSS JOIN (SELECT unnest([1, 2, 4, 8]) AS tau) t
             |  GROUP BY 1, 2, 3 HAVING count(*) = t.tau),
             |df AS (SELECT event_type, tau, cs,
             |    lead(cs) OVER (PARTITION BY event_type, tau ORDER BY k)
             |      - cs AS dnext
             |  FROM cl)
             |SELECT event_type, tau, count(*) AS n_clusters,
             |  round(sum(dnext * dnext)::DOUBLE
             |    / (2.0 * count(dnext)::DOUBLE
             |       * (tau * tau)::DOUBLE * 1e6), 6) AS avar
             |FROM df GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // BFS reachability frontier: min-hop distance from the co-purchase
    // graph's lowest part id, 3 expansion rounds. The iterative shape
    // every graph engine builds first — each round is one join of the
    // previous frontier against the (node-sized, broadcastable) edge
    // list plus a min-hop re-aggregate, so a 1000-executor run is 3
    // shuffles of frontier-sized data, never path-enumeration. The
    // oracle unrolls the same three rounds as chained DISTINCT CTEs —
    // no recursive CTE, whose UNION ALL would enumerate paths and
    // explode on a clustered graph.
    QueryDef("q_bfs_hops",
      (s, d) => {
        val e = s.read.parquet(copurchaseEdgesOf(s, d))
        val eb = e.select(col("p1").as("src"), col("p2").as("dst"))
          .unionAll(e.select(col("p2").as("src"), col("p1").as("dst")))
        var reach = e.agg(min(col("p1")).as("node"))
          .select(col("node"), lit(0).as("hop"))
        for (h <- 1 to 3) {
          val next = reach.filter(col("hop") === h - 1)
            .join(eb, col("node") === col("src"))
            .select(col("dst").as("node"), lit(h).as("hop")).distinct()
          reach = reach.unionAll(next)
            .groupBy(col("node")).agg(min(col("hop")).as("hop"))
        }
        reach.groupBy(col("hop"))
          .agg(count(lit(1)).as("n_nodes"), min(col("node")).as("min_node"))
          .orderBy(col("hop"))
      },
      Some("""WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |e AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2
             |  FROM pp a JOIN pp b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |eb AS (SELECT p1 AS src, p2 AS dst FROM e
             |  UNION ALL SELECT p2, p1 FROM e),
             |f0 AS (SELECT min(p1) AS node FROM e),
             |h1 AS (SELECT DISTINCT eb.dst AS node
             |  FROM eb JOIN f0 ON eb.src = f0.node),
             |h2 AS (SELECT DISTINCT eb.dst AS node
             |  FROM eb JOIN h1 ON eb.src = h1.node),
             |h3 AS (SELECT DISTINCT eb.dst AS node
             |  FROM eb JOIN h2 ON eb.src = h2.node),
             |lv AS (SELECT node, 0 AS hop FROM f0
             |  UNION ALL SELECT node, 1 FROM h1
             |  UNION ALL SELECT node, 2 FROM h2
             |  UNION ALL SELECT node, 3 FROM h3),
             |m AS (SELECT node, min(hop) AS hop FROM lv GROUP BY 1)
             |SELECT hop, count(*) AS n_nodes, min(node) AS min_node
             |FROM m GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Local-maxima peak detection on the hourly purchase-revenue
    // series: an hour is a peak iff strictly above both immediate
    // neighbors AND no lower than the ±2-hour neighborhood — the
    // two-scale test that rejects sawtooth noise without a smoothing
    // pass. The facts collapse to an hour-grain integer-cents digest
    // first (≤ 8.8k rows/series/year at ANY fact scale), so the
    // global-order window runs on the digest, not the stream.
    QueryDef("q_peak_detect",
      (s, d) => {
        val hr = graft.sources.Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .groupBy(date_trunc("hour", col("ts")).as("hr"))
          .agg(sum(floor(col("value") * 100).cast("long")).as("cents"))
        val w = Window.orderBy(col("hr"))
        hr.withColumn("p1", lag(col("cents"), 1).over(w))
          .withColumn("n1", lead(col("cents"), 1).over(w))
          .withColumn("p2", coalesce(lag(col("cents"), 2).over(w), lit(0L)))
          .withColumn("n2", coalesce(lead(col("cents"), 2).over(w), lit(0L)))
          .filter(col("p1").isNotNull && col("n1").isNotNull &&
            col("cents") > col("p1") && col("cents") > col("n1") &&
            col("cents") >= col("p2") && col("cents") >= col("n2"))
          .select(col("hr").cast("string").as("hr"), col("cents"))
          .orderBy(col("hr"))
      },
      Some("""WITH h AS (SELECT date_trunc('hour', ts) AS hr,
             |    sum(floor(value * 100)::BIGINT)::BIGINT AS cents
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
             |x AS (SELECT hr, cents,
             |    lag(cents, 1) OVER wh AS p1, lead(cents, 1) OVER wh AS n1,
             |    coalesce(lag(cents, 2) OVER wh, 0) AS p2,
             |    coalesce(lead(cents, 2) OVER wh, 0) AS n2
             |  FROM h WINDOW wh AS (ORDER BY hr))
             |SELECT hr::VARCHAR AS hr, cents FROM x
             |WHERE p1 IS NOT NULL AND n1 IS NOT NULL
             |  AND cents > p1 AND cents > n1
             |  AND cents >= p2 AND cents >= n2
             |ORDER BY hr""".stripMargin)),

    // Seasonal-naive forecast backtest: predict each day's revenue as
    // the same weekday one week earlier (the baseline every real
    // forecaster must beat), scored on the final 14 days with MAE and
    // MAPE. The series is a day-grain integer-cents digest, the lag-7
    // "model" one window shift, the holdout selection a broadcast
    // max-day digest — an evaluation harness whose cost is the fact
    // scan, nothing else. Completes the forecasting family
    // (Holt/Theil-Sen/changepoint) with the scoring half.
    QueryDef("q_forecast_backtest",
      (s, d) => {
        val day = graft.sources.Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .groupBy(to_date(col("ts")).as("day"))
          .agg(sum(floor(col("value") * 100).cast("long")).as("cents"))
        val w = Window.orderBy(col("day"))
        val pred = day.withColumn("pred", lag(col("cents"), 7).over(w))
        val horizon = day.agg(max(col("day")).as("max_day"))
        pred.crossJoin(broadcast(horizon))
          .filter(col("pred").isNotNull &&
            datediff(col("max_day"), col("day")) < 14)
          .agg(count(lit(1)).as("n_days"),
            sum(abs(col("cents") - col("pred"))).as("abs_err_cents"),
            round((sum(abs(col("cents") - col("pred"))) /
              count(lit(1))).cast("double") / 100.0, 2).as("mae"),
            // per-day relative error floored to ppm BEFORE summing:
            // the accumulator stays integer (partition-order
            // independent), unlike a Σ of double ratios
            round(expr("sum(abs(cents - pred) * 1000000 div cents)")
              .cast("double") /
              (count(lit(1)).cast("double") * 1e6), 6).as("mape"))
      },
      Some("""WITH day AS (SELECT ts::DATE AS day,
             |    sum(floor(value * 100)::BIGINT)::BIGINT AS cents
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
             |p AS (SELECT day, cents,
             |    lag(cents, 7) OVER (ORDER BY day) AS pred
             |  FROM day),
             |h AS (SELECT max(day) AS max_day FROM day)
             |SELECT count(*) AS n_days,
             |  sum(abs(cents - pred))::BIGINT AS abs_err_cents,
             |  round((sum(abs(cents - pred)) / count(*))::DOUBLE / 100.0, 2)
             |    AS mae,
             |  round(sum(abs(cents - pred) * 1000000 // cents)::DOUBLE
             |    / (count(*)::DOUBLE * 1e6), 6) AS mape
             |FROM p, h
             |WHERE pred IS NOT NULL AND datediff('day', day, max_day) < 14
             |""".stripMargin)),

    // Delete-one-group jackknife: the standard-error of mean purchase
    // value estimated by leaving out one DAY at a time — the
    // resampling-inference shape (bootstrap's deterministic cousin)
    // that needs NO randomness: pseudo-values come from the per-day
    // (n, Σ) digest against the global digest, all exact milli-unit
    // integers until the final scalar arithmetic. One aggregate scan;
    // the leave-one-out "loop" is algebra on the digest, not a rescan
    // per replicate — the only way a jackknife survives 100 TB.
    QueryDef("q_jackknife_se",
      (s, d) => {
        val per = graft.sources.Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("nd"),
            sum(floor(col("value") * 1000).cast("long")).as("sd"))
        val tot = per.agg(sum(col("nd")).as("n"), sum(col("sd")).as("st"),
          count(lit(1)).as("g"))
        val loo = (col("st") - col("sd")).cast("double") /
          (col("n") - col("nd")).cast("double")
        val mean = col("st").cast("double") / col("n").cast("double")
        per.crossJoin(broadcast(tot))
          // deviation floored to an exact micro-value integer per
          // replicate BEFORE the Σ of squares: the accumulator is
          // BIGINT (partition-order independent), not a double sum
          .select(col("g"), mean.as("m"),
            floor((loo - mean) * 1000).cast("long").as("dv"))
          .agg(max(col("g")).as("n_groups"),
            round(max(col("m")) / 1000.0, 6).as("mean_value"),
            round(sqrt(sum(col("dv") * col("dv")).cast("double")
              * (max(col("g")) - 1).cast("double") /
              max(col("g")).cast("double")) / 1e6, 6).as("jackknife_se"))
      },
      Some("""WITH per AS (SELECT ts::DATE AS day, count(*) AS nd,
             |    sum(floor(value * 1000)::BIGINT)::BIGINT AS sd
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
             |tot AS (SELECT sum(nd)::BIGINT AS n, sum(sd)::BIGINT AS st,
             |    count(*) AS g FROM per),
             |pv AS (SELECT g, st::DOUBLE / n::DOUBLE AS m,
             |    floor(((st - sd)::DOUBLE / (n - nd)::DOUBLE
             |      - st::DOUBLE / n::DOUBLE) * 1000)::BIGINT AS dv
             |  FROM per, tot)
             |SELECT max(g) AS n_groups,
             |  round(max(m) / 1000.0, 6) AS mean_value,
             |  round(sqrt(sum(dv * dv)::DOUBLE
             |      * (max(g) - 1)::DOUBLE / max(g)::DOUBLE) / 1e6, 6)
             |    AS jackknife_se
             |FROM pv""".stripMargin)),

    // Signal roughness per event_type: zero-crossing rate of the
    // mean-centered value stream and mean absolute first difference
    // ("jerk") — the two cheapest time-domain features a vibration /
    // telemetry monitor extracts before anything spectral. Centering
    // uses the per-series integer mean floor (broadcast digest), the
    // diff is one lag over the per-series sort — a single shuffle on
    // event_type, exact integers throughout.
    QueryDef("q_zero_crossings",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .select(col("event_type"), col("ts"), col("event_id"),
            floor(col("value") * 1000).cast("long").as("vm"))
        val ctr = ev.groupBy(col("event_type").as("et"))
          .agg(expr("sum(vm) div count(1)").as("mu"))
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("ts"), col("event_id"))
        val cen = ev.join(broadcast(ctr), col("event_type") === col("et"))
          .withColumn("c", col("vm") - col("mu"))
          .withColumn("pc", lag(col("c"), 1).over(w))
          .withColumn("pv", lag(col("vm"), 1).over(w))
        cen.filter(col("pc").isNotNull)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_steps"),
            sum(when(col("c") * col("pc") < 0, 1L).otherwise(0L))
              .as("n_crossings"),
            round(sum(when(col("c") * col("pc") < 0, 1L).otherwise(0L))
              .cast("double") / count(lit(1)).cast("double"), 6)
              .as("crossing_rate"),
            round((sum(abs(col("vm") - col("pv"))) / count(lit(1)))
              .cast("double") / 1000.0, 3).as("mean_abs_jerk"))
          .orderBy(col("event_type"))
      },
      Some("""WITH base AS (SELECT event_type, ts, event_id,
             |    floor(value * 1000)::BIGINT AS vm
             |  FROM events),
             |mu AS (SELECT event_type, sum(vm) // count(*) AS mu
             |  FROM base GROUP BY 1),
             |st AS (SELECT b.event_type, b.vm - mu.mu AS c,
             |    lag(b.vm - mu.mu) OVER we AS pc,
             |    lag(b.vm) OVER we AS pv, b.vm
             |  FROM base b JOIN mu ON b.event_type = mu.event_type
             |  WINDOW we AS (PARTITION BY b.event_type
             |    ORDER BY b.ts, b.event_id))
             |SELECT event_type, count(*) AS n_steps,
             |  sum(CASE WHEN c * pc < 0 THEN 1 ELSE 0 END)::BIGINT
             |    AS n_crossings,
             |  round(sum(CASE WHEN c * pc < 0 THEN 1 ELSE 0 END)::DOUBLE
             |    / count(*)::DOUBLE, 6) AS crossing_rate,
             |  round((sum(abs(vm - pv)) / count(*))::DOUBLE / 1000.0, 3)
             |    AS mean_abs_jerk
             |FROM st WHERE pc IS NOT NULL
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Exact 24-hour rolling median of hourly revenue — the robust
    // rolling-center line (median ignores the spike a rolling MEAN
    // chases). Runs on the hour-grain digest (≤ 8.8k rows/year at any
    // fact scale), where a 24-slot sorted-array window is cheap and
    // EXACT — no t-digest approximation needed; the same per-window
    // sort is how a native engine's streaming median works. Spark
    // side: sort_array(collect_list) over the frame + closed-form
    // middle pick; oracle: DuckDB's windowed median().
    QueryDef("q_rolling_median",
      (s, d) => {
        val hr = graft.sources.Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .groupBy(date_trunc("hour", col("ts")).as("hr"))
          .agg(sum(floor(col("value") * 100).cast("long")).as("cents"))
        val w24 = Window.orderBy(col("hr")).rowsBetween(-23, 0)
        hr.withColumn("arr", sort_array(collect_list(col("cents")).over(w24)))
          .select(col("hr").cast("string").as("hr"), col("cents"),
            round((element_at(col("arr"),
              expr("int((size(arr) + 1) div 2)")) +
              element_at(col("arr"), expr("int(size(arr) div 2) + 1")))
              .cast("double") / 2.0, 2).as("rolling_med"))
          .orderBy(col("hr"))
      },
      Some("""WITH h AS (SELECT date_trunc('hour', ts) AS hr,
             |    sum(floor(value * 100)::BIGINT)::BIGINT AS cents
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
             |SELECT hr::VARCHAR AS hr, cents,
             |  round(median(cents) OVER (ORDER BY hr
             |    ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)::DOUBLE, 2)
             |    AS rolling_med
             |FROM h ORDER BY hr""".stripMargin)),

    // Item-item collaborative filtering: cosine similarity on binary
    // order-baskets, sim(i,j) = |orders(i)∩orders(j)| /
    // √(|orders(i)|·|orders(j)|) — the normalization that separates
    // genuine affinity from sheer popularity (which raw co-count and
    // lift both conflate). Top-3 neighbors for the 20 highest-degree
    // parts. The pair join is co-partitioned on l_orderkey exactly
    // like the co-purchase edge build; scores are ppm-floored (sqrt
    // is IEEE exact-rounded, so the floor is engine-stable).
    QueryDef("q_item_cf_topk",
      (s, d) => {
        val pp = graft.sources.Tables.load(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_partkey")).distinct()
        val deg = pp.groupBy(col("l_partkey").as("p"))
          .agg(count(lit(1)).as("deg"))
        // the weighted pair join is the maintained co-purchase
        // artifact — reuse it rather than re-running the self-join
        val e = s.read.parquet(copurchaseEdgesOf(s, d))
          .select(col("p1"), col("p2"), col("w").as("cw"))
        val eb = e.select(col("p1").as("src"), col("p2").as("dst"), col("cw"))
          .unionAll(e.select(col("p2").as("src"), col("p1").as("dst"),
            col("cw")))
        val hot = deg.withColumn("dr",
          row_number().over(Window.orderBy(col("deg").desc, col("p"))))
          .filter(col("dr") <= 20).select(col("p"), col("deg").as("sdeg"))
        val scored = eb.join(broadcast(hot), col("src") === col("p"))
          .join(deg.select(col("p").as("dp"), col("deg").as("ddeg")),
            col("dst") === col("dp"))
          .withColumn("sim_ppm", floor(col("cw").cast("double") * 1e6 /
            sqrt((col("sdeg") * col("ddeg")).cast("double"))).cast("long"))
        scored.withColumn("rank", row_number().over(
            Window.partitionBy(col("src"))
              .orderBy(col("sim_ppm").desc, col("dst"))))
          .filter(col("rank") <= 3)
          .select(col("src"), col("rank"), col("dst"), col("sim_ppm"))
          .orderBy(col("src"), col("rank"))
      },
      Some("""WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |deg AS (SELECT l_partkey AS p, count(*) AS deg FROM pp GROUP BY 1),
             |e AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2,
             |    count(*) AS cw
             |  FROM pp a JOIN pp b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |eb AS (SELECT p1 AS src, p2 AS dst, cw FROM e
             |  UNION ALL SELECT p2, p1, cw FROM e),
             |hot AS (SELECT p, deg AS sdeg FROM (SELECT p, deg,
             |    row_number() OVER (ORDER BY deg DESC, p) AS dr FROM deg)
             |  WHERE dr <= 20),
             |sc AS (SELECT eb.src, eb.dst,
             |    floor(eb.cw::DOUBLE * 1e6
             |      / sqrt((hot.sdeg * dd.deg)::DOUBLE))::BIGINT AS sim_ppm
             |  FROM eb JOIN hot ON eb.src = hot.p
             |    JOIN deg dd ON eb.dst = dd.p),
             |r AS (SELECT src, dst, sim_ppm,
             |    row_number() OVER (PARTITION BY src
             |      ORDER BY sim_ppm DESC, dst) AS rank
             |  FROM sc)
             |SELECT src, rank, dst, sim_ppm FROM r WHERE rank <= 3
             |ORDER BY src, rank""".stripMargin)),

    // SAX symbolization (symbolic aggregate approximation): the daily
    // revenue curve compressed to a 6-letter word — each day's 24
    // hours collapse to six 4-hour PAA frames, each frame classified
    // into quartile alphabet {a..d} by a global ntile (rank-based
    // breakpoints: ties resolved on (value, day, frame), so the
    // labeling is total-order deterministic, no float breakpoints).
    // The motif/anomaly pre-index for time-series similarity search
    // — words are groupable/joinable where raw curves are not. Facts
    // collapse to ≤ 6 rows/day before any window.
    QueryDef("q_sax_symbols",
      (s, d) => {
        val fr = graft.sources.Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .groupBy(to_date(col("ts")).as("day"),
            (hour(col("ts")) / 4).cast("int").as("frame"))
          .agg(sum(floor(col("value") * 100).cast("long")).as("fv"))
        val sym = fr.withColumn("q", ntile(4).over(
            Window.orderBy(col("fv"), col("day"), col("frame"))))
          .withColumn("sym", expr("char(96 + q)"))
        sym.groupBy(col("day").cast("string").as("day"))
          .agg(concat_ws("", transform(array_sort(
            collect_list(struct(col("frame"), col("sym")))),
            x => x.getField("sym"))).as("sax_word"))
          .orderBy(col("day"))
      },
      Some("""WITH fr AS (SELECT ts::DATE AS day,
             |    (hour(ts) // 4)::INT AS frame,
             |    sum(floor(value * 100)::BIGINT)::BIGINT AS fv
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
             |sym AS (SELECT day, frame,
             |    chr((96 + ntile(4) OVER (ORDER BY fv, day, frame))::INT) AS sym
             |  FROM fr)
             |SELECT day::VARCHAR AS day,
             |  string_agg(sym, '' ORDER BY frame) AS sax_word
             |FROM sym GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Autocorrelation function at lags {1, 2, 3, 24, 168}h — the
    // correlogram that justifies every seasonal model choice (lag-24
    // daily cycle, lag-168 weekly). Deviations are exact integers off
    // the floor-mean digest, so numerator and denominator are BIGINT
    // dot products; the lag fan-out is a digest×5 self-join on shifted
    // row numbers (no per-lag window machinery, one tiny join).
    // Extends q_autocorr's single lag to the shape a forecaster reads.
    QueryDef("q_acf_lags",
      (s, d) => {
        val hr = graft.sources.Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .groupBy(date_trunc("hour", col("ts")).as("hr"))
          .agg(sum(floor(col("value") * 100).cast("long")).as("cents"))
        val mu = hr.agg(expr("sum(cents) div count(1)").as("mu"))
        val cen = hr.crossJoin(broadcast(mu))
          .withColumn("rn", row_number().over(Window.orderBy(col("hr"))))
          .select(col("rn"), (col("cents") - col("mu")).as("c"))
        val denom = cen.agg(sum(col("c") * col("c")).as("ss"),
          count(lit(1)).as("n"))
        val lags = cen.withColumn("lag",
          explode(array(lit(1), lit(2), lit(3), lit(24), lit(168))))
        lags.join(cen.select(col("rn").as("rb"), col("c").as("cb")),
            col("rb") === col("rn") + col("lag"))
          .groupBy(col("lag"))
          .agg(count(lit(1)).as("n_pairs"), sum(col("c") * col("cb")).as("num"))
          .crossJoin(broadcast(denom))
          .select(col("lag"), col("n_pairs"),
            round(col("num").cast("double") / col("ss").cast("double"), 6)
              .as("acf"))
          .orderBy(col("lag"))
      },
      Some("""WITH h AS (SELECT date_trunc('hour', ts) AS hr,
             |    sum(floor(value * 100)::BIGINT)::BIGINT AS cents
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
             |mu AS (SELECT sum(cents) // count(*) AS mu FROM h),
             |cen AS (SELECT row_number() OVER (ORDER BY hr) AS rn,
             |    cents - mu AS c FROM h, mu),
             |dn AS (SELECT sum(c * c)::BIGINT AS ss FROM cen),
             |lg AS (SELECT a.rn, a.c, l.lag FROM cen a
             |  CROSS JOIN (SELECT unnest([1, 2, 3, 24, 168]) AS lag) l)
             |SELECT lg.lag, count(*) AS n_pairs,
             |  round(sum(lg.c * b.c)::DOUBLE / max(dn.ss)::DOUBLE, 6) AS acf
             |FROM lg JOIN cen b ON b.rn = lg.rn + lg.lag, dn
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Calibration bins — is the "score" honest as a probability? The
    // score (value, min-max normalized to [0,1] from the bounds
    // digest) is cut into 10 equal-width bins; each bin compares its
    // mean normalized score (confidence) to its observed purchase
    // rate, and the |gap| weighted by bin mass is the expected
    // calibration error term. Everything from integer digests to two
    // divisions per bin; the bounds digest rides a broadcast.
    QueryDef("q_calibration_bins",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .select(floor(col("value") * 1000).cast("long").as("sm"),
            when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
        val bounds = ev.agg(min(col("sm")).as("lo"), max(col("sm")).as("hi"))
        ev.crossJoin(broadcast(bounds))
          .withColumn("bin",
            least(lit(9L), expr("(sm - lo) * 10 div greatest(1, hi - lo)")))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"),
            sum(col("sm")).as("ssm"), max(col("lo")).as("lo"),
            max(col("hi")).as("hi"))
          .select(col("bin"), col("n"),
            round((col("ssm").cast("double") / col("n") - col("lo")) /
              greatest(lit(1L), col("hi") - col("lo")).cast("double"), 6)
              .as("mean_conf"),
            round(col("pos").cast("double") / col("n"), 6).as("obs_rate"),
            round(abs(
              (col("ssm").cast("double") / col("n") - col("lo")) /
                greatest(lit(1L), col("hi") - col("lo")).cast("double") -
              col("pos").cast("double") / col("n")), 6).as("gap"))
          .orderBy(col("bin"))
      },
      Some("""WITH e AS (SELECT floor(value * 1000)::BIGINT AS sm,
             |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
             |  FROM events),
             |b AS (SELECT min(sm) AS lo, max(sm) AS hi FROM e),
             |g AS (SELECT least(9, (sm - lo) * 10 // greatest(1, hi - lo))
             |      ::BIGINT AS bin, y, sm, lo, hi
             |  FROM e, b)
             |SELECT bin, count(*)::BIGINT AS n,
             |  round((sum(sm)::DOUBLE / count(*) - max(lo))
             |    / greatest(1, max(hi) - max(lo))::DOUBLE, 6) AS mean_conf,
             |  round(sum(y)::DOUBLE / count(*), 6) AS obs_rate,
             |  round(abs((sum(sm)::DOUBLE / count(*) - max(lo))
             |      / greatest(1, max(hi) - max(lo))::DOUBLE
             |    - sum(y)::DOUBLE / count(*)), 6) AS gap
             |FROM g GROUP BY bin ORDER BY bin""".stripMargin)),

    // Pooled day-k retention curve with fitted half-life — for each
    // horizon k in 1..7, the share of (user, day) actives still active
    // on day+k, pooled over all base days; then the log-linear decay
    // fit whose slope gives the audience half-life in days. Rates come
    // from one shifted self-join of the (user, day) digest per k
    // (a 7-value explode, not 7 scans); the fit is least squares over
    // 7 exact points with rounded-log decimal sums.
    QueryDef("q_retention_halflife",
      (s, d) => {
        val ud = graft.sources.Tables.events(s, d)
          .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
          .persist()
        val ks = s.range(1, 8).select(col("id").cast("int").as("k"))
        val base = ud.crossJoin(broadcast(ks))
        val ret = base.join(
            ud.select(col("day").as("rday"), col("user_id").as("r_uid")),
            col("user_id") === col("r_uid") &&
              expr("rday = date_add(day, k)"))
          .groupBy(col("k")).agg(count(lit(1)).as("n_ret"))
        val nb = base.groupBy(col("k")).agg(count(lit(1)).as("n_base"))
        val curve = nb.join(ret, Seq("k"), "left")
          .withColumn("n_ret", coalesce(col("n_ret"), lit(0L)))
          .withColumn("rate_ppm", expr("n_ret * 1000000 div n_base"))
          .persist()
        val fitTerms = curve
          .select(col("k").cast("long").as("x"),
            round(log(col("n_ret").cast("double") /
              col("n_base").cast("double")), 9).cast("decimal(20,9)").as("y"))
        val fit = fitTerms.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
            sum(col("x") * col("x")).as("qx"), sum(col("y")).as("sy"),
            sum(col("y") * col("x").cast("decimal(9,0)")).as("sxy"))
          .select(((col("n") * col("sxy") - col("sx").cast("decimal(20,9)") *
            col("sy")).cast("double") /
            (col("n") * col("qx") - col("sx") * col("sx")).cast("double"))
            .as("slope"))
        QueryDef.digest(s, curve.crossJoin(broadcast(fit))
          .select(col("k").cast("long").as("k"), col("n_base"), col("n_ret"),
            col("rate_ppm"), round(col("slope"), 6).as("decay_slope"),
            round(lit(-0.6931471805599453) / col("slope"), 6)
              .as("halflife_days"))
          .orderBy(col("k")), ud, curve)
      },
      Some("""WITH ud AS (SELECT DISTINCT ts::DATE AS day, user_id FROM events),
             |ks AS (SELECT unnest(range(1, 8))::INT AS k),
             |base AS (SELECT day, user_id, k FROM ud CROSS JOIN ks),
             |ret AS (SELECT k, count(*)::BIGINT AS n_ret
             |  FROM base b JOIN ud r ON r.user_id = b.user_id
             |    AND r.day = b.day + b.k
             |  GROUP BY 1),
             |nb AS (SELECT k, count(*)::BIGINT AS n_base FROM base GROUP BY 1),
             |curve AS (SELECT nb.k, n_base, coalesce(n_ret, 0)::BIGINT AS n_ret,
             |    (coalesce(n_ret, 0) * 1000000 // n_base)::BIGINT AS rate_ppm
             |  FROM nb LEFT JOIN ret USING (k)),
             |ft AS (SELECT k::BIGINT AS x,
             |    round(ln(n_ret::DOUBLE / n_base::DOUBLE), 9)::DECIMAL(20,9) AS y
             |  FROM curve),
             |fit AS (SELECT (count(*) * sum(y * x::DECIMAL(9,0))
             |      - sum(x)::DECIMAL(20,9) * sum(y))::DOUBLE
             |    / (count(*) * sum(x * x) - sum(x) * sum(x))::DOUBLE AS slope
             |  FROM ft)
             |SELECT k::BIGINT AS k, n_base, n_ret, rate_ppm,
             |  round(slope, 6) AS decay_slope,
             |  round(-0.6931471805599453 / slope, 6) AS halflife_days
             |FROM curve, fit ORDER BY k""".stripMargin)),

    // Day-over-day audience Jaccard — how much of today's active-user
    // SET is yesterday's (set similarity as a time series; plain DAU
    // deltas can stay flat while the underlying population churns
    // completely). Intersection from a self-join of the (user, day)
    // digest shifted one day; union by inclusion-exclusion — set
    // sizes never leave the digest.
    QueryDef("q_dau_jaccard",
      (s, d) => {
        val ud = graft.sources.Tables.events(s, d)
          .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
          .persist()
        val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
        val inter = ud.join(
            ud.select(date_add(col("day"), 1).as("day"),
              col("user_id")),
            Seq("day", "user_id"))
          .groupBy(col("day")).agg(count(lit(1)).as("n_inter"))
        QueryDef.digest(s, dau
          .join(dau.select(date_add(col("day"), 1).as("day"),
            col("dau").as("dau_prev")), Seq("day"))
          .join(inter, Seq("day"), "left")
          .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
          .select(col("day").cast("string").as("day"), col("dau"),
            col("dau_prev"), col("n_inter"),
            round(col("n_inter").cast("double") /
              (col("dau") + col("dau_prev") - col("n_inter")).cast("double"), 6)
              .as("jaccard"))
          .orderBy(col("day")), ud)
      },
      Some("""WITH ud AS (SELECT DISTINCT ts::DATE AS day, user_id FROM events),
             |dau AS (SELECT day, count(*)::BIGINT AS dau FROM ud GROUP BY 1),
             |i AS (SELECT a.day, count(*)::BIGINT AS n_inter
             |  FROM ud a JOIN ud b ON b.day = a.day - 1
             |    AND b.user_id = a.user_id
             |  GROUP BY 1)
             |SELECT a.day::VARCHAR AS day, a.dau,
             |  p.dau::BIGINT AS dau_prev,
             |  coalesce(i.n_inter, 0)::BIGINT AS n_inter,
             |  round(coalesce(i.n_inter, 0)::DOUBLE
             |    / (a.dau + p.dau - coalesce(i.n_inter, 0))::DOUBLE, 6)
             |    AS jaccard
             |FROM dau a JOIN dau p ON p.day = a.day - 1
             |LEFT JOIN i ON i.day = a.day
             |ORDER BY day""".stripMargin)),

    // Brier score with the Murphy decomposition — the one-number
    // calibration readout split into WHY: reliability (bins off their
    // observed rates — lower is better), resolution (bins separate
    // outcomes — higher is better), uncertainty (the outcome's own
    // variance, a property of the data). Built on the same
    // equal-width score bins as q_calibration_bins; per-bin terms are
    // rounded once and summed as exact decimals.
    QueryDef("q_brier_decomposition",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .select(floor(col("value") * 1000).cast("long").as("sm"),
            when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
        val bounds = ev.agg(min(col("sm")).as("lo"), max(col("sm")).as("hi"))
        val bins = ev.crossJoin(broadcast(bounds))
          .withColumn("bin",
            least(lit(9L), expr("(sm - lo) * 10 div greatest(1, hi - lo)")))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"),
            sum(col("sm")).as("ssm"), max(col("lo")).as("lo"),
            max(col("hi")).as("hi"))
        val tot = ev.agg(count(lit(1)).as("nn"), sum(col("y")).as("npos"))
        bins.crossJoin(broadcast(tot))
          .select(col("n"), col("nn"),
            round(((col("ssm").cast("double") / col("n") - col("lo")) /
              greatest(lit(1L), col("hi") - col("lo")).cast("double") -
              col("pos").cast("double") / col("n")), 9).as("cg"),
            round((col("pos").cast("double") / col("n") -
              col("npos").cast("double") / col("nn")), 9).as("rg"),
            col("npos"))
          .select(col("nn"), col("npos"),
            round(col("cg") * col("cg") * col("n") / col("nn"), 9)
              .cast("decimal(20,9)").as("__rel"),
            round(col("rg") * col("rg") * col("n") / col("nn"), 9)
              .cast("decimal(20,9)").as("__res"))
          .groupBy(col("nn"), col("npos"))
          .agg(round(sum(col("__rel")).cast("double"), 6).as("reliability"),
            round(sum(col("__res")).cast("double"), 6).as("resolution"))
          .select(
            round(col("npos").cast("double") / col("nn") *
              (lit(1.0) - col("npos").cast("double") / col("nn")), 6)
              .as("uncertainty"),
            col("reliability"), col("resolution"))
      },
      Some("""WITH e AS (SELECT floor(value * 1000)::BIGINT AS sm,
             |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
             |  FROM events),
             |b AS (SELECT min(sm) AS lo, max(sm) AS hi FROM e),
             |t AS (SELECT count(*)::BIGINT AS nn, sum(y)::BIGINT AS npos FROM e),
             |g AS (SELECT least(9, (sm - lo) * 10 // greatest(1, hi - lo))
             |      ::BIGINT AS bin, y, sm, lo, hi FROM e, b),
             |bins AS (SELECT bin, count(*)::BIGINT AS n, sum(y)::BIGINT AS pos,
             |    sum(sm)::BIGINT AS ssm, max(lo) AS lo, max(hi) AS hi
             |  FROM g GROUP BY 1),
             |terms AS (SELECT n, nn, npos,
             |    round((ssm::DOUBLE / n - lo)
             |        / greatest(1, hi - lo)::DOUBLE
             |      - pos::DOUBLE / n, 9) AS cg,
             |    round(pos::DOUBLE / n - npos::DOUBLE / nn, 9) AS rg
             |  FROM bins, t),
             |dec AS (SELECT nn, npos,
             |    sum(round(cg * cg * n / nn, 9)::DECIMAL(20,9)) AS rel,
             |    sum(round(rg * rg * n / nn, 9)::DECIMAL(20,9)) AS res
             |  FROM terms GROUP BY 1, 2)
             |SELECT round(npos::DOUBLE / nn * (1.0 - npos::DOUBLE / nn), 6)
             |    AS uncertainty,
             |  round(rel::DOUBLE, 6) AS reliability,
             |  round(res::DOUBLE, 6) AS resolution
             |FROM dec""".stripMargin)),

    // Partial autocorrelation at lags 1-3 via Durbin-Levinson closed
    // forms — the ARIMA order-selection companion to q_acf_lags: PACF
    // strips the shorter-lag influence out of each ACF value, so an
    // AR(1) process shows pacf2 ~ 0 where acf2 is still large. The
    // three ACFs come from the same integer centered-series digest;
    // the recursion is scalar algebra on identical doubles in both
    // engines.
    QueryDef("q_pacf_lags",
      (s, d) => {
        val hr = graft.sources.Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .groupBy(date_trunc("hour", col("ts")).as("hr"))
          .agg(sum(floor(col("value") * 100).cast("long")).as("cents"))
        val mu = hr.agg(expr("sum(cents) div count(1)").as("mu"))
        val cen = hr.crossJoin(broadcast(mu))
          .withColumn("rn", row_number().over(Window.orderBy(col("hr"))))
          .select(col("rn"), (col("cents") - col("mu")).as("c"))
        val denom = cen.agg(sum(col("c") * col("c")).as("ss"))
        val lags = cen.withColumn("lag",
          explode(array(lit(1), lit(2), lit(3))))
        val r = lags.join(cen.select(col("rn").as("rb"), col("c").as("cb")),
            col("rb") === col("rn") + col("lag"))
          .groupBy(col("lag")).agg(sum(col("c") * col("cb")).as("num"))
          .crossJoin(broadcast(denom))
          .select(col("lag"),
            (col("num").cast("double") / col("ss").cast("double")).as("r"))
        r.agg(max(when(col("lag") === 1, col("r"))).as("r1"),
            max(when(col("lag") === 2, col("r"))).as("r2"),
            max(when(col("lag") === 3, col("r"))).as("r3"))
          .select(round(col("r1"), 6).as("acf1"),
            round(col("r2"), 6).as("acf2"), round(col("r3"), 6).as("acf3"),
            round(col("r1"), 6).as("pacf1"),
            round((col("r2") - col("r1") * col("r1")) /
              (lit(1.0) - col("r1") * col("r1")), 6).as("pacf2"),
            round({
              val p22 = (col("r2") - col("r1") * col("r1")) /
                (lit(1.0) - col("r1") * col("r1"))
              val p21 = col("r1") * (lit(1.0) - p22)
              (col("r3") - p21 * col("r2") - p22 * col("r1")) /
                (lit(1.0) - p21 * col("r1") - p22 * col("r2"))
            }, 6).as("pacf3"))
      },
      Some("""WITH h AS (SELECT date_trunc('hour', ts) AS hr,
             |    sum(floor(value * 100)::BIGINT)::BIGINT AS cents
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
             |mu AS (SELECT sum(cents) // count(*) AS mu FROM h),
             |cen AS (SELECT row_number() OVER (ORDER BY hr) AS rn,
             |    cents - mu AS c FROM h, mu),
             |dn AS (SELECT sum(c * c)::BIGINT AS ss FROM cen),
             |lg AS (SELECT a.rn, a.c, l.lag FROM cen a
             |  CROSS JOIN (SELECT unnest([1, 2, 3]) AS lag) l),
             |rr AS (SELECT lg.lag,
             |    sum(lg.c * b.c)::DOUBLE / max(dn.ss)::DOUBLE AS r
             |  FROM lg JOIN cen b ON b.rn = lg.rn + lg.lag, dn GROUP BY 1),
             |p AS (SELECT max(CASE WHEN lag = 1 THEN r END) AS r1,
             |    max(CASE WHEN lag = 2 THEN r END) AS r2,
             |    max(CASE WHEN lag = 3 THEN r END) AS r3 FROM rr),
             |d2 AS (SELECT r1, r2, r3,
             |    (r2 - r1 * r1) / (1.0 - r1 * r1) AS p22 FROM p),
             |d3 AS (SELECT r1, r2, r3, p22, r1 * (1.0 - p22) AS p21 FROM d2)
             |SELECT round(r1, 6) AS acf1, round(r2, 6) AS acf2,
             |  round(r3, 6) AS acf3, round(r1, 6) AS pacf1,
             |  round(p22, 6) AS pacf2,
             |  round((r3 - p21 * r2 - p22 * r1)
             |    / (1.0 - p21 * r1 - p22 * r2), 6) AS pacf3
             |FROM d3""".stripMargin)),

    // Idle-segment detection: contiguous runs of BELOW-HALF-MEAN
    // hourly activity (the "robot parked / line down" readout). The
    // spine is generated from the min/max bounds digest so zero-event
    // hours exist as rows — a gaps-and-islands pass on the raw digest
    // would silently fuse segments across missing hours. Threshold is
    // relative (mean/2 from the same digest), so the query is
    // scale-free; islands come from the rn − rn(low) difference
    // idiom, one global window over the ≤8.8k-row spine.
    QueryDef("q_idle_segments",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
        val cnt = ev.groupBy(date_trunc("hour", col("ts")).as("hr"))
          .agg(count(lit(1)).as("n"))
        val bounds = ev.agg(
          date_trunc("hour", min(col("ts"))).as("t0"),
          date_trunc("hour", max(col("ts"))).as("t1"),
          expr("count(1) div count(distinct date_trunc('hour', ts)) div 2")
            .as("half_mean"))
        val spine = bounds.select(col("half_mean"),
          explode(expr("sequence(t0, t1, interval 1 hour)")).as("hr"))
        val flagged = spine.join(cnt, Seq("hr"), "left")
          .withColumn("n", coalesce(col("n"), lit(0L)))
          .withColumn("low", col("n") < col("half_mean"))
        val w = Window.orderBy(col("hr"))
        val isl = flagged.withColumn("rn", row_number().over(w))
          .filter(col("low"))
          .withColumn("grp", col("rn") -
            row_number().over(Window.orderBy(col("hr"))))
        isl.groupBy(col("grp"))
          .agg(min(col("hr")).cast("string").as("start_hr"),
            max(col("hr")).cast("string").as("end_hr"),
            count(lit(1)).as("n_hours"), sum(col("n")).as("n_events"))
          .select(col("start_hr"), col("end_hr"), col("n_hours"),
            col("n_events"))
          .orderBy(col("n_hours").desc, col("start_hr")).limit(20)
      },
      Some("""WITH cnt AS (SELECT date_trunc('hour', ts) AS hr,
             |    count(*)::BIGINT AS n FROM events GROUP BY 1),
             |b AS (SELECT date_trunc('hour', min(ts)) AS t0,
             |    date_trunc('hour', max(ts)) AS t1,
             |    count(*) // count(DISTINCT date_trunc('hour', ts)) // 2
             |      AS half_mean
             |  FROM events),
             |spine AS (SELECT b.half_mean, unnest(generate_series(
             |    b.t0, b.t1, INTERVAL 1 HOUR)) AS hr FROM b),
             |fl AS (SELECT spine.hr, coalesce(cnt.n, 0) AS n,
             |    coalesce(cnt.n, 0) < spine.half_mean AS low,
             |    row_number() OVER (ORDER BY spine.hr) AS rn
             |  FROM spine LEFT JOIN cnt ON cnt.hr = spine.hr),
             |isl AS (SELECT hr, n,
             |    rn - row_number() OVER (ORDER BY hr) AS grp
             |  FROM fl WHERE low)
             |SELECT min(hr)::VARCHAR AS start_hr, max(hr)::VARCHAR AS end_hr,
             |  count(*) AS n_hours, sum(n)::BIGINT AS n_events
             |FROM isl GROUP BY grp
             |ORDER BY n_hours DESC, start_hr LIMIT 20""".stripMargin)),

    // Stock span (nearest-greater-element): for each hour, how many
    // consecutive trailing hours had revenue no higher — the
    // momentum/streak-length signal. Monotonic-stack semantics
    // expressed relationally: span = rn − last rn with a strictly
    // greater value, found by a prefix self-join ON THE DIGEST (≤8.8k
    // rows/year — quadratic in digest cells, never in facts; at
    // longer horizons the same recurrence runs as a segment-tree/
    // partitioned sweep). Top-20 longest spans.
    QueryDef("q_stock_span",
      (s, d) => {
        val hr = graft.sources.Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .groupBy(date_trunc("hour", col("ts")).as("hr"))
          .agg(sum(floor(col("value") * 100).cast("long")).as("cents"))
          .withColumn("rn", row_number().over(Window.orderBy(col("hr"))))
        val prior = hr.select(col("rn").as("rb"), col("cents").as("cb"))
        hr.join(prior, col("rb") < col("rn") && col("cb") > col("cents"),
            "left")
          .groupBy(col("hr"), col("rn"), col("cents"))
          .agg((col("rn") - coalesce(max(col("rb")), lit(0L))).as("span"))
          .select(col("hr").cast("string").as("hr"), col("cents"),
            col("span"))
          .orderBy(col("span").desc, col("hr")).limit(20)
      },
      Some("""WITH h AS (SELECT date_trunc('hour', ts) AS hr,
             |    sum(floor(value * 100)::BIGINT)::BIGINT AS cents
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
             |r AS (SELECT hr, cents,
             |    row_number() OVER (ORDER BY hr) AS rn FROM h)
             |SELECT a.hr::VARCHAR AS hr, a.cents,
             |  (a.rn - coalesce(max(b.rn), 0))::BIGINT AS span
             |FROM r a LEFT JOIN r b ON b.rn < a.rn AND b.cents > a.cents
             |GROUP BY a.hr, a.rn, a.cents
             |ORDER BY span DESC, hr LIMIT 20""".stripMargin)),

    // Entropy rate of the per-user event-type chain: H(X_t | X_{t-1})
    // from the transition-count digest, next to the unigram entropy
    // H(X) — their gap is the behavioral predictability the Markov
    // structure buys (the information-theoretic readout on top of
    // q_event_transitions' raw matrix). The 25-cell digest is the only
    // thing aggregated after the per-user lag; each entropy term is
    // rounded to a 9-decimal DECIMAL before summing, so the Σ is
    // partition-order independent (the rounded-term idiom from the
    // Zipf fit).
    QueryDef("q_entropy_rate",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val tr = graft.sources.Tables.events(s, d)
          .withColumn("prev", lag(col("event_type"), 1).over(w))
          .filter(col("prev").isNotNull)
          .groupBy(col("prev"), col("event_type")).agg(count(lit(1)).as("c"))
        val tot = tr.agg(sum(col("c")).as("n"))
        val row = tr.withColumn("ci",
            sum(col("c")).over(Window.partitionBy(col("prev"))))
          .crossJoin(broadcast(tot))
        val hRate = sum(round(-(col("c").cast("double") / col("n")) *
          log(2.0, col("c").cast("double") / col("ci")), 9)
          .cast("decimal(20,9)"))
        val hUni = sum(round(-(col("ci2").cast("double") / col("n")) *
          log(2.0, col("ci2").cast("double") / col("n")), 9)
          .cast("decimal(20,9)"))
        val uni = tr.groupBy(col("event_type")).agg(sum(col("c")).as("ci2"))
          .crossJoin(broadcast(tot))
          .agg(round(hUni.cast("double"), 6).as("h_unigram_bits"))
        row.agg(max(col("n")).as("n_transitions"),
            round(hRate.cast("double"), 6).as("h_rate_bits"))
          .crossJoin(uni)
          .select(col("n_transitions"), col("h_rate_bits"),
            col("h_unigram_bits"),
            round(col("h_unigram_bits") - col("h_rate_bits"), 6)
              .as("predictability_gain_bits"))
      },
      Some("""WITH tr AS (SELECT prev, event_type, count(*)::BIGINT AS c
             |  FROM (SELECT event_type,
             |      lag(event_type) OVER (PARTITION BY user_id
             |        ORDER BY ts, event_id) AS prev
             |    FROM events)
             |  WHERE prev IS NOT NULL GROUP BY 1, 2),
             |tot AS (SELECT sum(c)::BIGINT AS n FROM tr),
             |hr AS (SELECT round(sum(round(-(c::DOUBLE / n)
             |      * log2(c::DOUBLE / ci), 9)::DECIMAL(20,9))::DOUBLE, 6)
             |    AS h_rate_bits, max(n) AS n_transitions
             |  FROM (SELECT c, sum(c) OVER (PARTITION BY prev) AS ci
             |        FROM tr), tot),
             |hu AS (SELECT round(sum(round(-(ci2::DOUBLE / n)
             |      * log2(ci2::DOUBLE / n), 9)::DECIMAL(20,9))::DOUBLE, 6)
             |    AS h_unigram_bits
             |  FROM (SELECT event_type, sum(c)::BIGINT AS ci2 FROM tr
             |        GROUP BY 1), tot)
             |SELECT n_transitions, h_rate_bits, h_unigram_bits,
             |  round(h_unigram_bits - h_rate_bits, 6)
             |    AS predictability_gain_bits
             |FROM hr, hu""".stripMargin)),

    // Additive-decomposition anomalies: each hour's revenue minus its
    // (weekday, hour-of-day) seasonal baseline — residuals flagged
    // beyond 3× the mean absolute residual. The baseline and the
    // threshold both come from integer-div digests of the SAME
    // hour-grain rollup (one fact scan feeding two tiny aggregates),
    // so "unusual for a Tuesday 3pm" is answered without any model
    // fit. Top-10 anomalies by |residual|.
    QueryDef("q_seasonal_residual",
      (s, d) => {
        val hr = graft.sources.Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .groupBy(date_trunc("hour", col("ts")).as("hr"))
          .agg(sum(floor(col("value") * 100).cast("long")).as("cents"))
          .withColumn("dw", dayofweek(col("hr")))
          .withColumn("hd", hour(col("hr")))
        val base = hr.groupBy(col("dw").as("bdw"), col("hd").as("bhd"))
          .agg(expr("sum(cents) div count(1)").as("baseline"))
        val res = hr.join(broadcast(base),
            col("dw") === col("bdw") && col("hd") === col("bhd"))
          .withColumn("resid", col("cents") - col("baseline"))
        val thr = res.agg(expr("3 * sum(abs(resid)) div count(1)")
          .as("thr"))
        res.crossJoin(broadcast(thr))
          .filter(abs(col("resid")) > col("thr"))
          .select(col("hr").cast("string").as("hr"), col("cents"),
            col("baseline"), col("resid"))
          .orderBy(abs(col("resid")).desc, col("hr")).limit(10)
      },
      Some("""WITH h AS (SELECT date_trunc('hour', ts) AS hr,
             |    sum(floor(value * 100)::BIGINT)::BIGINT AS cents
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
             |hh AS (SELECT hr, cents, dayofweek(hr) AS dw, hour(hr) AS hd
             |  FROM h),
             |b AS (SELECT dw, hd, (sum(cents) // count(*))::BIGINT AS baseline
             |  FROM hh GROUP BY 1, 2),
             |res AS (SELECT hh.hr, hh.cents, b.baseline,
             |    (hh.cents - b.baseline)::BIGINT AS resid
             |  FROM hh JOIN b ON hh.dw = b.dw AND hh.hd = b.hd),
             |thr AS (SELECT 3 * sum(abs(resid)) // count(*) AS thr FROM res)
             |SELECT hr::VARCHAR AS hr, cents, baseline, resid
             |FROM res, thr WHERE abs(resid) > thr
             |ORDER BY abs(resid) DESC, hr LIMIT 10""".stripMargin)),

    // Point-in-time (AS OF) lookup against the SCD Type-2 dimension:
    // "what state was every user in at the corpus midpoint?" — the
    // time-travel read that is the entire REASON an SCD2 dim exists.
    // The probe instant derives from the bounds digest (broadcast,
    // scale-free); the interval predicate valid_from <= t < valid_to
    // selects exactly one version per user by construction, which the
    // paired law spec asserts. Same per-user windows as q_scd2_dim —
    // one shuffle, then a digest-broadcast filter.
    QueryDef("q_scd2_asof",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .filter(col("user_id") < 100)
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val dim = ev
          .withColumn("__prev", lag(col("event_type"), 1).over(w))
          .filter(col("__prev").isNull || col("event_type") =!= col("__prev"))
          .withColumn("version", row_number().over(w))
          .withColumn("valid_to", lead(col("ts"), 1).over(w))
        val probe = ev.agg(min(col("ts")).as("t0"), max(col("ts")).as("t1"))
          .select(expr(
            "timestamp_micros((unix_micros(t0) + unix_micros(t1)) div 2)")
            .as("t_mid"))
        dim.crossJoin(broadcast(probe))
          .filter(col("ts") <= col("t_mid") &&
            (col("valid_to").isNull || col("valid_to") > col("t_mid")))
          .select(col("user_id"), col("version"),
            col("event_type").as("state_at_mid"),
            col("ts").cast("string").as("valid_from"))
          .orderBy(col("user_id"))
      },
      Some("""WITH ev AS (SELECT user_id, event_id, ts, event_type
             |  FROM events WHERE user_id < 100),
             |l AS (SELECT user_id, ts, event_type,
             |    lag(event_type) OVER wu AS prev
             |  FROM ev WINDOW wu AS (PARTITION BY user_id
             |    ORDER BY ts, event_id)),
             |c AS (SELECT user_id, ts, event_type FROM l
             |  WHERE prev IS NULL OR event_type <> prev),
             |dim AS (SELECT user_id, ts, event_type,
             |    row_number() OVER wv AS version,
             |    lead(ts) OVER wv AS valid_to
             |  FROM c WINDOW wv AS (PARTITION BY user_id ORDER BY ts)),
             |p AS (SELECT make_timestamp((epoch_us(min(ts))
             |    + epoch_us(max(ts))) // 2) AS t_mid FROM ev)
             |SELECT user_id, version, event_type AS state_at_mid,
             |  ts::VARCHAR AS valid_from
             |FROM dim, p
             |WHERE ts <= t_mid AND (valid_to IS NULL OR valid_to > t_mid)
             |ORDER BY user_id""".stripMargin)),

    // Wilson 95% score interval for the purchase conversion rate —
    // the interval every experimentation readout should quote instead
    // of the normal approximation (which breaks near 0/1 and small n).
    // One conditional-aggregate scan to exact integer (x, n); the
    // interval is closed-form scalar arithmetic with z = 1.96 as a
    // literal — no distribution tables, identical in DuckDB.
    QueryDef("q_wilson_ci",
      (s, d) => {
        val g = graft.sources.Tables.events(s, d).agg(
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("x"),
          count(lit(1)).as("n"))
        val z2 = lit(1.96 * 1.96)
        val p = col("x").cast("double") / col("n").cast("double")
        val nn = col("n").cast("double")
        val denom = lit(1.0) + z2 / nn
        val center = (p + z2 / (lit(2.0) * nn)) / denom
        val half = (lit(1.96) * sqrt(p * (lit(1.0) - p) / nn +
          z2 / (lit(4.0) * nn * nn))) / denom
        g.select(col("x"), col("n"), round(p, 6).as("rate"),
          round(center - half, 6).as("ci_lo"),
          round(center + half, 6).as("ci_hi"))
      },
      Some("""WITH g AS (SELECT
             |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS x,
             |    count(*)::BIGINT AS n FROM events),
             |e AS (SELECT x, n, x::DOUBLE / n::DOUBLE AS p, n::DOUBLE AS nn
             |  FROM g)
             |SELECT x, n, round(p, 6) AS rate,
             |  round((p + 3.8416 / (2 * nn)) / (1 + 3.8416 / nn)
             |    - 1.96 * sqrt(p * (1 - p) / nn + 3.8416 / (4 * nn * nn))
             |      / (1 + 3.8416 / nn), 6) AS ci_lo,
             |  round((p + 3.8416 / (2 * nn)) / (1 + 3.8416 / nn)
             |    + 1.96 * sqrt(p * (1 - p) / nn + 3.8416 / (4 * nn * nn))
             |      / (1 + 3.8416 / nn), 6) AS ci_hi
             |FROM e""".stripMargin)),

    // Daily cart abandonment: of the users who viewed on a day, the
    // share with NO purchase inside 24 h of their first view that day
    // — the funnel-leak companion to q_conversion_lag. Both sides of
    // the join are per-(user, day) digests (first view / purchase
    // times), so the "within 24 h" check is an interval predicate on
    // digest rows, never an event×event join.
    QueryDef("q_abandonment",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
        val fv = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id"), to_date(col("ts")).as("day"))
          .agg(min(col("ts")).as("first_view"))
        val pu = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("pu"), col("ts").as("pts"))
        val hit = fv.join(pu,
            col("pu") === col("user_id") && col("pts") >= col("first_view")
              && col("pts") < col("first_view") + expr("interval 24 hours"),
            "left")
          .groupBy(col("user_id"), col("day"))
          .agg(max(col("pts").isNotNull.cast("long")).as("converted"))
        hit.groupBy(col("day").cast("string").as("day"))
          .agg(count(lit(1)).as("n_viewers"),
            sum(lit(1L) - col("converted")).as("n_abandoned"),
            round(sum(lit(1L) - col("converted")).cast("double") /
              count(lit(1)).cast("double"), 6).as("abandon_rate"))
          .orderBy(col("day"))
      },
      Some("""WITH fv AS (SELECT user_id, ts::DATE AS day,
             |    min(ts) AS first_view
             |  FROM events WHERE event_type = 'view' GROUP BY 1, 2),
             |hit AS (SELECT fv.user_id, fv.day,
             |    max(CASE WHEN p.ts IS NOT NULL THEN 1 ELSE 0 END) AS converted
             |  FROM fv LEFT JOIN events p ON p.user_id = fv.user_id
             |    AND p.event_type = 'purchase' AND p.ts >= fv.first_view
             |    AND p.ts < fv.first_view + INTERVAL 24 HOURS
             |  GROUP BY 1, 2)
             |SELECT day::VARCHAR AS day, count(*) AS n_viewers,
             |  sum(1 - converted)::BIGINT AS n_abandoned,
             |  round(sum(1 - converted)::DOUBLE / count(*)::DOUBLE, 6)
             |    AS abandon_rate
             |FROM hit GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Growth accounting — the DAU ledger every product team keeps:
    // each day's actives split into NEW (first-ever day), RETAINED
    // (also active yesterday), RESURRECTED (active before, but not
    // yesterday), plus CHURNED = yesterday's actives who didn't
    // return (= lag(dau) − retained, a day-grain identity — no
    // user-level anti-join needed). One shuffle to the (user, day)
    // digest, a per-user lag to classify, a day-grain lag to close
    // the ledger; dau ≡ new + retained + resurrected by construction.
    QueryDef("q_growth_accounting",
      (s, d) => {
        val ud = graft.sources.Tables.events(s, d)
          .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        val wu = Window.partitionBy(col("user_id")).orderBy(col("day"))
        val cls = ud.withColumn("prev_day", lag(col("day"), 1).over(wu))
        val daily = cls.groupBy(col("day"))
          .agg(count(lit(1)).as("dau"),
            sum(when(col("prev_day").isNull, 1L).otherwise(0L)).as("n_new"),
            sum(when(col("prev_day") === date_sub(col("day"), 1), 1L)
              .otherwise(0L)).as("n_retained"),
            sum(when(col("prev_day").isNotNull &&
              col("prev_day") < date_sub(col("day"), 1), 1L)
              .otherwise(0L)).as("n_resurrected"))
        val wd = Window.orderBy(col("day"))
        daily
          .withColumn("n_churned",
            coalesce(lag(col("dau"), 1).over(wd), lit(0L)) -
              col("n_retained"))
          .select(col("day").cast("string").as("day"), col("dau"),
            col("n_new"), col("n_retained"), col("n_resurrected"),
            col("n_churned"))
          .orderBy(col("day"))
      },
      Some("""WITH ud AS (SELECT DISTINCT user_id, ts::DATE AS day
             |  FROM events),
             |cls AS (SELECT user_id, day,
             |    lag(day) OVER (PARTITION BY user_id ORDER BY day)
             |      AS prev_day
             |  FROM ud),
             |daily AS (SELECT day, count(*) AS dau,
             |    sum(CASE WHEN prev_day IS NULL THEN 1 ELSE 0 END)::BIGINT
             |      AS n_new,
             |    sum(CASE WHEN prev_day = day - 1 THEN 1 ELSE 0 END)::BIGINT
             |      AS n_retained,
             |    sum(CASE WHEN prev_day IS NOT NULL AND prev_day < day - 1
             |      THEN 1 ELSE 0 END)::BIGINT AS n_resurrected
             |  FROM cls GROUP BY 1)
             |SELECT day::VARCHAR AS day, dau, n_new, n_retained,
             |  n_resurrected,
             |  (coalesce(lag(dau) OVER (ORDER BY day), 0) - n_retained)::BIGINT
             |    AS n_churned
             |FROM daily ORDER BY day""".stripMargin)),

    // Stickiness (DAU/MAU): each day's actives over its trailing
    // 30-day actives — the engagement-depth ratio. MAU comes from the
    // bounded ×30 fan-out of the (user, day) digest onto the report
    // days each visit supports (the q_rolling_distinct_users idiom):
    // shuffle volume is 30·|digest| whatever the history length, and
    // no day×history quadratic join exists. Ratio is ppm-floored from
    // exact counts.
    QueryDef("q_stickiness",
      (s, d) => {
        val ud = graft.sources.Tables.events(s, d)
          .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        val bounds = ud.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        val mau = ud.select(col("user_id"),
            explode(expr("sequence(day, day + 29)")).as("rday"))
          .crossJoin(broadcast(bounds))
          .filter(col("rday") <= col("d1"))
          .groupBy(col("rday")).agg(countDistinct(col("user_id")).as("mau"))
        val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
        dau.join(mau, col("day") === col("rday"))
          .select(col("day").cast("string").as("day"), col("dau"),
            col("mau"),
            expr("dau * 1000000 div mau").as("stickiness_ppm"))
          .orderBy(col("day"))
      },
      Some("""WITH ud AS (SELECT DISTINCT user_id, ts::DATE AS day
             |  FROM events),
             |b AS (SELECT max(day) AS d1 FROM ud),
             |f AS (SELECT ud.user_id, unnest(generate_series(ud.day,
             |    ud.day + 29, INTERVAL 1 DAY))::DATE AS rday FROM ud),
             |mau AS (SELECT rday, count(DISTINCT user_id) AS mau
             |  FROM f, b WHERE rday <= b.d1 GROUP BY 1),
             |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1)
             |SELECT day::VARCHAR AS day, dau, mau,
             |  (dau * 1000000 // mau)::BIGINT AS stickiness_ppm
             |FROM dau JOIN mau ON mau.rday = dau.day
             |ORDER BY day""".stripMargin)),

    // Seasonal variance explained: how much of the hourly revenue
    // variance the (weekday, hour) profile accounts for — R² of the
    // one-way seasonal "model", the go/no-go number before fitting
    // anything fancier. SST and SSE are BIGINT sums of exact integer
    // deviations (floor-mean and floor-baseline digests), one fact
    // scan feeding three tiny aggregates.
    QueryDef("q_variance_explained",
      (s, d) => {
        val hr = graft.sources.Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .groupBy(date_trunc("hour", col("ts")).as("hr"))
          .agg(sum(floor(col("value") * 100).cast("long")).as("cents"))
          .withColumn("dw", dayofweek(col("hr")))
          .withColumn("hd", hour(col("hr")))
        val base = hr.groupBy(col("dw").as("bdw"), col("hd").as("bhd"))
          .agg(expr("sum(cents) div count(1)").as("baseline"))
        val mu = hr.agg(expr("sum(cents) div count(1)").as("mu"))
        hr.join(broadcast(base),
            col("dw") === col("bdw") && col("hd") === col("bhd"))
          .crossJoin(broadcast(mu))
          .agg(count(lit(1)).as("n_hours"),
            sum((col("cents") - col("mu")) * (col("cents") - col("mu")))
              .as("sst"),
            sum((col("cents") - col("baseline")) *
              (col("cents") - col("baseline"))).as("sse"))
          .select(col("n_hours"), col("sst"), col("sse"),
            round(lit(1.0) - col("sse").cast("double") /
              col("sst").cast("double"), 6).as("var_explained"))
      },
      Some("""WITH h AS (SELECT date_trunc('hour', ts) AS hr,
             |    sum(floor(value * 100)::BIGINT)::BIGINT AS cents
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
             |hh AS (SELECT hr, cents, dayofweek(hr) AS dw, hour(hr) AS hd
             |  FROM h),
             |b AS (SELECT dw, hd, sum(cents) // count(*) AS baseline
             |  FROM hh GROUP BY 1, 2),
             |m AS (SELECT sum(cents) // count(*) AS mu FROM hh)
             |SELECT count(*) AS n_hours,
             |  sum((cents - mu) * (cents - mu))::BIGINT AS sst,
             |  sum((cents - baseline) * (cents - baseline))::BIGINT AS sse,
             |  round(1.0 - sum((cents - baseline) * (cents - baseline))::DOUBLE
             |    / sum((cents - mu) * (cents - mu))::DOUBLE, 6)
             |    AS var_explained
             |FROM hh JOIN b ON hh.dw = b.dw AND hh.hd = b.hd, m""".stripMargin)),

    // Hurst exponent by rescaled-range (R/S) analysis over block sizes
    // m ∈ {8,16,32,64} hours — long-memory vs mean-reversion of the
    // revenue process (H≈0.5 random walk, >0.5 trending). Everything
    // up to the final logs is EXACT integer algebra: the cumulative
    // deviation is scaled by m (dev·m = m·cumsum − k·Σ) so block
    // range R·m and std·m = √(m·Σx²−(Σx)²) are BIGINT-derived; per-
    // block R/S ratios are rounded to 9-decimal DECIMALs before
    // averaging (order-independent Σ). The slope uses exact abscissae
    // log2(m) ∈ {3,4,5,6}, so H = Σ(log2 m − 4.5)·log2(R/S̄)/5 — a
    // 4-term closed form. Block fan-out happens AFTER the global
    // row-number, exactly like the Allan-variance τ grid.
    QueryDef("q_hurst",
      (s, d) => {
        val hr = graft.sources.Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .groupBy(date_trunc("hour", col("ts")).as("hr"))
          .agg(sum(floor(col("value") * 100).cast("long")).as("x"))
          .withColumn("rn", row_number().over(Window.orderBy(col("hr"))))
        val blocks = hr
          .withColumn("m", explode(array(lit(8), lit(16), lit(32), lit(64))))
          .withColumn("blk", expr("(rn - 1) div m"))
        val wb = Window.partitionBy(col("m"), col("blk"))
        val wbo = wb.orderBy(col("rn"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val dev = blocks
          .withColumn("k", row_number().over(wb.orderBy(col("rn"))))
          .withColumn("cumx", sum(col("x")).over(wbo))
          .withColumn("s1", sum(col("x")).over(wb))
          .withColumn("s2", sum(col("x") * col("x")).over(wb))
          .withColumn("cnt", count(lit(1)).over(wb))
          .filter(col("cnt") === col("m"))
          .withColumn("devm", col("m") * col("cumx") - col("k") * col("s1"))
        val rs = dev.groupBy(col("m"), col("blk"))
          .agg(((max(col("devm")) - min(col("devm"))).cast("double") /
            sqrt((max(col("m") * col("s2")) - max(col("s1") * col("s1")))
              .cast("double"))).as("rs"))
          .filter(col("rs") > 0.0)
          .groupBy(col("m"))
          .agg(round((sum(round(col("rs"), 9).cast("decimal(20,9)")) /
            count(lit(1))).cast("double"), 6).as("mean_rs"))
        rs.agg(
            sum(when(col("m") === 8, col("mean_rs"))).as("rs8"),
            sum(when(col("m") === 16, col("mean_rs"))).as("rs16"),
            sum(when(col("m") === 32, col("mean_rs"))).as("rs32"),
            sum(when(col("m") === 64, col("mean_rs"))).as("rs64"),
            round(sum((when(col("m") === 8, -1.5)
              .when(col("m") === 16, -0.5)
              .when(col("m") === 32, 0.5)
              .otherwise(1.5)) *
              round(log(2.0, col("mean_rs")), 9)) / lit(5.0), 4)
              .as("hurst"))
      },
      Some("""WITH h AS (SELECT date_trunc('hour', ts) AS hr,
             |    sum(floor(value * 100)::BIGINT)::BIGINT AS x
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
             |r AS (SELECT x, row_number() OVER (ORDER BY hr) AS rn FROM h),
             |bl AS (SELECT r.x, r.rn, t.m, (r.rn - 1) // t.m AS blk
             |  FROM r CROSS JOIN (SELECT unnest([8, 16, 32, 64]) AS m) t),
             |dev AS (SELECT m, blk,
             |    m * sum(x) OVER wo - (row_number() OVER wo) * (sum(x) OVER wb)
             |      AS devm,
             |    sum(x) OVER wb AS s1, sum(x * x) OVER wb AS s2,
             |    count(*) OVER wb AS cnt
             |  FROM bl
             |  WINDOW wo AS (PARTITION BY m, blk ORDER BY rn
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             |    wb AS (PARTITION BY m, blk)),
             |rsb AS (SELECT m, blk,
             |    (max(devm) - min(devm))::DOUBLE
             |      / sqrt((max(m * s2) - max(s1 * s1))::DOUBLE) AS rs
             |  FROM dev WHERE cnt = m GROUP BY 1, 2),
             |rsm AS (SELECT m, round((sum(round(rs, 9)::DECIMAL(20,9))
             |    / count(*))::DOUBLE, 6) AS mean_rs
             |  FROM rsb WHERE rs > 0 GROUP BY 1)
             |SELECT
             |  sum(CASE WHEN m = 8 THEN mean_rs END) AS rs8,
             |  sum(CASE WHEN m = 16 THEN mean_rs END) AS rs16,
             |  sum(CASE WHEN m = 32 THEN mean_rs END) AS rs32,
             |  sum(CASE WHEN m = 64 THEN mean_rs END) AS rs64,
             |  round(sum((CASE WHEN m = 8 THEN -1.5 WHEN m = 16 THEN -0.5
             |    WHEN m = 32 THEN 0.5 ELSE 1.5 END)
             |    * round(log2(mean_rs), 9)) / 5.0, 4) AS hurst
             |FROM rsm""".stripMargin)),

    // Maximum drawdown of the hourly revenue level — peak-to-trough
    // depth below the running maximum, the risk metric that reads a
    // series top-down where stock span reads it bottom-up. Running
    // max over the hour digest, depth = runmax − x, top-5 troughs.
    // All integer cents; one global window on the digest.
    QueryDef("q_max_drawdown",
      (s, d) => {
        val hr = graft.sources.Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .groupBy(date_trunc("hour", col("ts")).as("hr"))
          .agg(sum(floor(col("value") * 100).cast("long")).as("cents"))
        val w = Window.orderBy(col("hr"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        hr.withColumn("runmax", max(col("cents")).over(w))
          .withColumn("drawdown", col("runmax") - col("cents"))
          .select(col("hr").cast("string").as("hr"), col("cents"),
            col("runmax"), col("drawdown"))
          .orderBy(col("drawdown").desc, col("hr")).limit(5)
      },
      Some("""WITH h AS (SELECT date_trunc('hour', ts) AS hr,
             |    sum(floor(value * 100)::BIGINT)::BIGINT AS cents
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
             |SELECT hr::VARCHAR AS hr, cents,
             |  max(cents) OVER (ORDER BY hr
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmax,
             |  (max(cents) OVER (ORDER BY hr
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cents)
             |    AS drawdown
             |FROM h ORDER BY drawdown DESC, hr LIMIT 5""".stripMargin)),

    // Empirical-rule audit: what share of values lies within k·σ of
    // the mean, k ∈ {1,2,3}, next to the Chebyshev floor 1 − 1/k² —
    // the one-scan normality smoke test that tells you whether
    // z-score-based rules are even admissible on this column. The
    // within-kσ test is cross-multiplied so both sides are products
    // of EXACT integer aggregates ((n·x−S)² ≤ k²·(n·Q−S²), doubles
    // only as IEEE-exact-rounded products — engine-identical); one
    // digest pass plus one classify pass.
    QueryDef("q_sigma_coverage",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .select(floor(col("value") * 1000).cast("long").as("vm"))
        val g = ev.agg(count(lit(1)).as("n"), sum(col("vm")).as("s"),
          sum(col("vm") * col("vm")).as("q"))
        val lhs = (col("n").cast("double") * col("vm").cast("double") -
          col("s").cast("double")) *
          (col("n").cast("double") * col("vm").cast("double") -
            col("s").cast("double"))
        val sig2n2 = col("n").cast("double") * col("q").cast("double") -
          col("s").cast("double") * col("s").cast("double")
        ev.crossJoin(broadcast(g))
          .withColumn("k", explode(array(lit(1), lit(2), lit(3))))
          .groupBy(col("k"))
          .agg(max(col("n")).as("n"),
            sum(when(lhs <= col("k").cast("double") *
              col("k").cast("double") * sig2n2, 1L).otherwise(0L))
              .as("n_within"))
          .select(col("k"), col("n"), col("n_within"),
            round(col("n_within").cast("double") / col("n").cast("double"), 6)
              .as("share_within"),
            round(lit(1.0) - lit(1.0) /
              (col("k") * col("k")).cast("double"), 6).as("chebyshev_floor"))
          .orderBy(col("k"))
      },
      Some("""WITH v AS (SELECT floor(value * 1000)::BIGINT AS vm FROM events),
             |g AS (SELECT count(*)::BIGINT AS n, sum(vm)::BIGINT AS s,
             |    sum(vm * vm)::BIGINT AS q FROM v)
             |SELECT k, max(n) AS n,
             |  sum(CASE WHEN (n::DOUBLE * vm::DOUBLE - s::DOUBLE)
             |      * (n::DOUBLE * vm::DOUBLE - s::DOUBLE)
             |      <= k::DOUBLE * k::DOUBLE
             |        * (n::DOUBLE * q::DOUBLE - s::DOUBLE * s::DOUBLE)
             |    THEN 1 ELSE 0 END)::BIGINT AS n_within,
             |  round(sum(CASE WHEN (n::DOUBLE * vm::DOUBLE - s::DOUBLE)
             |      * (n::DOUBLE * vm::DOUBLE - s::DOUBLE)
             |      <= k::DOUBLE * k::DOUBLE
             |        * (n::DOUBLE * q::DOUBLE - s::DOUBLE * s::DOUBLE)
             |    THEN 1 ELSE 0 END)::DOUBLE / max(n)::DOUBLE, 6)
             |    AS share_within,
             |  round(1.0 - 1.0 / (k * k)::DOUBLE, 6) AS chebyshev_floor
             |FROM v, g, (SELECT unnest([1, 2, 3]) AS k) t
             |GROUP BY k ORDER BY k""".stripMargin)),

    // Experiment sizing: the minimum detectable effect at the CURRENT
    // traffic split and the sample size a 10%-relative-lift test
    // needs — the capacity-planning arithmetic (α=0.05 two-sided,
    // power 80%; z constants as literals) run directly against the
    // observed conversion digest. One conditional-aggregate scan;
    // everything after is closed-form scalar algebra on exact counts.
    QueryDef("q_power_mde",
      (s, d) => {
        val g = graft.sources.Tables.events(s, d).agg(
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("x"),
          count(lit(1)).as("n"))
        // z_{0.025}=1.96, z_{0.20}=0.8416; (z_a+z_b)^2 = 7.84926...
        val zsum2 = lit((1.96 + 0.8416) * (1.96 + 0.8416))
        val p = col("x").cast("double") / col("n").cast("double")
        val perArm = col("n").cast("double") / 2.0
        g.select(col("x"), col("n"), round(p, 6).as("rate"),
          // MDE (absolute) the current n supports at 80% power
          round(sqrt(zsum2 * lit(2.0) * p * (lit(1.0) - p) / perArm), 6)
            .as("mde_abs"),
          // n per arm to detect a 10% relative lift
          ceil(zsum2 * lit(2.0) * p * (lit(1.0) - p) /
            ((p * 0.1) * (p * 0.1))).cast("long").as("n_per_arm_10pct"))
      },
      Some("""WITH g AS (SELECT
             |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS x,
             |    count(*)::BIGINT AS n FROM events),
             |e AS (SELECT x, n, x::DOUBLE / n::DOUBLE AS p,
             |    n::DOUBLE / 2.0 AS per_arm,
             |    (1.96 + 0.8416) * (1.96 + 0.8416) AS zs FROM g)
             |SELECT x, n, round(p, 6) AS rate,
             |  round(sqrt(zs * 2.0 * p * (1 - p) / per_arm), 6) AS mde_abs,
             |  ceil(zs * 2.0 * p * (1 - p) / ((p * 0.1) * (p * 0.1)))::BIGINT
             |    AS n_per_arm_10pct
             |FROM e""".stripMargin)),

    // 3-core of the co-purchase graph by iterative peeling: drop
    // nodes with degree < 3, recompute, repeat (5 rounds — enough to
    // reach the fixpoint here, and the oracle replays EXACTLY five
    // rounds so the contract is deterministic even if it weren't).
    // The classic community-detection preprocessing step; each round
    // is one degree aggregate + one semi-join on a node-sized table.
    // Reports per-round survivor counts so convergence is visible.
    QueryDef("q_kcore3",
      (s, d) => {
        import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        // r16: the q_kcore_profile discipline applied back to the
        // original peel — AQE OFF (a fixed-round kernel gains nothing
        // from runtime re-planning, and AQE turned every exchange
        // into its own driver job: 24 jobs for 5 rounds), rounds
        // persist LAZILY (each e_r is referenced 3× by round r+1 —
        // degree digest + both keep-join sides — but the
        // InMemoryRelation shares one cached RDD, so the ONE eager
        // action at the end computes every round's shuffle exactly
        // once; the old per-round count() barriers were 6 extra
        // full-DAG actions), and every persist is released by the
        // digest. Exclusive 5-trial medians at sf0.1/32c:
        // 2.35 s / 24 jobs -> see commit (same answer, both SFs).
        // r17 AQE-scoping note (VERDICT item 7): unlike dbscan/
        // textrank there is NO separable data-sized pre-stage here —
        // the input is the prebuilt co-purchase artifact (its
        // data-sized construction runs AQE-on at prewarm) and the
        // peel rounds ARE the iteration, so the toggle already covers
        // exactly the bounded kernel. Skew bound: the peel's only
        // shuffles are the per-round degree digests (post partial-agg,
        // node-distinct keys) and keep joins on those digests — a hot
        // node collapses map-side before any exchange.
        QueryDef.withConf(s, "spark.sql.adaptive.enabled" -> "false") {
          val live = scala.collection.mutable.ArrayBuffer.empty[
            org.apache.spark.sql.DataFrame]
          var e = s.read.parquet(copurchaseEdgesOf(s, d))
            .select(col("p1"), col("p2")).persist(MEMORY_AND_DISK)
          live += e
          for (_ <- 1 to 5) {
            val deg = e.select(explode(array(col("p1"), col("p2")))
              .as("node"))
              .groupBy(col("node")).agg(count(lit(1)).as("deg"))
            val keep = deg.filter(col("deg") >= 3).select(col("node"))
            e = e.join(keep.select(col("node").as("ka")),
                col("p1") === col("ka")).drop("ka")
              .join(keep.select(col("node").as("kb")),
                col("p2") === col("kb")).drop("kb")
              .persist(MEMORY_AND_DISK)
            live += e
          }
          val res = e
            .select(explode(array(col("p1"), col("p2"))).as("node"))
            .groupBy(col("node")).agg(count(lit(1)).as("deg"))
            .agg(count(lit(1)).as("core_nodes"),
              (sum(col("deg")) / 2).cast("long").as("core_edges"),
              min(col("deg")).as("min_core_degree"))
          QueryDef.digest(s, res, live.toSeq: _*)
        }
      },
      Some("""WITH pp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |e0 AS MATERIALIZED (SELECT a.l_partkey AS p1, b.l_partkey AS p2
             |  FROM pp a JOIN pp b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |d1 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (SELECT p1 AS node FROM e0
             |  UNION ALL SELECT p2 FROM e0) GROUP BY 1),
             |e1 AS MATERIALIZED (SELECT p1, p2 FROM e0
             |  JOIN d1 a ON a.node = p1 AND a.deg >= 3
             |  JOIN d1 b ON b.node = p2 AND b.deg >= 3),
             |d2 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (SELECT p1 AS node FROM e1
             |  UNION ALL SELECT p2 FROM e1) GROUP BY 1),
             |e2 AS MATERIALIZED (SELECT p1, p2 FROM e1
             |  JOIN d2 a ON a.node = p1 AND a.deg >= 3
             |  JOIN d2 b ON b.node = p2 AND b.deg >= 3),
             |d3 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (SELECT p1 AS node FROM e2
             |  UNION ALL SELECT p2 FROM e2) GROUP BY 1),
             |e3 AS MATERIALIZED (SELECT p1, p2 FROM e2
             |  JOIN d3 a ON a.node = p1 AND a.deg >= 3
             |  JOIN d3 b ON b.node = p2 AND b.deg >= 3),
             |d4 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (SELECT p1 AS node FROM e3
             |  UNION ALL SELECT p2 FROM e3) GROUP BY 1),
             |e4 AS MATERIALIZED (SELECT p1, p2 FROM e3
             |  JOIN d4 a ON a.node = p1 AND a.deg >= 3
             |  JOIN d4 b ON b.node = p2 AND b.deg >= 3),
             |d5 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (SELECT p1 AS node FROM e4
             |  UNION ALL SELECT p2 FROM e4) GROUP BY 1),
             |e5 AS MATERIALIZED (SELECT p1, p2 FROM e4
             |  JOIN d5 a ON a.node = p1 AND a.deg >= 3
             |  JOIN d5 b ON b.node = p2 AND b.deg >= 3),
             |df AS MATERIALIZED (SELECT node, count(*) AS deg FROM (SELECT p1 AS node FROM e5
             |  UNION ALL SELECT p2 FROM e5) GROUP BY 1)
             |SELECT count(*) AS core_nodes,
             |  (sum(deg) // 2)::BIGINT AS core_edges,
             |  min(deg) AS min_core_degree
             |FROM df""".stripMargin)),

    // Pinball (quantile) loss of the seasonal-naive forecast at
    // q ∈ {0.5, 0.9} on the same 14-day holdout as the MAE/MAPE
    // backtest — the metric that grades QUANTILE forecasts
    // (under-forecasting is 9× dearer at q=0.9), standard for
    // capacity planning. Losses are exact deci-cent integers
    // (q·error scaled ×10), summed as BIGINTs; the only division is
    // the final mean.
    QueryDef("q_pinball_loss",
      (s, d) => {
        val day = graft.sources.Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .groupBy(to_date(col("ts")).as("day"))
          .agg(sum(floor(col("value") * 100).cast("long")).as("cents"))
        val w = Window.orderBy(col("day"))
        val pred = day.withColumn("pred", lag(col("cents"), 7).over(w))
        val horizon = day.agg(max(col("day")).as("max_day"))
        pred.crossJoin(broadcast(horizon))
          .filter(col("pred").isNotNull &&
            datediff(col("max_day"), col("day")) < 14)
          .withColumn("err", col("cents") - col("pred"))
          .agg(count(lit(1)).as("n_days"),
            round((sum(when(col("err") >= 0, col("err") * 5L)
              .otherwise(col("err") * -5L)) /
              count(lit(1))).cast("double") / 1000.0, 4).as("pinball_p50"),
            round((sum(when(col("err") >= 0, col("err") * 9L)
              .otherwise(col("err") * -1L)) /
              count(lit(1))).cast("double") / 1000.0, 4).as("pinball_p90"))
      },
      Some("""WITH day AS (SELECT ts::DATE AS day,
             |    sum(floor(value * 100)::BIGINT)::BIGINT AS cents
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
             |p AS (SELECT day, cents,
             |    lag(cents, 7) OVER (ORDER BY day) AS pred FROM day),
             |h AS (SELECT max(day) AS max_day FROM day),
             |e AS (SELECT cents - pred AS err FROM p, h
             |  WHERE pred IS NOT NULL AND datediff('day', day, max_day) < 14)
             |SELECT count(*) AS n_days,
             |  round((sum(CASE WHEN err >= 0 THEN 5 * err
             |    ELSE -5 * err END) / count(*))::DOUBLE / 1000.0, 4)
             |    AS pinball_p50,
             |  round((sum(CASE WHEN err >= 0 THEN 9 * err
             |    ELSE -1 * err END) / count(*))::DOUBLE / 1000.0, 4)
             |    AS pinball_p90
             |FROM e""".stripMargin)),

    // Cohort LTV accumulation: per signup-week cohort, cumulative
    // purchase revenue PER USER by cohort age (days 0–13) — the curve
    // whose flattening point sets payback windows. Cohort assignment
    // is each user's first-event day (one digest), revenue lands on
    // (cohort_week, age) cells, the running total is a window over
    // the ≤ weeks×14 cell table, and the per-user division uses the
    // cohort-size digest — exact integer cents end to end.
    QueryDef("q_cohort_ltv_curve",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
        val first = ev.groupBy(col("user_id"))
          .agg(to_date(min(col("ts"))).as("first_day"))
          .withColumn("cohort_week", date_trunc("week", col("first_day"))
            .cast("date"))
        val sizes = first.groupBy(col("cohort_week").as("cw"))
          .agg(count(lit(1)).as("cohort_users"))
        val rev = ev.filter(col("event_type") === "purchase")
          .join(first, "user_id")
          .withColumn("age", datediff(to_date(col("ts")), col("first_day")))
          .filter(col("age") < 14)
          .groupBy(col("cohort_week"), col("age"))
          .agg(sum(floor(col("value") * 100).cast("long")).as("cents"))
        val wc = Window.partitionBy(col("cohort_week")).orderBy(col("age"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        rev.withColumn("cum_cents", sum(col("cents")).over(wc))
          .join(sizes, col("cw") === col("cohort_week"))
          .select(col("cohort_week").cast("string").as("cohort_week"),
            col("age"), col("cohort_users"),
            expr("cum_cents div cohort_users").as("cum_cents_per_user"))
          .orderBy(col("cohort_week"), col("age"))
      },
      Some("""WITH f AS (SELECT user_id, min(ts)::DATE AS first_day
             |  FROM events GROUP BY 1),
             |fc AS (SELECT user_id, first_day,
             |    date_trunc('week', first_day)::DATE AS cohort_week FROM f),
             |sz AS (SELECT cohort_week, count(*) AS cohort_users
             |  FROM fc GROUP BY 1),
             |rev AS (SELECT fc.cohort_week,
             |    datediff('day', fc.first_day, e.ts::DATE) AS age,
             |    sum(floor(e.value * 100)::BIGINT)::BIGINT AS cents
             |  FROM events e JOIN fc ON e.user_id = fc.user_id
             |  WHERE e.event_type = 'purchase'
             |    AND datediff('day', fc.first_day, e.ts::DATE) < 14
             |  GROUP BY 1, 2),
             |cum AS (SELECT cohort_week, age,
             |    sum(cents) OVER (PARTITION BY cohort_week ORDER BY age
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS cum_cents
             |  FROM rev)
             |SELECT cum.cohort_week::VARCHAR AS cohort_week, cum.age,
             |  sz.cohort_users,
             |  (cum.cum_cents // sz.cohort_users)::BIGINT
             |    AS cum_cents_per_user
             |FROM cum JOIN sz ON sz.cohort_week = cum.cohort_week
             |ORDER BY cohort_week, age""".stripMargin)),

    // Bayesian bootstrap CI for mean daily revenue, 100 deterministic
    // replicates: per-replicate weights come from md5(b|day) (the
    // dp-noise / split-assign seeding idiom), so the whole resampling
    // distribution is SQL-reproducible — no RNG, no rows-only gate.
    // Each replicate mean is exact-integer Σwx/Σw; the spread stats
    // run on 6-decimal-rounded means (decimal sums, type-7 quantiles
    // both sides). The replicate loop is an explode over the DAY
    // DIGEST — 100·days rows total, independent of fact count.
    QueryDef("q_bootstrap_ci",
      (s, d) => {
        val day = graft.sources.Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .groupBy(to_date(col("ts")).as("day"))
          .agg(sum(floor(col("value") * 100).cast("long")).as("cents"))
        val reps = day.withColumn("b", explode(expr("sequence(0, 99)")))
          .withColumn("w", pmod(conv(substring(md5(concat(lit("boot:"),
            col("b"), lit("|"), col("day"))), 1, 8), 16, 10).cast("long"),
            lit(1000)) + 1)
        val means = reps.groupBy(col("b"))
          .agg(round((sum(col("w") * col("cents")) / sum(col("w")))
            .cast("double") / 100.0, 6).as("m"))
        means.agg(count(lit(1)).as("n_boot"),
          round(sqrt((sum(col("m").cast("decimal(20,6)") *
            col("m").cast("decimal(20,6)")).cast("double") -
            sum(col("m").cast("decimal(20,6)")).cast("double") *
              sum(col("m").cast("decimal(20,6)")).cast("double") /
              count(lit(1))) / (count(lit(1)) - 1)), 4).as("boot_se"),
          round(graft.functions.ExactPercentile.percentiles(col("m"),
            Seq(0.05)).getItem(0), 4).as("ci_lo"),
          round(graft.functions.ExactPercentile.percentiles(col("m"),
            Seq(0.95)).getItem(0), 4).as("ci_hi"))
      },
      Some("""WITH day AS (SELECT ts::DATE AS day,
             |    sum(floor(value * 100)::BIGINT)::BIGINT AS cents
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
             |reps AS (SELECT t.b, day.day, day.cents,
             |    ('0x' || substring(md5('boot:' || t.b || '|' || day.day),
             |      1, 8))::BIGINT % 1000 + 1 AS w
             |  FROM day CROSS JOIN (SELECT unnest(range(0, 100)) AS b) t),
             |mn AS (SELECT b, round((sum(w * cents) / sum(w))::DOUBLE
             |    / 100.0, 6) AS m
             |  FROM reps GROUP BY 1)
             |SELECT count(*) AS n_boot,
             |  round(sqrt((sum(m::DECIMAL(20,6) * m::DECIMAL(20,6))::DOUBLE
             |    - sum(m::DECIMAL(20,6))::DOUBLE * sum(m::DECIMAL(20,6))::DOUBLE
             |      / count(*)) / (count(*) - 1)), 4) AS boot_se,
             |  round(quantile_cont(m, 0.05), 4) AS ci_lo,
             |  round(quantile_cont(m, 0.95), 4) AS ci_hi
             |FROM mn""".stripMargin)),

    // Right-to-be-forgotten purge with audit: rewrite the fact table
    // without the deletion-request users (every 97th id — a
    // deterministic stand-in for the request list) and emit the
    // compliance audit row: purged/remaining counts and a read-back
    // proof that zero target rows survive. The rewrite is the real
    // timed operation (anti-join + parquet write, the same shape at
    // any scale — per-partition filtering, no shuffle); the oracle
    // reproduces every count from the source table.
    QueryDef("q_gdpr_purge",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
        val out = Artifacts.output(d, "gdpr")
        ev.filter(pmod(col("user_id"), lit(97)) =!= 0)
          .write.mode("overwrite").parquet(out)
        val back = s.read.parquet(out)
        val src = ev.agg(count(lit(1)).as("n_total"),
          sum(when(pmod(col("user_id"), lit(97)) === 0, 1L).otherwise(0L))
            .as("n_purged"),
          countDistinct(when(pmod(col("user_id"), lit(97)) === 0,
            col("user_id"))).as("n_target_users"))
        val audit = back.agg(count(lit(1)).as("n_remaining"),
          sum(when(pmod(col("user_id"), lit(97)) === 0, 1L).otherwise(0L))
            .as("leftover_target_rows"))
        src.crossJoin(audit)
          .select(col("n_total"), col("n_purged"), col("n_target_users"),
            col("n_remaining"), col("leftover_target_rows"))
      },
      Some("""SELECT count(*) AS n_total,
             |  sum(CASE WHEN user_id % 97 = 0 THEN 1 ELSE 0 END)::BIGINT
             |    AS n_purged,
             |  count(DISTINCT CASE WHEN user_id % 97 = 0 THEN user_id END)
             |    AS n_target_users,
             |  sum(CASE WHEN user_id % 97 <> 0 THEN 1 ELSE 0 END)::BIGINT
             |    AS n_remaining,
             |  0::BIGINT AS leftover_target_rows
             |FROM events""".stripMargin)),

    // One-way ANOVA F across the five event-type value distributions
    // — the multi-group mean test the pairwise family (Welch/z/KS)
    // can't answer without 10 comparisons. Between/within sums of
    // squares come from per-group exact integer (n, Σv, Σv²) digests:
    // SSW = Σ(Q_g − S_g²/n_g), SSB = Σ S_g²/n_g − S²/n — scalar
    // algebra on one conditional-aggregate scan, F exact to the final
    // two divisions.
    QueryDef("q_anova_f",
      (s, d) => {
        val g = graft.sources.Tables.events(s, d)
          .select(col("event_type"),
            floor(col("value") * 1000).cast("long").as("vm"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("ng"), sum(col("vm")).as("sg"),
            sum(col("vm") * col("vm")).as("qg"))
        val sgd = col("sg").cast("double")
        val agg = g.agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
          sum(sgd).as("s"),
          sum(col("qg").cast("double")).as("q"),
          sum(sgd * sgd / col("ng").cast("double")).as("sb"))
        agg.select(col("k"), col("n"),
            (col("sb") - col("s") * col("s") / col("n").cast("double"))
              .as("ssb0"),
            (col("q") - col("sb")).as("ssw0"))
          .select(col("k"), col("n"),
            round(col("ssb0") / 1e6, 2).as("ss_between"),
            round(col("ssw0") / 1e6, 2).as("ss_within"),
            round((col("ssb0") / (col("k") - 1).cast("double")) /
              (col("ssw0") / (col("n") - col("k")).cast("double")), 6)
              .as("f_stat"))
      },
      Some("""WITH g AS (SELECT event_type, count(*)::BIGINT AS ng,
             |    sum(floor(value * 1000)::BIGINT)::BIGINT AS sg,
             |    sum(floor(value * 1000)::BIGINT
             |      * floor(value * 1000)::BIGINT)::BIGINT AS qg
             |  FROM events GROUP BY 1),
             |a AS (SELECT count(*)::BIGINT AS k, sum(ng)::BIGINT AS n,
             |    sum(sg::DOUBLE) AS s, sum(qg::DOUBLE) AS q,
             |    sum(sg::DOUBLE * sg::DOUBLE / ng::DOUBLE) AS sb
             |  FROM g),
             |e AS (SELECT k, n, sb - s * s / n::DOUBLE AS ssb0,
             |    q - sb AS ssw0 FROM a)
             |SELECT k, n, round(ssb0 / 1e6, 2) AS ss_between,
             |  round(ssw0 / 1e6, 2) AS ss_within,
             |  round((ssb0 / (k - 1)::DOUBLE)
             |    / (ssw0 / (n - k)::DOUBLE), 6) AS f_stat
             |FROM e""".stripMargin)),

    // Burstiness coefficient B = (σ−μ)/(σ+μ) of inter-event gaps per
    // event type — the dimensionless clumping measure (−1 periodic,
    // 0 Poisson, →1 bursty) that locates each stream on the
    // regular↔bursty axis; complements the runs test (order) and ACF
    // (memory). Gaps in exact seconds from one per-type lag; moments
    // are BIGINT Σ/Σ²; σ touches a double only inside the final
    // sqrt.
    QueryDef("q_interevent_burstiness",
      (s, d) => {
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("ts"), col("event_id"))
        val gaps = graft.sources.Tables.events(s, d)
          .withColumn("prev", lag(col("ts"), 1).over(w))
          .filter(col("prev").isNotNull)
          .select(col("event_type"),
            expr("(unix_micros(ts) - unix_micros(prev)) div 1000000")
              .as("gap_s"))
        gaps.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_gaps"), sum(col("gap_s")).as("sg"),
            sum(col("gap_s") * col("gap_s")).as("qg"))
          .select(col("event_type"), col("n_gaps"),
            expr("sg div n_gaps").as("mean_gap_s"),
            round((sqrt((col("qg").cast("double") -
              col("sg").cast("double") * col("sg").cast("double") /
                col("n_gaps").cast("double")) /
              col("n_gaps").cast("double")) -
              col("sg").cast("double") / col("n_gaps").cast("double")) /
              (sqrt((col("qg").cast("double") -
                col("sg").cast("double") * col("sg").cast("double") /
                  col("n_gaps").cast("double")) /
                col("n_gaps").cast("double")) +
                col("sg").cast("double") / col("n_gaps").cast("double")), 6)
              .as("burstiness"))
          .orderBy(col("event_type"))
      },
      Some("""WITH gp AS (SELECT event_type,
             |    (epoch_us(ts) - epoch_us(lag(ts) OVER (
             |      PARTITION BY event_type ORDER BY ts, event_id)))
             |      // 1000000 AS gap_s
             |  FROM events),
             |g AS (SELECT event_type, count(*)::BIGINT AS n_gaps,
             |    sum(gap_s)::BIGINT AS sg, sum(gap_s * gap_s)::BIGINT AS qg
             |  FROM gp WHERE gap_s IS NOT NULL GROUP BY 1),
             |e AS (SELECT event_type, n_gaps, sg // n_gaps AS mean_gap_s,
             |    sqrt((qg::DOUBLE - sg::DOUBLE * sg::DOUBLE / n_gaps::DOUBLE)
             |      / n_gaps::DOUBLE) AS sd,
             |    sg::DOUBLE / n_gaps::DOUBLE AS mu
             |  FROM g)
             |SELECT event_type, n_gaps, mean_gap_s,
             |  round((sd - mu) / (sd + mu), 6) AS burstiness
             |FROM e ORDER BY event_type""".stripMargin)),

    // Freshness/staleness report per stream: last-seen lag behind the
    // corpus watermark and the share of rows landed in the trailing
    // 24 h — the first data-quality panel an ingestion on-call reads.
    // Two digests (per-type extremes+counts, corpus watermark) off
    // one scan; lags in exact integer seconds off the micros grid.
    QueryDef("q_freshness_report",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
        val wm = ev.agg(max(col("ts")).as("wm"))
        ev.crossJoin(broadcast(wm))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_rows"),
            max(col("ts")).cast("string").as("last_seen"),
            expr("(unix_micros(max(wm)) - unix_micros(max(ts))) div 1000000")
              .as("lag_s"),
            sum(when(col("ts") >= col("wm") - expr("interval 24 hours"), 1L)
              .otherwise(0L)).as("rows_last_24h"))
          .withColumn("share_last_24h_ppm",
            expr("rows_last_24h * 1000000 div n_rows"))
          .orderBy(col("event_type"))
      },
      Some("""WITH wm AS (SELECT max(ts) AS wm FROM events)
             |SELECT event_type, count(*) AS n_rows,
             |  max(ts)::VARCHAR AS last_seen,
             |  (epoch_us(max(wm)) - epoch_us(max(ts))) // 1000000 AS lag_s,
             |  sum(CASE WHEN ts >= wm - INTERVAL 24 HOURS
             |    THEN 1 ELSE 0 END)::BIGINT AS rows_last_24h,
             |  (sum(CASE WHEN ts >= wm - INTERVAL 24 HOURS THEN 1 ELSE 0 END)
             |    * 1000000 // count(*))::BIGINT AS share_last_24h_ppm
             |FROM events, wm GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // Distribution-free 95% CI for the MEDIAN via order statistics:
    // the binomial/normal rank bounds L = ⌊(n−1.96√n)/2⌋ and
    // U = ⌈(n+1.96√n)/2⌉+1, read off the cumulative value digest —
    // the CI that needs no variance estimate and no symmetry
    // assumption (the mean-CI machinery says nothing about a
    // median). Ranks are floored integers from one count digest;
    // the bounding VALUES come from a min-over-threshold on the
    // ≤ |support| cumulative table, never a global sort of rows.
    QueryDef("q_median_ci",
      (s, d) => {
        val vals = graft.sources.Tables.events(s, d)
          .select(floor(col("value") * 1000).cast("long").as("vm"))
        val cells = vals.groupBy(col("vm")).agg(count(lit(1)).as("c"))
          .withColumn("cum", sum(col("c")).over(
            Window.orderBy(col("vm"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val n = vals.agg(count(lit(1)).as("n"))
        val ranks = n.select(col("n"),
          floor((col("n").cast("double") - lit(1.96) *
            sqrt(col("n").cast("double"))) / 2.0).cast("long").as("rlo"),
          (ceil((col("n").cast("double") + lit(1.96) *
            sqrt(col("n").cast("double"))) / 2.0).cast("long") + 1)
            .as("rhi"))
        cells.crossJoin(broadcast(ranks))
          .agg(max(col("n")).as("n"),
            round(min(when(col("cum") * 2 >= col("n"), col("vm")))
              .cast("double") / 1000.0, 3).as("median_lo_def"),
            round(min(when(col("cum") >= col("rlo"), col("vm")))
              .cast("double") / 1000.0, 3).as("ci_lo"),
            round(min(when(col("cum") >= col("rhi"), col("vm")))
              .cast("double") / 1000.0, 3).as("ci_hi"))
      },
      Some("""WITH v AS (SELECT floor(value * 1000)::BIGINT AS vm FROM events),
             |cells AS (SELECT vm, count(*)::BIGINT AS c FROM v GROUP BY 1),
             |cc AS (SELECT vm, sum(c) OVER (ORDER BY vm
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             |  FROM cells),
             |g AS (SELECT count(*)::BIGINT AS n FROM v),
             |r AS (SELECT n,
             |    floor((n::DOUBLE - 1.96 * sqrt(n::DOUBLE)) / 2.0)::BIGINT
             |      AS rlo,
             |    ceil((n::DOUBLE + 1.96 * sqrt(n::DOUBLE)) / 2.0)::BIGINT + 1
             |      AS rhi
             |  FROM g)
             |SELECT max(r.n) AS n,
             |  round(min(CASE WHEN cum * 2 >= r.n THEN vm END)::DOUBLE
             |    / 1000.0, 3) AS median_lo_def,
             |  round(min(CASE WHEN cum >= r.rlo THEN vm END)::DOUBLE
             |    / 1000.0, 3) AS ci_lo,
             |  round(min(CASE WHEN cum >= r.rhi THEN vm END)::DOUBLE
             |    / 1000.0, 3) AS ci_hi
             |FROM cc, r""".stripMargin)),

    // Index of dispersion (Fano factor) of DAILY event counts per
    // type: variance-to-mean ratio of the per-day count series — the
    // Poisson-ness check an on-call runs before alerting on "bursty"
    // traffic (VMR≈1 Poisson, >1 overdispersed/clumped, <1 regular).
    // Distinct from q_interevent_burstiness (gap CV): this one works
    // on binned COUNTS, the form that survives pre-aggregated rollups.
    // Counts are integers, so Σc and Σc² are exact and the variance
    // is one double division at the end — partition-order free.
    QueryDef("q_dispersion_index",
      (s, d) => {
        val dc = graft.sources.Tables.events(s, d)
          .groupBy(col("event_type"), date_trunc("day", col("ts")).as("dy"))
          .agg(count(lit(1)).as("c"))
        dc.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_days"), sum(col("c")).as("sc"),
            sum(col("c") * col("c")).as("sc2"))
          .select(col("event_type"), col("n_days"),
            round(col("sc").cast("double") / col("n_days").cast("double"),
              6).as("mean_per_day"),
            round(((col("n_days").cast("double") * col("sc2").cast("double")
              - col("sc").cast("double") * col("sc").cast("double")) /
              (col("n_days").cast("double") *
                (col("n_days").cast("double") - 1.0))) /
              (col("sc").cast("double") / col("n_days").cast("double")),
              6).as("vmr"),
            round((col("n_days").cast("double") - 1.0) *
              (((col("n_days").cast("double") * col("sc2").cast("double")
                - col("sc").cast("double") * col("sc").cast("double")) /
                (col("n_days").cast("double") *
                  (col("n_days").cast("double") - 1.0))) /
                (col("sc").cast("double") / col("n_days").cast("double"))),
              4).as("chisq_stat"))
          .orderBy(col("event_type"))
      },
      Some("""WITH dc AS (SELECT event_type, date_trunc('day', ts) AS dy,
             |    count(*)::BIGINT AS c
             |  FROM events GROUP BY 1, 2),
             |g AS (SELECT event_type, count(*)::BIGINT AS n_days,
             |    sum(c)::BIGINT AS sc, sum(c * c)::BIGINT AS sc2
             |  FROM dc GROUP BY 1)
             |SELECT event_type, n_days,
             |  round(sc::DOUBLE / n_days::DOUBLE, 6) AS mean_per_day,
             |  round(((n_days::DOUBLE * sc2::DOUBLE - sc::DOUBLE * sc::DOUBLE)
             |    / (n_days::DOUBLE * (n_days::DOUBLE - 1.0)))
             |    / (sc::DOUBLE / n_days::DOUBLE), 6) AS vmr,
             |  round((n_days::DOUBLE - 1.0) *
             |    (((n_days::DOUBLE * sc2::DOUBLE - sc::DOUBLE * sc::DOUBLE)
             |      / (n_days::DOUBLE * (n_days::DOUBLE - 1.0)))
             |      / (sc::DOUBLE / n_days::DOUBLE)), 4) AS chisq_stat
             |FROM g ORDER BY event_type""".stripMargin)),

    // Jarque-Bera normality test per event type: JB = n/6·(S² +
    // (K−3)²/4) from skewness S and kurtosis K — the cheapest
    // distribution-shape gate (is this metric even close to normal
    // before I quote a mean ± 1.96σ CI on it?). Raw power sums
    // Σv..Σv⁴ run on the milli-grid as EXACT decimal integers (v⁴ ≈
    // 1e23 overflows BIGINT → decimal(38,0) / HUGEINT); the central-
    // moment algebra is identical double arithmetic on both engines
    // afterwards. S and K are scale-free, so the milli-grid
    // discretization cancels out of the units entirely.
    QueryDef("q_jarque_bera",
      (s, d) => {
        val v = graft.sources.Tables.events(s, d)
          .select(col("event_type"),
            floor(col("value") * 1000).cast("decimal(38,0)").as("vm"))
        val p = v.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("vm")).as("s1"),
            sum(col("vm") * col("vm")).as("s2"),
            sum(col("vm") * col("vm") * col("vm")).as("s3"),
            sum(col("vm") * col("vm") * col("vm") * col("vm")).as("s4"))
        val m = p.select(col("event_type"), col("n"),
          (col("s1").cast("double") / col("n").cast("double")).as("mu"),
          (col("s2").cast("double") / col("n").cast("double")).as("r2"),
          (col("s3").cast("double") / col("n").cast("double")).as("r3"),
          (col("s4").cast("double") / col("n").cast("double")).as("r4"))
        val c = m.select(col("event_type"), col("n"),
          (col("r2") - col("mu") * col("mu")).as("m2"),
          (col("r3") - lit(3.0) * col("mu") * col("r2") +
            lit(2.0) * col("mu") * col("mu") * col("mu")).as("m3"),
          (col("r4") - lit(4.0) * col("mu") * col("r3") +
            lit(6.0) * col("mu") * col("mu") * col("r2") -
            lit(3.0) * col("mu") * col("mu") * col("mu") * col("mu"))
            .as("m4"))
        c.select(col("event_type"), col("n"),
          round(col("m3") / (col("m2") * sqrt(col("m2"))), 6)
            .as("skewness"),
          round(col("m4") / (col("m2") * col("m2")), 6).as("kurtosis"),
          round(col("n").cast("double") / 6.0 *
            ((col("m3") / (col("m2") * sqrt(col("m2")))) *
              (col("m3") / (col("m2") * sqrt(col("m2")))) +
              (col("m4") / (col("m2") * col("m2")) - 3.0) *
                (col("m4") / (col("m2") * col("m2")) - 3.0) / 4.0), 4)
            .as("jb_stat"))
          .orderBy(col("event_type"))
      },
      Some("""WITH v AS (SELECT event_type,
             |    floor(value * 1000)::HUGEINT AS vm FROM events),
             |p AS (SELECT event_type, count(*)::BIGINT AS n,
             |    sum(vm) AS s1, sum(vm * vm) AS s2,
             |    sum(vm * vm * vm) AS s3, sum(vm * vm * vm * vm) AS s4
             |  FROM v GROUP BY 1),
             |m AS (SELECT event_type, n, s1::DOUBLE / n::DOUBLE AS mu,
             |    s2::DOUBLE / n::DOUBLE AS r2, s3::DOUBLE / n::DOUBLE AS r3,
             |    s4::DOUBLE / n::DOUBLE AS r4
             |  FROM p),
             |c AS (SELECT event_type, n, r2 - mu * mu AS m2,
             |    r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3,
             |    r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2
             |      - 3.0 * mu * mu * mu * mu AS m4
             |  FROM m)
             |SELECT event_type, n,
             |  round(m3 / (m2 * sqrt(m2)), 6) AS skewness,
             |  round(m4 / (m2 * m2), 6) AS kurtosis,
             |  round(n::DOUBLE / 6.0 *
             |    ((m3 / (m2 * sqrt(m2))) * (m3 / (m2 * sqrt(m2)))
             |     + (m4 / (m2 * m2) - 3.0) * (m4 / (m2 * m2) - 3.0) / 4.0),
             |    4) AS jb_stat
             |FROM c ORDER BY event_type""".stripMargin)),

    // Kruskal-Wallis H: the rank-based (distribution-free) k-group
    // test — the nonparametric twin of q_anova_f for when the value
    // distribution is nowhere near normal. Average ranks come off the
    // shared milli-grid count digest (2·rank = 2·below + t + 1, an
    // integer, so per-group rank sums are EXACT decimals); the tie
    // correction C = 1 − Σ(t³−t)/(N³−N) uses the same digest. The
    // only float reduction (Σ R²/n over k=5 groups) goes through the
    // rounded-term decimal-sum idiom so partition order can't move
    // the last bit. Rank window runs over the ≤|support| digest,
    // never over rows.
    QueryDef("q_kruskal_wallis",
      (s, d) => {
        val v = graft.sources.Tables.events(s, d)
          .select(col("event_type").as("g"),
            floor(col("value") * 1000).cast("long").as("vm"))
        val cell = v.groupBy(col("vm")).agg(count(lit(1)).as("t"))
        val cc = cell.withColumn("below",
          coalesce(sum(col("t")).over(Window.orderBy(col("vm"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        val gc = v.groupBy(col("g"), col("vm"))
          .agg(count(lit(1)).as("c"))
        val r = gc.join(broadcast(cc), "vm")
          .groupBy(col("g"))
          .agg(sum(col("c").cast("decimal(38,0)") *
            (lit(2L) * col("below") + col("t") + 1L).cast("decimal(38,0)"))
            .as("r2sum"), sum(col("c")).as("ng"))
        val ties = cell.agg(sum(col("t").cast("decimal(38,0)") *
          col("t").cast("decimal(38,0)") * col("t").cast("decimal(38,0)")
          - col("t").cast("decimal(38,0)")).as("tsum"))
        val h = r.crossJoin(broadcast(ties))
          .agg(sum(col("ng")).as("n"), count(lit(1)).as("k"),
            sum(round((col("r2sum").cast("double") / 2.0) *
              (col("r2sum").cast("double") / 2.0) /
              col("ng").cast("double"), 2).cast("decimal(38,6)"))
              .as("sr2n"),
            max(col("tsum")).as("tsum"))
        h.select(col("n"), col("k"),
          round(lit(12.0) / (col("n").cast("double") *
            (col("n").cast("double") + 1.0)) *
            col("sr2n").cast("double") -
            lit(3.0) * (col("n").cast("double") + 1.0), 4).as("h_stat"),
          round(lit(1.0) - col("tsum").cast("double") /
            (col("n").cast("double") * col("n").cast("double") *
              col("n").cast("double") - col("n").cast("double")), 6)
            .as("tie_correction"),
          round((lit(12.0) / (col("n").cast("double") *
            (col("n").cast("double") + 1.0)) *
            col("sr2n").cast("double") -
            lit(3.0) * (col("n").cast("double") + 1.0)) /
            (lit(1.0) - col("tsum").cast("double") /
              (col("n").cast("double") * col("n").cast("double") *
                col("n").cast("double") - col("n").cast("double"))), 4)
            .as("h_corrected"))
      },
      Some("""WITH v AS (SELECT event_type AS g,
             |    floor(value * 1000)::BIGINT AS vm FROM events),
             |cell AS (SELECT vm, count(*)::BIGINT AS t FROM v GROUP BY 1),
             |cc AS (SELECT vm, t, coalesce(sum(t) OVER (ORDER BY vm
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |    AS below
             |  FROM cell),
             |gc AS (SELECT g, vm, count(*)::BIGINT AS c FROM v GROUP BY 1, 2),
             |r AS (SELECT g,
             |    sum(c::HUGEINT * (2 * below + t + 1)::HUGEINT) AS r2sum,
             |    sum(c)::BIGINT AS ng
             |  FROM gc JOIN cc USING (vm) GROUP BY 1),
             |ties AS (SELECT sum(t::HUGEINT * t::HUGEINT * t::HUGEINT
             |    - t::HUGEINT) AS tsum FROM cell),
             |h AS (SELECT sum(ng)::BIGINT AS n, count(*)::BIGINT AS k,
             |    sum(round((r2sum::DOUBLE / 2.0) * (r2sum::DOUBLE / 2.0)
             |      / ng::DOUBLE, 2)::DECIMAL(38,6)) AS sr2n,
             |    max(tsum) AS tsum
             |  FROM r, ties)
             |SELECT n, k,
             |  round(12.0 / (n::DOUBLE * (n::DOUBLE + 1.0)) * sr2n::DOUBLE
             |    - 3.0 * (n::DOUBLE + 1.0), 4) AS h_stat,
             |  round(1.0 - tsum::DOUBLE
             |    / (n::DOUBLE * n::DOUBLE * n::DOUBLE - n::DOUBLE), 6)
             |    AS tie_correction,
             |  round((12.0 / (n::DOUBLE * (n::DOUBLE + 1.0)) * sr2n::DOUBLE
             |    - 3.0 * (n::DOUBLE + 1.0))
             |    / (1.0 - tsum::DOUBLE
             |      / (n::DOUBLE * n::DOUBLE * n::DOUBLE - n::DOUBLE)), 4)
             |    AS h_corrected
             |FROM h""".stripMargin)),

    // Nelson-Aalen cumulative-hazard estimator over the same
    // conversion-as-death framing as q_survival_at_risk: H(t) =
    // Σ_{tᵢ≤t} dᵢ/nᵢ with Greenwood-style variance Σ dᵢ/nᵢ². The
    // hazard view is what the KM table can't give you directly — a
    // flat H(t) slope says conversion propensity stopped, long before
    // the survival curve visibly bends. The risk-set window runs over
    // the ≤|distinct lifetimes| digest; the running float sum is an
    // ORDER-fixed sequential window (identical IEEE accumulation in
    // both engines), never a partition-order reduction.
    QueryDef("q_nelson_aalen",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
        val perUser = ev.groupBy(col("user_id"))
          .agg(min(to_date(col("ts"))).as("first_d"))
        val conv = ev.filter(col("event_type") === "purchase" &&
            col("value") >= 90)
          .groupBy(col("user_id").as("cu"))
          .agg(min(to_date(col("ts"))).as("conv_d"))
        val horizon = ev.agg(max(to_date(col("ts"))).as("max_d"))
        val byT = perUser
          .join(conv, col("user_id") === col("cu"), "left")
          .crossJoin(broadcast(horizon))
          .withColumn("dead", col("conv_d").isNotNull.cast("long"))
          .withColumn("lifetime",
            datediff(coalesce(col("conv_d"), col("max_d")),
              col("first_d")))
          .groupBy(col("lifetime"))
          .agg(sum(col("dead")).as("nd"),
            sum(lit(1L) - col("dead")).as("nc"))
        val wDesc = Window.orderBy(col("lifetime").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAsc = Window.orderBy(col("lifetime"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        byT.withColumn("n_risk", sum(col("nd") + col("nc")).over(wDesc))
          .withColumn("h_term",
            col("nd").cast("double") / col("n_risk").cast("double"))
          .withColumn("v_term",
            col("nd").cast("double") / (col("n_risk").cast("double") *
              col("n_risk").cast("double")))
          .withColumn("cum_hazard", sum(col("h_term")).over(wAsc))
          .withColumn("var_hazard", sum(col("v_term")).over(wAsc))
          .filter(col("nd") > 0)
          .select(col("lifetime").as("t_days"), col("n_risk"),
            col("nd").as("n_deaths"),
            round(col("cum_hazard"), 6).as("cum_hazard"),
            round(col("var_hazard"), 8).as("var_hazard"))
          .orderBy(col("t_days"))
      },
      Some("""WITH pu AS (SELECT user_id, min(ts::DATE) AS first_d
             |  FROM events GROUP BY 1),
             |conv AS (SELECT user_id, min(ts::DATE) AS conv_d FROM events
             |  WHERE event_type = 'purchase' AND value >= 90 GROUP BY 1),
             |h AS (SELECT max(ts::DATE) AS max_d FROM events),
             |byt AS (SELECT
             |    datediff('day', first_d, coalesce(conv_d, max_d))
             |      AS lifetime,
             |    sum(CASE WHEN conv_d IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
             |      AS nd,
             |    sum(CASE WHEN conv_d IS NULL THEN 1 ELSE 0 END)::BIGINT
             |      AS nc
             |  FROM pu LEFT JOIN conv USING (user_id), h GROUP BY 1),
             |r AS (SELECT lifetime, nd,
             |    sum(nd + nc) OVER (ORDER BY lifetime DESC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      ::BIGINT AS n_risk
             |  FROM byt),
             |na AS (SELECT lifetime, nd, n_risk,
             |    sum(nd::DOUBLE / n_risk::DOUBLE) OVER (ORDER BY lifetime
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS cum_hazard,
             |    sum(nd::DOUBLE / (n_risk::DOUBLE * n_risk::DOUBLE))
             |      OVER (ORDER BY lifetime
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS var_hazard
             |  FROM r)
             |SELECT lifetime AS t_days, n_risk, nd AS n_deaths,
             |  round(cum_hazard, 6) AS cum_hazard,
             |  round(var_hazard, 8) AS var_hazard
             |FROM na WHERE nd > 0 ORDER BY t_days""".stripMargin)),

    // Two-group log-rank test: do the two experiment arms (assigned by
    // user-id parity, a degenerate-proof split at every SF) convert on
    // different hazard curves? At each death time: E₁ = d·n₁/n,
    // V = d·(n₁/n)(1−n₁/n)(n−d)/(n−1); χ²₁ = (Σd₁−ΣE₁)²/ΣV. The risk
    // sets are desc-cumulative integer sums over one full-outer
    // lifetime digest; the E and V float terms go through the
    // rounded-term decimal-sum idiom so the Σ over death times is
    // partition-order exact.
    QueryDef("q_logrank_test",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
        val perUser = ev.groupBy(col("user_id"))
          .agg(min(to_date(col("ts"))).as("first_d"))
        val conv = ev.filter(col("event_type") === "purchase" &&
            col("value") >= 90)
          .groupBy(col("user_id").as("cu"))
          .agg(min(to_date(col("ts"))).as("conv_d"))
        val horizon = ev.agg(max(to_date(col("ts"))).as("max_d"))
        val byT = perUser
          .join(conv, col("user_id") === col("cu"), "left")
          .crossJoin(broadcast(horizon))
          .withColumn("g1", (col("user_id") % 2 === 0).cast("long"))
          .withColumn("dead", col("conv_d").isNotNull.cast("long"))
          .withColumn("lifetime",
            datediff(coalesce(col("conv_d"), col("max_d")),
              col("first_d")))
          .groupBy(col("lifetime"))
          .agg(sum(col("g1") * col("dead")).as("d1"),
            sum(col("g1") * (lit(1L) - col("dead"))).as("c1"),
            sum((lit(1L) - col("g1")) * col("dead")).as("d2"),
            sum((lit(1L) - col("g1")) * (lit(1L) - col("dead")))
              .as("c2"))
        val wDesc = Window.orderBy(col("lifetime").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val terms = byT
          .withColumn("n1", sum(col("d1") + col("c1")).over(wDesc))
          .withColumn("n_all", sum(col("d1") + col("c1") + col("d2") +
            col("c2")).over(wDesc))
          .withColumn("dd", col("d1") + col("d2"))
          .filter(col("dd") > 0 && col("n_all") > 1)
          .withColumn("e1", when(col("n_all") > 0,
            col("dd").cast("double") *
              col("n1").cast("double") / col("n_all").cast("double")))
          .withColumn("vt", when(col("n_all") > 1,
            col("dd").cast("double") *
              (col("n1").cast("double") / col("n_all").cast("double")) *
              (lit(1.0) - col("n1").cast("double") /
                col("n_all").cast("double")) *
              (col("n_all").cast("double") - col("dd").cast("double")) /
              (col("n_all").cast("double") - 1.0)))
        terms.agg(sum(col("d1")).as("obs1"),
            sum(round(col("e1"), 9).cast("decimal(38,12)")).as("exp1"),
            sum(round(col("vt"), 9).cast("decimal(38,12)")).as("vv"))
          .select(col("obs1"),
            round(col("exp1").cast("double"), 4).as("expected1"),
            round((col("obs1").cast("double") -
              col("exp1").cast("double")) *
              (col("obs1").cast("double") -
                col("exp1").cast("double")) /
              col("vv").cast("double"), 4).as("chisq"))
      },
      Some("""WITH pu AS (SELECT user_id, min(ts::DATE) AS first_d
             |  FROM events GROUP BY 1),
             |conv AS (SELECT user_id, min(ts::DATE) AS conv_d FROM events
             |  WHERE event_type = 'purchase' AND value >= 90 GROUP BY 1),
             |h AS (SELECT max(ts::DATE) AS max_d FROM events),
             |lived AS (SELECT
             |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS g1,
             |    CASE WHEN conv_d IS NOT NULL THEN 1 ELSE 0 END AS dead,
             |    datediff('day', first_d, coalesce(conv_d, max_d))
             |      AS lifetime
             |  FROM pu LEFT JOIN conv USING (user_id), h),
             |byt AS (SELECT lifetime,
             |    sum(g1 * dead)::BIGINT AS d1,
             |    sum(g1 * (1 - dead))::BIGINT AS c1,
             |    sum((1 - g1) * dead)::BIGINT AS d2,
             |    sum((1 - g1) * (1 - dead))::BIGINT AS c2
             |  FROM lived GROUP BY 1),
             |rs AS (SELECT lifetime, d1, d2,
             |    sum(d1 + c1) OVER (ORDER BY lifetime DESC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      ::BIGINT AS n1,
             |    sum(d1 + c1 + d2 + c2) OVER (ORDER BY lifetime DESC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      ::BIGINT AS n_all
             |  FROM byt),
             |t AS (SELECT d1, d1 + d2 AS dd, n1, n_all,
             |    (d1 + d2)::DOUBLE * n1::DOUBLE / n_all::DOUBLE AS e1,
             |    (d1 + d2)::DOUBLE * (n1::DOUBLE / n_all::DOUBLE)
             |      * (1.0 - n1::DOUBLE / n_all::DOUBLE)
             |      * (n_all::DOUBLE - (d1 + d2)::DOUBLE)
             |      / (n_all::DOUBLE - 1.0) AS vt
             |  FROM rs WHERE d1 + d2 > 0 AND n_all > 1),
             |g AS (SELECT sum(d1)::BIGINT AS obs1,
             |    sum(round(e1, 9)::DECIMAL(38,12)) AS exp1,
             |    sum(round(vt, 9)::DECIMAL(38,12)) AS vv
             |  FROM t)
             |SELECT obs1, round(exp1::DOUBLE, 4) AS expected1,
             |  round((obs1::DOUBLE - exp1::DOUBLE)
             |    * (obs1::DOUBLE - exp1::DOUBLE) / vv::DOUBLE, 4) AS chisq
             |FROM g""".stripMargin)),

    // Order-total reconciliation: recompute each order's value from
    // its lineitems (Σ round(extprice·(1−disc)·(1+tax)) in exact
    // cents) and report, per order status, how many orders break
    // against the header o_totalprice — the double-entry audit every
    // finance pipeline runs nightly. On this synthetic data the
    // headers deliberately do NOT reconcile, so the interesting
    // output is the break-rate and delta magnitudes, all integer-
    // exact until two final divisions. Aggregate-then-join shape:
    // lineitem collapses to per-order cents BEFORE meeting orders.
    QueryDef("q_total_reconcile",
      (s, d) => {
        val li = graft.sources.Tables.load(s, d, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(sum(round(col("l_extendedprice") *
            (lit(1.0) - col("l_discount")) *
            (lit(1.0) + col("l_tax")) * 100).cast("long")).as("li_cents"))
        val o = graft.sources.Tables.load(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"),
            round(col("o_totalprice") * 100).cast("long").as("hdr_cents"))
        o.join(li, col("o_orderkey") === col("l_orderkey"), "left")
          .withColumn("delta",
            when(col("li_cents").isNotNull,
              abs(col("hdr_cents") - col("li_cents"))))
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("li_cents").isNull.cast("long")).as("n_no_lines"),
            sum((col("delta") > 1).cast("long")).as("n_breaks"),
            round(sum(when(col("delta").isNotNull, col("delta"))
              .otherwise(0L)).cast("double") /
              sum(col("li_cents").isNotNull.cast("long"))
                .cast("double"), 2).as("mean_abs_delta_cents"),
            max(col("delta")).as("max_abs_delta_cents"))
          .orderBy(col("o_orderstatus"))
      },
      Some("""WITH li AS (SELECT l_orderkey,
             |    sum(round(l_extendedprice * (1.0 - l_discount)
             |      * (1.0 + l_tax) * 100)::BIGINT)::BIGINT AS li_cents
             |  FROM lineitem GROUP BY 1),
             |j AS (SELECT o_orderstatus,
             |    round(o_totalprice * 100)::BIGINT AS hdr_cents, li_cents,
             |    CASE WHEN li_cents IS NOT NULL
             |      THEN abs(round(o_totalprice * 100)::BIGINT - li_cents)
             |      END AS delta
             |  FROM orders LEFT JOIN li ON o_orderkey = l_orderkey)
             |SELECT o_orderstatus, count(*)::BIGINT AS n_orders,
             |  sum(CASE WHEN li_cents IS NULL THEN 1 ELSE 0 END)::BIGINT
             |    AS n_no_lines,
             |  sum(CASE WHEN delta > 1 THEN 1 ELSE 0 END)::BIGINT
             |    AS n_breaks,
             |  round(sum(coalesce(delta, 0))::DOUBLE
             |    / sum(CASE WHEN li_cents IS NOT NULL THEN 1 ELSE 0 END)
             |      ::DOUBLE, 2) AS mean_abs_delta_cents,
             |  max(delta)::BIGINT AS max_abs_delta_cents
             |FROM j GROUP BY 1 ORDER BY o_orderstatus""".stripMargin)),

    // Shewhart individuals & moving-range (I-MR) control chart on
    // daily purchase revenue: σ̂ = mean(MR)/d₂ (d₂=1.128 for n=2), so
    // the limits are x̄ ± 2.66·mean(MR) — the SPC chart that catches a
    // shifted day without assuming any distribution, complementary to
    // q_drift_cusum (slow drifts) and q_ewma_smooth (weighted memory).
    // Daily cents are exact integers; MR is |Δ| of integers; the two
    // chart parameters are single divisions of exact sums — the only
    // windows run over the ~30-row per-day digest.
    QueryDef("q_imr_control",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .groupBy(to_date(col("ts")).as("dy"))
          .agg(sum(floor(col("value") * 100).cast("long")).as("rc"))
        val wd = Window.orderBy(col("dy"))
        val withMr = daily.withColumn("mr",
          abs(col("rc") - lag(col("rc"), 1).over(wd)))
        val stats = withMr.agg(count(lit(1)).as("n_days"),
          sum(col("rc")).as("src"), sum(col("mr")).as("smr"),
          count(col("mr")).as("nmr"))
        withMr.crossJoin(broadcast(stats))
          .withColumn("xbar",
            col("src").cast("double") / col("n_days").cast("double"))
          .withColumn("mrbar",
            col("smr").cast("double") / col("nmr").cast("double"))
          .select(col("dy").cast("string").as("dy"), col("rc"),
            col("mr"),
            round(col("xbar") + lit(2.66) * col("mrbar"), 2).as("ucl"),
            round(col("xbar") - lit(2.66) * col("mrbar"), 2).as("lcl"),
            ((col("rc").cast("double") >
              col("xbar") + lit(2.66) * col("mrbar")) ||
              (col("rc").cast("double") <
                col("xbar") - lit(2.66) * col("mrbar")))
              .cast("long").as("out_of_control"))
          .orderBy(col("dy"))
      },
      Some("""WITH daily AS (SELECT ts::DATE AS dy,
             |    sum(floor(value * 100)::BIGINT)::BIGINT AS rc
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
             |m AS (SELECT dy, rc,
             |    abs(rc - lag(rc, 1) OVER (ORDER BY dy))::BIGINT AS mr
             |  FROM daily),
             |st AS (SELECT count(*)::BIGINT AS n_days,
             |    sum(rc)::BIGINT AS src, sum(mr)::BIGINT AS smr,
             |    count(mr)::BIGINT AS nmr
             |  FROM m),
             |j AS (SELECT dy, rc, mr,
             |    src::DOUBLE / n_days::DOUBLE AS xbar,
             |    smr::DOUBLE / nmr::DOUBLE AS mrbar
             |  FROM m, st)
             |SELECT dy::VARCHAR AS dy, rc, mr,
             |  round(xbar + 2.66 * mrbar, 2) AS ucl,
             |  round(xbar - 2.66 * mrbar, 2) AS lcl,
             |  (CASE WHEN rc::DOUBLE > xbar + 2.66 * mrbar
             |    OR rc::DOUBLE < xbar - 2.66 * mrbar
             |    THEN 1 ELSE 0 END)::BIGINT AS out_of_control
             |FROM j ORDER BY dy""".stripMargin)),

    // Hour-of-week traffic profile (the 7×24 heatmap behind every
    // capacity dashboard) in long form: ISO weekday × hour counts
    // with ppm share — the table a scheduler reads to place batch
    // windows in the traffic trough. One pass, integer shares.
    QueryDef("q_hour_heatmap",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .select((weekday(col("ts")) + 1).as("isodow"),
            hour(col("ts")).as("hr"))
        val cells = ev.groupBy(col("isodow"), col("hr"))
          .agg(count(lit(1)).as("n"))
        val tot = cells.agg(sum(col("n")).as("nn"))
        cells.crossJoin(broadcast(tot))
          .select(col("isodow"), col("hr"), col("n"),
            expr("n * 1000000 div nn").as("share_ppm"))
          .orderBy(col("isodow"), col("hr"))
      },
      Some("""WITH c AS (SELECT isodow(ts)::BIGINT AS isodow,
             |    hour(ts)::BIGINT AS hr, count(*)::BIGINT AS n
             |  FROM events GROUP BY 1, 2),
             |t AS (SELECT sum(n)::BIGINT AS nn FROM c)
             |SELECT isodow, hr, n, n * 1000000 // nn AS share_ppm
             |FROM c, t ORDER BY isodow, hr""".stripMargin)),

    // Second-order Markov transitions: P(next | previous TWO events)
    // per user journey — the sharper sequel to q_event_transitions
    // (first-order) that exposes context the 1-step matrix blurs
    // (e.g. view→click→purchase vs error→click→purchase). The
    // sequence windows partition BY USER (fully parallel); the
    // (ts, event_id) tie-break pins a total order on the micros grid;
    // probabilities are integer ppm against the (prev2, prev1)
    // context total.
    QueryDef("q_markov2_transitions",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val tri = graft.sources.Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"))
          .withColumn("p1", lag(col("event_type"), 1).over(w))
          .withColumn("p2", lag(col("event_type"), 2).over(w))
          .filter(col("p2").isNotNull)
        val cells = tri.groupBy(col("p2"), col("p1"),
            col("event_type").as("nxt"))
          .agg(count(lit(1)).as("n"))
        val ctx = cells.groupBy(col("p2").as("c2"), col("p1").as("c1"))
          .agg(sum(col("n")).as("ctx_n"))
        cells.join(broadcast(ctx),
            col("p2") === col("c2") && col("p1") === col("c1"))
          .select(col("p2"), col("p1"), col("nxt"), col("n"),
            expr("n * 1000000 div ctx_n").as("prob_ppm"))
          .orderBy(col("p2"), col("p1"), col("nxt"))
      },
      Some("""WITH seq AS (SELECT user_id, event_type,
             |    lag(event_type, 1) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS p1,
             |    lag(event_type, 2) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS p2
             |  FROM events),
             |cells AS (SELECT p2, p1, event_type AS nxt,
             |    count(*)::BIGINT AS n
             |  FROM seq WHERE p2 IS NOT NULL GROUP BY 1, 2, 3),
             |ctx AS (SELECT p2, p1, sum(n)::BIGINT AS ctx_n
             |  FROM cells GROUP BY 1, 2)
             |SELECT cells.p2, cells.p1, nxt, n,
             |  n * 1000000 // ctx_n AS prob_ppm
             |FROM cells JOIN ctx ON cells.p2 = ctx.p2 AND cells.p1 = ctx.p1
             |ORDER BY cells.p2, cells.p1, nxt""".stripMargin)),

    // Kaplan-Meier product-limit survival curve with Greenwood SE —
    // the sequel to q_nelson_aalen (cumulative hazard) that reports
    // the survival PROBABILITY itself: time from a user's first event
    // to first big-ticket conversion (purchase value>=90), censored at
    // the stream horizon. The running product is computed as
    // exp(Σ ln((n-d)/n)) over the ascending-lifetime window — both
    // engines add the identical terms in the identical order. Rows
    // where all remaining subjects die (n==d) are guarded via nullif;
    // the per-user reduction is one shuffle on user_id, the curve
    // itself is a tiny single-partition window over distinct lifetimes.
    QueryDef("q_kaplan_meier",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
        val perUser = ev.groupBy(col("user_id"))
          .agg(min(to_date(col("ts"))).as("first_d"))
        val conv = ev.filter(col("event_type") === "purchase" &&
            col("value") >= 90)
          .groupBy(col("user_id").as("cu"))
          .agg(min(to_date(col("ts"))).as("conv_d"))
        val horizon = ev.agg(max(to_date(col("ts"))).as("max_d"))
        val byT = perUser
          .join(conv, col("user_id") === col("cu"), "left")
          .crossJoin(broadcast(horizon))
          .withColumn("dead", col("conv_d").isNotNull.cast("long"))
          .withColumn("lifetime",
            datediff(coalesce(col("conv_d"), col("max_d")),
              col("first_d")))
          .groupBy(col("lifetime"))
          .agg(sum(col("dead")).as("nd"),
            sum(lit(1L) - col("dead")).as("nc"))
        val wDesc = Window.orderBy(col("lifetime").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAsc = Window.orderBy(col("lifetime"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        byT.withColumn("n_risk", sum(col("nd") + col("nc")).over(wDesc))
          .withColumn("ln_term",
            log((col("n_risk") - col("nd")).cast("double") /
              col("n_risk").cast("double")))
          .withColumn("g_term",
            col("nd").cast("double") /
              (col("n_risk").cast("double") *
                nullif(col("n_risk") - col("nd"), lit(0L)).cast("double")))
          .withColumn("surv", exp(sum(col("ln_term")).over(wAsc)))
          .withColumn("g_cum", sum(col("g_term")).over(wAsc))
          .filter(col("nd") > 0)
          .select(col("lifetime").as("t_days"), col("n_risk"),
            col("nd").as("n_deaths"),
            round(col("surv"), 6).as("survival"),
            round(col("surv") * sqrt(col("g_cum")), 6).as("greenwood_se"))
          .orderBy(col("t_days"))
      },
      Some("""WITH pu AS (SELECT user_id, min(ts::DATE) AS first_d
             |  FROM events GROUP BY 1),
             |conv AS (SELECT user_id, min(ts::DATE) AS conv_d FROM events
             |  WHERE event_type = 'purchase' AND value >= 90 GROUP BY 1),
             |h AS (SELECT max(ts::DATE) AS max_d FROM events),
             |byt AS (SELECT
             |    datediff('day', first_d, coalesce(conv_d, max_d))
             |      ::BIGINT AS lifetime,
             |    sum((conv_d IS NOT NULL)::INT)::BIGINT AS nd,
             |    sum((conv_d IS NULL)::INT)::BIGINT AS nc
             |  FROM pu LEFT JOIN conv USING (user_id), h GROUP BY 1),
             |r AS (SELECT lifetime, nd,
             |    sum(nd + nc) OVER (ORDER BY lifetime DESC
             |      ROWS UNBOUNDED PRECEDING)::BIGINT AS n_risk
             |  FROM byt),
             |c AS (SELECT lifetime, nd, n_risk,
             |    exp(sum(ln((n_risk - nd)::DOUBLE / n_risk::DOUBLE))
             |      OVER (ORDER BY lifetime ROWS UNBOUNDED PRECEDING))
             |      AS surv,
             |    sum(nd::DOUBLE / (n_risk::DOUBLE *
             |        nullif(n_risk - nd, 0)::DOUBLE))
             |      OVER (ORDER BY lifetime ROWS UNBOUNDED PRECEDING)
             |      AS g_cum
             |  FROM r)
             |SELECT lifetime AS t_days, n_risk, nd AS n_deaths,
             |  round(surv, 6) AS survival,
             |  round(surv * sqrt(g_cum), 6) AS greenwood_se
             |FROM c WHERE nd > 0 ORDER BY t_days""".stripMargin)),

    // Case-control odds ratio with 95% CI (Haldane-Anscombe +0.5 on
    // every cell so empty cells never blow up): exposure = the user's
    // FIRST event is a signup (acquisition channel proxy), outcome =
    // ever converts at purchase value>=120. One row_number pass pins
    // the first event per user (ties broken by event_id on the micros
    // grid); the 2x2 table is four exact BIGINT counts, so the only
    // float math is the final ln/exp on a single row.
    QueryDef("q_odds_ratio",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val expo = ev.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"),
            (col("event_type") === "signup").cast("long").as("e"))
        val out = ev.groupBy(col("user_id").as("ou"))
          .agg(max((col("event_type") === "purchase" &&
            col("value") >= 120).cast("long")).as("o"))
        val cells = expo.join(out, col("user_id") === col("ou"))
          .agg(
            sum(when(col("e") === 1 && col("o") === 1, 1L).otherwise(0L)).as("a"),
            sum(when(col("e") === 1 && col("o") === 0, 1L).otherwise(0L)).as("b"),
            sum(when(col("e") === 0 && col("o") === 1, 1L).otherwise(0L)).as("c"),
            sum(when(col("e") === 0 && col("o") === 0, 1L).otherwise(0L)).as("dd"))
        def h(c: String) = col(c).cast("double") + lit(0.5)
        val lnOr = log(h("a") * h("dd") / (h("b") * h("c")))
        val se = sqrt(lit(1.0) / h("a") + lit(1.0) / h("b") +
          lit(1.0) / h("c") + lit(1.0) / h("dd"))
        cells.select(col("a"), col("b"), col("c"), col("dd").as("d"),
          round(exp(lnOr), 6).as("odds_ratio"),
          round(exp(lnOr - lit(1.959963985) * se), 6).as("ci_lo"),
          round(exp(lnOr + lit(1.959963985) * se), 6).as("ci_hi"))
      },
      Some("""WITH rk AS (SELECT user_id, event_type,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS rn
             |  FROM events),
             |expo AS (SELECT user_id,
             |    (event_type = 'signup')::BIGINT AS e
             |  FROM rk WHERE rn = 1),
             |o AS (SELECT user_id,
             |    max((event_type = 'purchase' AND value >= 120)::INT)
             |      ::BIGINT AS o
             |  FROM events GROUP BY 1),
             |cells AS (SELECT
             |    sum((e = 1 AND o = 1)::INT)::BIGINT AS a,
             |    sum((e = 1 AND o = 0)::INT)::BIGINT AS b,
             |    sum((e = 0 AND o = 1)::INT)::BIGINT AS c,
             |    sum((e = 0 AND o = 0)::INT)::BIGINT AS dd
             |  FROM expo JOIN o USING (user_id)),
             |m AS (SELECT a, b, c, dd,
             |    ln((a + 0.5) * (dd + 0.5) / ((b + 0.5) * (c + 0.5)))
             |      AS lnor,
             |    sqrt(1.0 / (a + 0.5) + 1.0 / (b + 0.5)
             |      + 1.0 / (c + 0.5) + 1.0 / (dd + 0.5)) AS se
             |  FROM cells)
             |SELECT a, b, c, dd AS d,
             |  round(exp(lnor), 6) AS odds_ratio,
             |  round(exp(lnor - 1.959963985 * se), 6) AS ci_lo,
             |  round(exp(lnor + 1.959963985 * se), 6) AS ci_hi
             |FROM m""".stripMargin)),

    // Brown-Forsythe (median-based Levene) test for variance
    // homogeneity across event types — the guard every ANOVA (see
    // q_anova_f) should run first. Deviations |x - median_g| are
    // computed in exact HALF-milli integer units (2*milli vs the
    // rounded doubled group median), so every per-group sum and
    // sum-of-squares is an associative BIGINT reduction; the only
    // doubles are the k~5 per-group closing terms, rounded to fixed
    // decimals and summed as DECIMAL so partition order can't leak in.
    QueryDef("q_levene_test",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .select(col("event_type").as("g"),
            floor(col("value") * 1000).cast("long").as("vm"))
        val med = ev.groupBy(col("g").as("mg"))
          .agg(round(expr("percentile(vm, 0.5)") * 2.0)
            .cast("long").as("med2"))
        val z = ev.join(broadcast(med), col("g") === col("mg"))
          .select(col("g"), abs(col("vm") * 2L - col("med2")).as("z2"))
        val grp = z.groupBy(col("g"))
          .agg(count(lit(1)).as("n"), sum(col("z2")).as("sz"),
            sum(col("z2") * col("z2")).as("qz"))
        val terms = grp.select(col("n"), col("sz"),
          round(col("qz").cast("double") -
            col("sz").cast("double") * col("sz").cast("double") /
              col("n").cast("double"), 4)
            .cast("decimal(38,4)").as("ssw_t"),
          round(col("sz").cast("double") * col("sz").cast("double") /
            col("n").cast("double"), 4)
            .cast("decimal(38,4)").as("nm2_t"))
        val tot = terms.agg(count(lit(1)).as("k"), sum(col("n")).as("nn"),
          sum(col("sz")).as("szz"), sum(col("ssw_t")).as("ssw"),
          sum(col("nm2_t")).as("nm2"))
        tot.select(col("k"), col("nn").as("n"),
          round((
            (col("nm2").cast("double") -
              col("szz").cast("double") * col("szz").cast("double") /
                col("nn").cast("double")) /
              (col("k").cast("double") - 1.0)) /
            (col("ssw").cast("double") /
              (col("nn").cast("double") - col("k").cast("double"))),
            6).as("f_stat"))
      },
      Some("""WITH ev AS (SELECT event_type AS g,
             |    floor(value * 1000)::BIGINT AS vm FROM events),
             |med AS (SELECT g, round(quantile_cont(vm, 0.5) * 2.0)
             |    ::BIGINT AS med2
             |  FROM ev GROUP BY 1),
             |z AS (SELECT ev.g, abs(vm * 2 - med2)::BIGINT AS z2
             |  FROM ev JOIN med USING (g)),
             |grp AS (SELECT g, count(*)::BIGINT AS n,
             |    sum(z2)::BIGINT AS sz, sum(z2 * z2)::BIGINT AS qz
             |  FROM z GROUP BY 1),
             |terms AS (SELECT n, sz,
             |    round(qz::DOUBLE - sz::DOUBLE * sz::DOUBLE / n::DOUBLE,
             |      4)::DECIMAL(38,4) AS ssw_t,
             |    round(sz::DOUBLE * sz::DOUBLE / n::DOUBLE, 4)
             |      ::DECIMAL(38,4) AS nm2_t
             |  FROM grp),
             |tot AS (SELECT count(*)::BIGINT AS k, sum(n)::BIGINT AS nn,
             |    sum(sz)::BIGINT AS szz, sum(ssw_t) AS ssw,
             |    sum(nm2_t) AS nm2
             |  FROM terms)
             |SELECT k, nn AS n,
             |  round(((nm2::DOUBLE - szz::DOUBLE * szz::DOUBLE
             |      / nn::DOUBLE) / (k::DOUBLE - 1.0))
             |    / (ssw::DOUBLE / (nn::DOUBLE - k::DOUBLE)), 6)
             |    AS f_stat
             |FROM tot""".stripMargin)),

    // Interval-interval overlap join: pairs of sessions from DIFFERENT
    // users that overlap in time (co-presence / concurrent-activity
    // detection). The naive plan is a quadratic self-join; here
    // candidates come from exploding each session onto the hour
    // buckets it covers and equi-joining on bucket — the banded
    // pattern that keeps the shuffle O(sessions · buckets-per-session)
    // at 100 TB. A pair found in several shared buckets is emitted
    // exactly once, by the bucket that contains the overlap START
    // (greatest of the two session starts), so no distinct pass is
    // needed. Sessions are the q_sessionize definition (30-min gap),
    // restricted to >= 2 events.
    QueryDef("q_session_overlap_pairs",
      (s, d) => {
        val byUser = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val sess = graft.sources.Tables.events(s, d)
          .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
          .withColumn("new_session",
            when(col("prev_ts").isNull ||
              unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L,
              1L).otherwise(0L))
          .withColumn("session_id", sum(col("new_session"))
            .over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy(col("user_id"), col("session_id"))
          .agg(count(lit(1)).as("n_events"),
            min(unix_micros(col("ts"))).as("st"),
            max(unix_micros(col("ts"))).as("en"))
          .filter(col("n_events") >= 2)
          .select(col("user_id"), col("session_id"), col("st"), col("en"))
          // both join sides read this digest; persist so the
          // events scan + two window passes run ONCE, not twice
          .persist()
        val b = sess.withColumn("bucket",
          explode(expr("sequence(st div 3600000000, en div 3600000000)")))
        val lhs = b.select(col("bucket"), col("user_id").as("user_a"),
          col("session_id").as("sess_a"), col("st").as("st_a"), col("en").as("en_a"))
        val rhs = b.select(col("bucket"), col("user_id").as("user_b"),
          col("session_id").as("sess_b"), col("st").as("st_b"), col("en").as("en_b"))
        QueryDef.checkpointed(lhs.join(rhs, Seq("bucket"))
          .filter(col("user_a") < col("user_b") &&
            col("st_a") <= col("en_b") && col("st_b") <= col("en_a"))
          .filter(expr("bucket = greatest(st_a, st_b) div 3600000000"))
          .select(col("user_a"), col("user_b"), col("sess_a"), col("sess_b"),
            expr("(least(en_a, en_b) - greatest(st_a, st_b)) div 1000000")
              .as("overlap_sec"))
          .orderBy(col("user_a"), col("user_b"), col("sess_a"), col("sess_b")),
          sess)
      },
      Some("""WITH g AS (
             |  SELECT user_id, event_id, ts,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
             |         THEN 1 ELSE 0 END AS new_session
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |s AS (
             |  SELECT user_id, ts,
             |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
             |      AS session_id
             |  FROM g),
             |sess AS (SELECT user_id, session_id,
             |    min(epoch_us(ts))::BIGINT AS st, max(epoch_us(ts))::BIGINT AS en
             |  FROM s GROUP BY 1, 2 HAVING count(*) >= 2)
             |SELECT a.user_id AS user_a, b.user_id AS user_b,
             |  a.session_id AS sess_a, b.session_id AS sess_b,
             |  (least(a.en, b.en) - greatest(a.st, b.st)) // 1000000
             |    AS overlap_sec
             |FROM sess a JOIN sess b
             |  ON a.user_id < b.user_id AND a.st <= b.en AND b.st <= a.en
             |ORDER BY user_a, user_b, sess_a, sess_b""".stripMargin)),

    // Time-RANGE window frame — the frame type none of the other
    // window queries exercise: each event sees the count/sum of the
    // SAME USER's events in the trailing hour [ts−1h, ts], a physical
    // time interval, not a row count (ROWS frames are wrong the moment
    // event spacing is uneven). Spark's rangeBetween runs on the
    // unix_micros ordering key, partitioned per user — one shuffle,
    // state bounded by the hour horizon at any scale. Sums in exact
    // integer milli-units; top-200 digest by trailing count keeps the
    // output bounded.
    QueryDef("q_trailing_hour_sum",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("tus"))
          .rangeBetween(-3600000000L, 0L)
        graft.sources.Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("ts"),
            unix_micros(col("ts")).as("tus"),
            floor(col("value") * 1000).cast("long").as("vm"))
          .withColumn("n_trailing_1h", count(lit(1)).over(w))
          .withColumn("sum_trailing_1h_milli", sum(col("vm")).over(w))
          .select(col("event_id"), col("user_id"), col("n_trailing_1h"),
            col("sum_trailing_1h_milli"))
          .orderBy(col("n_trailing_1h").desc, col("event_id"))
          .limit(200)
      },
      Some("""WITH e AS (SELECT event_id, user_id, ts,
             |    floor(value * 1000)::BIGINT AS vm FROM events),
             |t AS (SELECT event_id, user_id,
             |    (count(*) OVER w)::BIGINT AS n_trailing_1h,
             |    (sum(vm) OVER w)::BIGINT AS sum_trailing_1h_milli
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts
             |    RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW))
             |SELECT event_id, user_id, n_trailing_1h, sum_trailing_1h_milli
             |FROM t ORDER BY n_trailing_1h DESC, event_id LIMIT 200""".stripMargin)),

    // Cumulative distinct users by day — the growth-chart primitive.
    // The naive plan recomputes COUNT(DISTINCT) per day (O(days ×
    // users)); the scale-safe plan marks each user's FIRST day in one
    // aggregate, rolls the per-day first-seen counts into a running
    // sum over the tiny day digest, and joins daily actives alongside.
    QueryDef("q_cumulative_distinct_users",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .select(to_date(col("ts")).as("day"), col("user_id"))
        val firstDay = ev.groupBy(col("user_id"))
          .agg(min(col("day")).as("day"))
          .groupBy(col("day")).agg(count(lit(1)).as("new_users"))
        val daily = ev.groupBy(col("day"))
          .agg(count_distinct(col("user_id")).as("dau"))
        val wd = Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, 0)
        daily.join(firstDay, Seq("day"), "left")
          .withColumn("new_users", coalesce(col("new_users"), lit(0L)))
          .withColumn("cum_users", sum(col("new_users")).over(wd))
          .select(col("day").cast("string").as("day"), col("dau"),
            col("new_users"), col("cum_users"))
          .orderBy(col("day"))
      },
      Some("""WITH fd AS (SELECT user_id, min(ts::DATE) AS day FROM events
             |  GROUP BY 1),
             |nu AS (SELECT day, count(*)::BIGINT AS new_users FROM fd
             |  GROUP BY 1),
             |daily AS (SELECT ts::DATE AS day,
             |    count(DISTINCT user_id)::BIGINT AS dau
             |  FROM events GROUP BY 1)
             |SELECT daily.day::VARCHAR AS day, dau,
             |  coalesce(nu.new_users, 0)::BIGINT AS new_users,
             |  sum(coalesce(nu.new_users, 0)) OVER (ORDER BY daily.day
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
             |    AS cum_users
             |FROM daily LEFT JOIN nu USING (day)
             |ORDER BY day""".stripMargin)),

    // Merge overlapping intervals (interval-union compaction): each
    // user's PER-CHANNEL activity intervals (30-min-gap sessions
    // derived per event_type, padded +10 min) collapsed into maximal
    // disjoint spans of overall activity — the canonical sweep: an
    // interval starts a NEW merged span iff its start exceeds the
    // running max of all previous ends (per user, start order).
    // Same-channel sessions are >=30 min apart by construction, so
    // the overlaps being merged are genuinely cross-channel. Output
    // is the per-user compaction digest: interval count
    // before/after and total covered seconds. Two windows on one
    // per-user partitioning; no self-join.
    QueryDef("q_merge_intervals",
      (s, d) => {
        val byChan = Window.partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("ts"), col("event_id"))
        val sess = graft.sources.Tables.events(s, d)
          .withColumn("prev_ts", lag(col("ts"), 1).over(byChan))
          .withColumn("new_session",
            when(col("prev_ts").isNull ||
              unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L,
              1L).otherwise(0L))
          .withColumn("session_id", sum(col("new_session"))
            .over(byChan.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy(col("user_id"), col("event_type"), col("session_id"))
          .agg(min(unix_micros(col("ts"))).as("st"),
            max(unix_micros(col("ts")) + 600000000L).as("en"))
        val ws = Window.partitionBy(col("user_id"))
          .orderBy(col("st"), col("en"))
        val flagged = sess
          .withColumn("prev_max_en",
            max(col("en")).over(ws.rowsBetween(Window.unboundedPreceding, -1)))
          .withColumn("new_span",
            when(col("prev_max_en").isNull ||
              col("st") > col("prev_max_en"), 1L).otherwise(0L))
          .withColumn("span_id", sum(col("new_span"))
            .over(ws.rowsBetween(Window.unboundedPreceding, 0)))
        flagged.groupBy(col("user_id"), col("span_id"))
          .agg(min(col("st")).as("sst"), max(col("en")).as("sen"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_spans"),
            expr("sum(sen - sst) div 1000000").as("covered_sec"))
          .join(sess.groupBy(col("user_id"))
            .agg(count(lit(1)).as("n_intervals")), "user_id")
          .select(col("user_id"), col("n_intervals"), col("n_spans"),
            col("covered_sec"))
          .orderBy(col("user_id"))
      },
      Some("""WITH g AS (
             |  SELECT user_id, event_type, event_id, ts,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
             |         THEN 1 ELSE 0 END AS new_session
             |  FROM events WINDOW w AS (PARTITION BY user_id, event_type
             |    ORDER BY ts, event_id)),
             |s AS (
             |  SELECT user_id, event_type, ts,
             |    sum(new_session) OVER (PARTITION BY user_id, event_type
             |      ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
             |      AS session_id
             |  FROM g),
             |sess AS (SELECT user_id, event_type, session_id,
             |    min(epoch_us(ts))::BIGINT AS st,
             |    max(epoch_us(ts) + 600000000)::BIGINT AS en
             |  FROM s GROUP BY 1, 2, 3),
             |fl AS (SELECT user_id, st, en,
             |    CASE WHEN max(en) OVER (PARTITION BY user_id ORDER BY st, en
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
             |      OR st > max(en) OVER (PARTITION BY user_id ORDER BY st, en
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      THEN 1 ELSE 0 END AS new_span
             |  FROM sess),
             |sp AS (SELECT user_id, st, en,
             |    sum(new_span) OVER (PARTITION BY user_id ORDER BY st, en
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
             |      AS span_id
             |  FROM fl),
             |m AS (SELECT user_id, span_id, min(st) AS sst, max(en) AS sen
             |  FROM sp GROUP BY 1, 2)
             |SELECT m.user_id,
             |  (SELECT count(*) FROM sess WHERE sess.user_id = m.user_id)
             |    ::BIGINT AS n_intervals,
             |  count(*)::BIGINT AS n_spans,
             |  (sum(sen - sst) // 1000000)::BIGINT AS covered_sec
             |FROM m GROUP BY m.user_id ORDER BY m.user_id""".stripMargin)),

    // Time-weighted average (TWAP) per channel — the sensor/finance
    // mean that plain avg() gets wrong under irregular sampling: each
    // reading is weighted by how long it was CURRENT (until the next
    // reading). Weights are exact micros from a per-channel lead
    // window; the weighted sum runs in milli-value x micros integer
    // units, one division at the end. The last reading of a channel
    // carries no interval and drops out, matching the right-open
    // integral.
    QueryDef("q_time_weighted_avg",
      (s, d) => {
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("ts"), col("event_id"))
        graft.sources.Tables.events(s, d)
          .select(col("event_type"), col("event_id"), col("ts"),
            floor(col("value") * 1000).cast("long").as("vm"),
            unix_micros(col("ts")).as("tus"))
          .withColumn("next_tus", lead(col("tus"), 1).over(w))
          .filter(col("next_tus").isNotNull)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_intervals"),
            sum((col("next_tus") - col("tus")).cast("decimal(38,0)") *
              col("vm")).as("__wsum"),
            sum(col("next_tus") - col("tus")).as("__tspan"))
          .select(col("event_type"), col("n_intervals"),
            expr("__tspan div 1000000").as("span_sec"),
            round(col("__wsum").cast("double") /
              col("__tspan").cast("double") / lit(1000.0), 6).as("twap"))
          .orderBy(col("event_type"))
      },
      Some("""WITH e AS (SELECT event_type, event_id, ts,
             |    floor(value * 1000)::BIGINT AS vm, epoch_us(ts) AS tus
             |  FROM events),
             |l AS (SELECT event_type, vm, tus,
             |    lead(tus) OVER (PARTITION BY event_type
             |      ORDER BY ts, event_id) AS next_tus
             |  FROM e)
             |SELECT event_type, count(*)::BIGINT AS n_intervals,
             |  (sum(next_tus - tus) // 1000000)::BIGINT AS span_sec,
             |  round(sum((next_tus - tus)::HUGEINT * vm)::DOUBLE
             |    / sum(next_tus - tus)::DOUBLE / 1000.0, 6) AS twap
             |FROM l WHERE next_tus IS NOT NULL
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // OHLC bar resampling — per (channel, hour): open/high/low/close
    // of the milli-quantized value, where open/close are picked by a
    // single struct-min/max over (ts, event_id, value) so ties break
    // identically in both engines. One shuffle on the (channel, hour)
    // grain; this is the canonical downsample that turns a raw tick
    // stream into a bounded bar table at any scale. Top-200 busiest
    // bars keep the output a digest.
    QueryDef("q_ohlc_bars",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .select(col("event_type"), date_trunc("hour", col("ts")).as("bar"),
            unix_micros(col("ts")).as("tus"), col("event_id"),
            floor(col("value") * 1000).cast("long").as("vm"))
        ev.groupBy(col("event_type"), col("bar"))
          .agg(count(lit(1)).as("n_ticks"),
            min(struct(col("tus"), col("event_id"), col("vm"))).as("__o"),
            max(struct(col("tus"), col("event_id"), col("vm"))).as("__c"),
            max(col("vm")).as("high_milli"), min(col("vm")).as("low_milli"))
          .select(col("event_type"), col("bar").cast("string").as("bar"),
            col("n_ticks"), col("__o.vm").as("open_milli"),
            col("high_milli"), col("low_milli"), col("__c.vm").as("close_milli"))
          .orderBy(col("n_ticks").desc, col("event_type"), col("bar"))
          .limit(200)
      },
      Some("""WITH e AS (SELECT event_type, date_trunc('hour', ts) AS bar,
             |    epoch_us(ts) AS tus, event_id,
             |    floor(value * 1000)::BIGINT AS vm
             |  FROM events),
             |r AS (SELECT event_type, bar, vm,
             |    row_number() OVER (PARTITION BY event_type, bar
             |      ORDER BY tus, event_id) AS rn_a,
             |    row_number() OVER (PARTITION BY event_type, bar
             |      ORDER BY tus DESC, event_id DESC) AS rn_z
             |  FROM e),
             |b AS (SELECT event_type, bar, count(*)::BIGINT AS n_ticks,
             |    max(CASE WHEN rn_a = 1 THEN vm END)::BIGINT AS open_milli,
             |    max(vm)::BIGINT AS high_milli, min(vm)::BIGINT AS low_milli,
             |    max(CASE WHEN rn_z = 1 THEN vm END)::BIGINT AS close_milli
             |  FROM r GROUP BY 1, 2)
             |SELECT event_type, bar::VARCHAR AS bar, n_ticks, open_milli,
             |  high_milli, low_milli, close_milli
             |FROM b ORDER BY n_ticks DESC, event_type, bar LIMIT 200""".stripMargin)),

    // Volume-weighted average price per ship month — the weighted-mean
    // aggregate where the weight is a second fact column (plain avg of
    // prices over-counts small lots): Σ(price·qty)/Σqty in exact
    // decimals, one shuffle on the month grain.
    QueryDef("q_vwap_monthly",
      (s, d) => {
        graft.sources.Tables.load(s, d, "lineitem")
          .select(date_trunc("month", col("l_shipdate")).as("ship_month"),
            col("l_quantity").cast("decimal(12,2)").as("qty"),
            col("l_extendedprice").cast("decimal(12,2)").as("price"))
          .groupBy(col("ship_month"))
          .agg(count(lit(1)).as("n_lines"),
            sum(col("qty")).cast("double").as("sum_qty"),
            (sum(col("price") * col("qty")) / sum(col("qty")))
              .cast("double").as("vwap"))
          .select(col("ship_month").cast("string").as("ship_month"),
            col("n_lines"), col("sum_qty"), round(col("vwap"), 4).as("vwap"))
          .orderBy(col("ship_month"))
      },
      Some("""SELECT date_trunc('month', l_shipdate)::TIMESTAMP::VARCHAR
             |    AS ship_month,
             |  count(*)::BIGINT AS n_lines,
             |  sum(l_quantity::DECIMAL(12,2))::DOUBLE AS sum_qty,
             |  round((sum(l_extendedprice::DECIMAL(12,2)
             |      * l_quantity::DECIMAL(12,2))
             |    / sum(l_quantity::DECIMAL(12,2)))::DOUBLE, 4) AS vwap
             |FROM lineitem GROUP BY 1 ORDER BY ship_month""".stripMargin)),

    // Order width distribution — how many orders have k line items:
    // the fact-table shape statistic that sizes the orders↔lineitem
    // join (a fat tail means skewed join keys). Two stacked
    // aggregations, both with map-side partials.
    QueryDef("q_order_width_hist",
      (s, d) => {
        graft.sources.Tables.load(s, d, "lineitem")
          .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n_lines"))
          .groupBy(col("n_lines")).agg(count(lit(1)).as("n_orders"))
          .orderBy(col("n_lines"))
      },
      Some("""WITH w AS (SELECT l_orderkey, count(*)::BIGINT AS n_lines
             |  FROM lineitem GROUP BY 1)
             |SELECT n_lines, count(*)::BIGINT AS n_orders
             |FROM w GROUP BY 1 ORDER BY n_lines""".stripMargin)),

    // Daily inter-channel correlation series — does click volume
    // track purchase volume WITHIN each day (24 hourly buckets)?
    // A correlation TIME SERIES, not one global number: per day, the
    // closed-form Pearson r from exact integer hourly counts (the
    // zero-filled 24-bucket grid per day, so missing hours count as
    // zero instead of silently shrinking n). Digest-sized everything:
    // days x 24 rows after the first aggregation.
    QueryDef("q_daily_channel_corr",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .filter(col("event_type").isin("click", "purchase"))
          .groupBy(to_date(col("ts")).as("day"), hour(col("ts")).as("hr"),
            col("event_type"))
          .agg(count(lit(1)).as("n"))
        val days = ev.select(col("day")).distinct()
        val hours = s.range(0, 24).select(col("id").cast("int").as("hr"))
        val grid = days.crossJoin(broadcast(hours))
        val x = ev.filter(col("event_type") === "click")
          .select(col("day"), col("hr"), col("n").as("xn"))
        val y = ev.filter(col("event_type") === "purchase")
          .select(col("day"), col("hr"), col("n").as("yn"))
        grid.join(x, Seq("day", "hr"), "left").join(y, Seq("day", "hr"), "left")
          .select(col("day"), coalesce(col("xn"), lit(0L)).as("x"),
            coalesce(col("yn"), lit(0L)).as("y"))
          .groupBy(col("day"))
          .agg(count(lit(1)).as("k"), sum(col("x")).as("sx"),
            sum(col("y")).as("sy"), sum(col("x") * col("x")).as("qx"),
            sum(col("y") * col("y")).as("qy"),
            sum(col("x") * col("y")).as("sxy"))
          .select(col("day").cast("string").as("day"),
            round((col("k") * col("sxy") - col("sx") * col("sy")).cast("double") /
              sqrt((col("k") * col("qx") - col("sx") * col("sx")).cast("double") *
                (col("k") * col("qy") - col("sy") * col("sy")).cast("double")), 6)
              .as("daily_corr"))
          .orderBy(col("day"))
      },
      Some("""WITH ev AS (SELECT ts::DATE AS day, hour(ts) AS hr, event_type,
             |    count(*)::BIGINT AS n
             |  FROM events WHERE event_type IN ('click', 'purchase')
             |  GROUP BY 1, 2, 3),
             |days AS (SELECT DISTINCT day FROM ev),
             |grid AS (SELECT day, h.hr FROM days
             |  CROSS JOIN (SELECT unnest(range(0, 24))::INT AS hr) h),
             |x AS (SELECT day, hr, n AS xn FROM ev WHERE event_type = 'click'),
             |y AS (SELECT day, hr, n AS yn FROM ev WHERE event_type = 'purchase'),
             |g AS (SELECT grid.day, coalesce(xn, 0)::BIGINT AS x,
             |    coalesce(yn, 0)::BIGINT AS y
             |  FROM grid LEFT JOIN x USING (day, hr) LEFT JOIN y USING (day, hr)),
             |a AS (SELECT day, count(*)::BIGINT AS k, sum(x)::BIGINT AS sx,
             |    sum(y)::BIGINT AS sy, sum(x * x)::BIGINT AS qx,
             |    sum(y * y)::BIGINT AS qy, sum(x * y)::BIGINT AS sxy
             |  FROM g GROUP BY 1)
             |SELECT day::VARCHAR AS day,
             |  round((k * sxy - sx * sy)::DOUBLE
             |    / sqrt((k * qx - sx * sx)::DOUBLE
             |      * (k * qy - sy * sy)::DOUBLE), 6) AS daily_corr
             |FROM a ORDER BY day""".stripMargin)),

    // Lagged feature matrix — the supervised-learning feature-prep
    // shape: per event (for a deterministic user slice), the previous
    // three values, the delta, and the trailing-3 mean, all CAUSAL
    // (strictly past rows — the leakage-safe frame). One per-user
    // window partitioning serves every column; milli-quantized so the
    // matrix is exact integers.
    QueryDef("feat_lag_matrix",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        graft.sources.Tables.events(s, d)
          .filter(col("user_id") < 10)
          .select(col("user_id"), col("event_id"), col("ts"),
            floor(col("value") * 1000).cast("long").as("vm"))
          .withColumn("lag1", lag(col("vm"), 1).over(w))
          .withColumn("lag2", lag(col("vm"), 2).over(w))
          .withColumn("lag3", lag(col("vm"), 3).over(w))
          .withColumn("delta1", col("vm") - col("lag1"))
          .withColumn("trail3_mean_milli",
            expr("(lag1 + lag2 + lag3) div 3"))
          .drop("ts")
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""WITH e AS (SELECT user_id, event_id, ts,
             |    floor(value * 1000)::BIGINT AS vm FROM events
             |  WHERE user_id < 10),
             |l AS (SELECT user_id, event_id, vm,
             |    lag(vm, 1) OVER w AS lag1, lag(vm, 2) OVER w AS lag2,
             |    lag(vm, 3) OVER w AS lag3
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
             |SELECT user_id, event_id, vm, lag1, lag2, lag3,
             |  (vm - lag1)::BIGINT AS delta1,
             |  ((lag1 + lag2 + lag3) // 3)::BIGINT AS trail3_mean_milli
             |FROM l ORDER BY user_id, event_id""".stripMargin)),

    // Fleiss' kappa — inter-annotator agreement generalized to THREE
    // deterministic raters (chars >= 250, tokens >= 60, stopword hits
    // >= 8): per-doc category counts n_i1/n_i0, P_i agreement, and the
    // chance-corrected kappa, all exact integer digests to two final
    // divisions. The 2-rater Cohen's query grades pairwise; this
    // grades the panel.
    QueryDef("pipe_fleiss_kappa",
      (s, d) => {
        val lab = graft.sources.Tables.load(s, d, "documents")
          .select(
            when(col("n_chars") >= 250, 1L).otherwise(0L).as("a"),
            when(size(graft.ext.TextAnalysis.tokens(col("text"))) >= 60, 1L)
              .otherwise(0L).as("b"),
            when(size(filter(graft.ext.TextAnalysis.tokens(col("text")),
              t => t.isin(graft.ext.TextAnalysis.Stopwords: _*))) >= 8, 1L)
              .otherwise(0L).as("c"))
          .select((col("a") + col("b") + col("c")).as("n_pos"))
        // per doc: pairs agreeing = C(n_pos,2) + C(3-n_pos,2); n=3 raters
        lab.agg(count(lit(1)).as("n_docs"),
            sum(col("n_pos")).as("tot_pos"),
            sum(col("n_pos") * (col("n_pos") - 1) +
              (lit(3) - col("n_pos")) * (lit(2) - col("n_pos")))
              .as("agree2"))
          .select(col("n_docs"), col("tot_pos"),
            round(col("agree2").cast("double") / (col("n_docs") * 6)
              .cast("double"), 6).as("p_bar"),
            round({
              val pbar = col("agree2").cast("double") /
                (col("n_docs") * 6).cast("double")
              val p1 = col("tot_pos").cast("double") /
                (col("n_docs") * 3).cast("double")
              val pe = lit(1.0) - lit(2.0) * p1 * (lit(1.0) - p1)
              (pbar - pe) / (lit(1.0) - pe)
            }, 6).as("fleiss_kappa"))
      },
      Some("""WITH lab AS (SELECT
             |    (CASE WHEN n_chars >= 250 THEN 1 ELSE 0 END
             |     + CASE WHEN len(string_split(lower(text), ' ')) >= 60
             |         THEN 1 ELSE 0 END
             |     + CASE WHEN len(list_filter(string_split(lower(text), ' '),
             |         t -> list_contains(['the','a','an','of','and','to','in',
             |           'is','on','for','with','at'], t))) >= 8
             |         THEN 1 ELSE 0 END)::BIGINT AS n_pos
             |  FROM documents),
             |ag AS (SELECT count(*)::BIGINT AS n_docs,
             |    sum(n_pos)::BIGINT AS tot_pos,
             |    sum(n_pos * (n_pos - 1) + (3 - n_pos) * (2 - n_pos))::BIGINT
             |      AS agree2
             |  FROM lab)
             |SELECT n_docs, tot_pos,
             |  round(agree2::DOUBLE / (n_docs * 6)::DOUBLE, 6) AS p_bar,
             |  round((agree2::DOUBLE / (n_docs * 6)::DOUBLE
             |      - (1.0 - 2.0 * (tot_pos::DOUBLE / (n_docs * 3)::DOUBLE)
             |        * (1.0 - tot_pos::DOUBLE / (n_docs * 3)::DOUBLE)))
             |    / (1.0 - (1.0 - 2.0 * (tot_pos::DOUBLE / (n_docs * 3)::DOUBLE)
             |        * (1.0 - tot_pos::DOUBLE / (n_docs * 3)::DOUBLE))), 6)
             |    AS fleiss_kappa
             |FROM ag""".stripMargin)),

    // Tukey HSD post-hoc — AFTER q_anova_f says "some group differs",
    // this says WHICH pairs: all 10 channel pairs against the
    // studentized-range honest significant difference, using the
    // pooled within-group variance from the same per-group integer
    // digests (milli-quantized Σ/Σ²). q(k=5, df=inf, alpha=.05)=3.858
    // is a fixed literal in both engines; everything else is digest
    // algebra.
    QueryDef("q_tukey_hsd",
      (s, d) => {
        val g = graft.sources.Tables.events(s, d)
          .select(col("event_type"),
            floor(col("value") * 1000).cast("long").as("vm"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("vm")).as("sv"),
            sum(col("vm") * col("vm")).as("qv"))
          .persist()
        val msw = g.agg(
            (sum(col("qv").cast("double")) -
              sum(col("sv").cast("double") * col("sv").cast("double") /
                col("n").cast("double"))).as("ssw"),
            (sum(col("n")) - count(lit(1))).as("dfw"))
          .select((col("ssw") / col("dfw").cast("double")).as("msw"))
        val a = g.select(col("event_type").as("g_a"), col("n").as("n_a"),
          (col("sv").cast("double") / col("n")).as("m_a"))
        val b = g.select(col("event_type").as("g_b"), col("n").as("n_b"),
          (col("sv").cast("double") / col("n")).as("m_b"))
        QueryDef.digest(s, a
          .join(b, col("g_a") < col("g_b")).crossJoin(broadcast(msw))
          .select(col("g_a"), col("g_b"),
            round(abs(col("m_a") - col("m_b")) / lit(1000.0), 6)
              .as("mean_diff"),
            round(lit(3.858) * sqrt(col("msw") / 2.0 *
              (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))) / lit(1000.0), 6)
              .as("hsd"),
            when(abs(col("m_a") - col("m_b")) >
              lit(3.858) * sqrt(col("msw") / 2.0 *
                (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), 1L)
              .otherwise(0L).as("significant"))
          .orderBy(col("g_a"), col("g_b")), g)
      },
      Some("""WITH e AS (SELECT event_type,
             |    floor(value * 1000)::BIGINT AS vm FROM events),
             |g AS (SELECT event_type, count(*)::BIGINT AS n,
             |    sum(vm)::BIGINT AS sv, sum(vm * vm)::BIGINT AS qv
             |  FROM e GROUP BY 1),
             |m AS (SELECT (sum(qv::DOUBLE)
             |      - sum(sv::DOUBLE * sv::DOUBLE / n::DOUBLE))
             |    / (sum(n) - count(*))::DOUBLE AS msw FROM g)
             |SELECT a.event_type AS g_a, b.event_type AS g_b,
             |  round(abs(a.sv::DOUBLE / a.n - b.sv::DOUBLE / b.n) / 1000.0, 6)
             |    AS mean_diff,
             |  round(3.858 * sqrt(msw / 2.0 * (1.0 / a.n + 1.0 / b.n))
             |    / 1000.0, 6) AS hsd,
             |  CASE WHEN abs(a.sv::DOUBLE / a.n - b.sv::DOUBLE / b.n)
             |    > 3.858 * sqrt(msw / 2.0 * (1.0 / a.n + 1.0 / b.n))
             |    THEN 1 ELSE 0 END::BIGINT AS significant
             |FROM g a JOIN g b ON a.event_type < b.event_type, m
             |ORDER BY g_a, g_b""".stripMargin)),

    // Cross-engine table checksums — the data-integrity manifest a
    // migration signs off against: per table, an ORDER-INDEPENDENT
    // content fingerprint (sum of 60-bit md5 row hashes over the
    // business key columns, mod 2^61-1) plus the row count. Any
    // engine, any partitioning, any row order produces the same two
    // numbers per table — which is the whole point; this query IS the
    // "did the copy lose rows" audit.
    QueryDef("io_table_checksums",
      (s, d) => {
        import graft.ext.Dedup.strHash60
        val M = 2305843009213693951L // 2^61 - 1
        def ck(df: org.apache.spark.sql.DataFrame, name: String,
               key: org.apache.spark.sql.Column) =
          df.select(pmod(strHash60(key), lit(M)).as("h"))
            .agg(count(lit(1)).as("n_rows"),
              pmod(sum(col("h").cast("decimal(38,0)")).cast("decimal(38,0)"),
                lit(M).cast("decimal(38,0)")).cast("long").as("checksum"))
            .select(lit(name).as("table_name"), col("n_rows"), col("checksum"))
        val ev = ck(graft.sources.Tables.events(s, d), "events",
          concat_ws("|", col("event_id"), unix_micros(col("ts")),
            col("user_id"), col("event_type")))
        val ord = ck(graft.sources.Tables.load(s, d, "orders"), "orders",
          concat_ws("|", col("o_orderkey"), col("o_custkey")))
        val cust = ck(graft.sources.Tables.load(s, d, "customer"), "customer",
          concat_ws("|", col("c_custkey"), col("c_nationkey")))
        ev.unionByName(ord).unionByName(cust).orderBy(col("table_name"))
      },
      Some(s"""WITH ev AS (SELECT 'events' AS table_name,
              |    count(*)::BIGINT AS n_rows,
              |    (sum((${dkHash60s("event_id::VARCHAR||'|'||epoch_us(ts)::VARCHAR||'|'||user_id::VARCHAR||'|'||event_type")} % 2305843009213693951)::HUGEINT)
              |      % 2305843009213693951)::BIGINT AS checksum
              |  FROM events),
              |o AS (SELECT 'orders' AS table_name, count(*)::BIGINT AS n_rows,
              |    (sum((${dkHash60s("o_orderkey::VARCHAR||'|'||o_custkey::VARCHAR")} % 2305843009213693951)::HUGEINT)
              |      % 2305843009213693951)::BIGINT AS checksum
              |  FROM orders),
              |c AS (SELECT 'customer' AS table_name, count(*)::BIGINT AS n_rows,
              |    (sum((${dkHash60s("c_custkey::VARCHAR||'|'||c_nationkey::VARCHAR")} % 2305843009213693951)::HUGEINT)
              |      % 2305843009213693951)::BIGINT AS checksum
              |  FROM customer)
              |SELECT * FROM c UNION ALL SELECT * FROM ev
              |UNION ALL SELECT * FROM o
              |ORDER BY table_name""".stripMargin)),

    // Daily bounce rate — the share of sessions that never got a
    // second event, per session-start day: the engagement-quality
    // metric next to session duration. Rides the q_sessionize window
    // machinery; the rollup is a conditional count on the session
    // digest.
    QueryDef("q_bounce_rate",
      (s, d) => {
        val byUser = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        graft.sources.Tables.events(s, d)
          .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
          .withColumn("new_session",
            when(col("prev_ts").isNull ||
              unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L,
              1L).otherwise(0L))
          .withColumn("session_id", sum(col("new_session"))
            .over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy(col("user_id"), col("session_id"))
          .agg(count(lit(1)).as("n_events"),
            to_date(min(col("ts"))).as("day"))
          .groupBy(col("day"))
          .agg(count(lit(1)).as("n_sessions"),
            sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounce"))
          .withColumn("bounce_ppm", expr("n_bounce * 1000000 div n_sessions"))
          .select(col("day").cast("string").as("day"), col("n_sessions"),
            col("n_bounce"), col("bounce_ppm"))
          .orderBy(col("day"))
      },
      Some("""WITH g AS (
             |  SELECT user_id, event_id, ts,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
             |         THEN 1 ELSE 0 END AS new_session
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |s AS (
             |  SELECT user_id, ts,
             |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
             |      AS session_id
             |  FROM g),
             |sess AS (SELECT user_id, session_id, count(*) AS n_events,
             |    min(ts)::DATE AS day
             |  FROM s GROUP BY 1, 2)
             |SELECT day::VARCHAR AS day, count(*)::BIGINT AS n_sessions,
             |  sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)::BIGINT
             |    AS n_bounce,
             |  (sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1000000
             |    // count(*))::BIGINT AS bounce_ppm
             |FROM sess GROUP BY day ORDER BY day""".stripMargin)),

    // Geometric and harmonic means per channel — the two Pythagorean
    // means avg() ignores, both needed for rate/ratio metrics where
    // the arithmetic mean is biased. Computed from rounded-term
    // decimal sums of ln(x) and 1/x (the entropy-sum discipline):
    // gm = exp(Σln x / n), hm = n / Σ(1/x); zero/negative values are
    // excluded (domain requirement) with the exclusion COUNTED so the
    // filter is visible in the output.
    QueryDef("q_geo_harmonic_means",
      (s, d) => {
        graft.sources.Tables.events(s, d)
          .select(col("event_type"), col("value"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("value") <= 0, 1L).otherwise(0L)).as("n_excluded"),
            sum(when(col("value") > 0,
              round(log(col("value")), 9).cast("decimal(20,9)"))).as("__sl"),
            sum(when(col("value") > 0,
              round(lit(1.0) / col("value"), 9).cast("decimal(20,9)"))).as("__si"),
            sum(when(col("value") > 0, 1L).otherwise(0L)).as("__np"))
          .select(col("event_type"), col("n_rows"), col("n_excluded"),
            round(exp(col("__sl").cast("double") / col("__np")), 6)
              .as("geometric_mean"),
            round(col("__np").cast("double") / col("__si").cast("double"), 6)
              .as("harmonic_mean"))
          .orderBy(col("event_type"))
      },
      Some("""WITH e AS (SELECT event_type, value FROM events)
             |SELECT event_type, count(*)::BIGINT AS n_rows,
             |  sum(CASE WHEN value <= 0 THEN 1 ELSE 0 END)::BIGINT
             |    AS n_excluded,
             |  round(exp(sum(CASE WHEN value > 0 THEN
             |      round(ln(value), 9)::DECIMAL(20,9) END)::DOUBLE
             |    / sum(CASE WHEN value > 0 THEN 1 ELSE 0 END)), 6)
             |    AS geometric_mean,
             |  round(sum(CASE WHEN value > 0 THEN 1 ELSE 0 END)::DOUBLE
             |    / sum(CASE WHEN value > 0 THEN
             |        round(1.0 / value, 9)::DECIMAL(20,9) END)::DOUBLE, 6)
             |    AS harmonic_mean
             |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Boxplot five-number summary + Tukey fences per channel — the
    // whisker plot as a table: exact quartiles (one per-group digest),
    // 1.5-IQR fences, and the outlier counts beyond each fence
    // (broadcast-back second pass, the winsorize plan shape). The
    // at-scale switch is the approx-percentile digest twin; the
    // fence-count pass is unchanged.
    QueryDef("q_boxplot_fences",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
        val q = ev.groupBy(col("event_type"))
          .agg(graft.functions.ExactPercentile
            .percentiles(col("value"), Seq(0.0, 0.25, 0.5, 0.75, 1.0)).as("__q"))
          .select(col("event_type"),
            col("__q").getItem(0).as("lo"), col("__q").getItem(1).as("q1"),
            col("__q").getItem(2).as("med"), col("__q").getItem(3).as("q3"),
            col("__q").getItem(4).as("hi"))
        ev.join(broadcast(q), "event_type")
          .groupBy(col("event_type"))
          .agg(max(round(col("lo"), 4)).as("min_v"),
            max(round(col("q1"), 4)).as("q1"),
            max(round(col("med"), 4)).as("median"),
            max(round(col("q3"), 4)).as("q3"),
            max(round(col("hi"), 4)).as("max_v"),
            sum(when(col("value") <
              col("q1") - (col("q3") - col("q1")) * 1.5, 1L).otherwise(0L))
              .as("n_low_outliers"),
            sum(when(col("value") >
              col("q3") + (col("q3") - col("q1")) * 1.5, 1L).otherwise(0L))
              .as("n_high_outliers"))
          .orderBy(col("event_type"))
      },
      Some("""WITH q AS (SELECT event_type,
             |    quantile_cont(value, 0.00) AS lo,
             |    quantile_cont(value, 0.25) AS q1,
             |    quantile_cont(value, 0.50) AS med,
             |    quantile_cont(value, 0.75) AS q3,
             |    quantile_cont(value, 1.00) AS hi
             |  FROM events GROUP BY 1)
             |SELECT e.event_type,
             |  max(round(lo, 4)) AS min_v, max(round(q1, 4)) AS q1,
             |  max(round(med, 4)) AS median, max(round(q3, 4)) AS q3,
             |  max(round(hi, 4)) AS max_v,
             |  sum(CASE WHEN e.value < q.q1 - (q.q3 - q.q1) * 1.5
             |    THEN 1 ELSE 0 END)::BIGINT AS n_low_outliers,
             |  sum(CASE WHEN e.value > q.q3 + (q.q3 - q.q1) * 1.5
             |    THEN 1 ELSE 0 END)::BIGINT AS n_high_outliers
             |FROM events e JOIN q USING (event_type)
             |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin)),

    // The engine's CUSTOM Catalyst expressions through the SQL TEXT
    // surface — `graft_bow_md5` (and 15 siblings) are registered via
    // SparkSessionExtensions.injectFunction, so a pure-SQL user gets
    // the same fused kernels the DSL uses. This query runs an exact
    // bag-of-words dedup entirely as a SQL string and must hash-match
    // the DuckDB spelling of the same fingerprint — proving the
    // injected function computes the documented, engine-portable
    // value, not something private to the DSL path.
    QueryDef("q_sql_custom_funcs",
      (s, d) => {
        graft.sources.Tables.load(s, d, "documents")
          .createOrReplaceTempView("g_documents")
        s.sql("""
          SELECT doc_id, graft_bow_md5(text) AS bow_md5,
                 count(*) OVER (PARTITION BY graft_bow_md5(text))
                   AS group_size
          FROM g_documents ORDER BY doc_id""")
          .withColumn("group_size", col("group_size").cast("long"))
      },
      Some("""WITH t AS (SELECT doc_id,
             |    md5(array_to_string(list_sort(list_distinct(
             |      string_split(lower(text), ' '))), ' ')) AS bow_md5
             |  FROM documents)
             |SELECT doc_id, bow_md5,
             |  (count(*) OVER (PARTITION BY bow_md5))::BIGINT AS group_size
             |FROM t ORDER BY doc_id""".stripMargin)),

    // The SQL TEXT entry point — the same engine surface through
    // `spark.sql(...)` over registered temp views instead of the
    // DataFrame DSL: Catalyst parses, analyzes, and optimizes the
    // string to the identical physical plan the DSL would get (the
    // proof is this query hash-matching its oracle like every DSL
    // query does). A user migrating SQL workloads runs this path.
    QueryDef("q_sql_text_api",
      (s, d) => {
        graft.sources.Tables.load(s, d, "orders").createOrReplaceTempView("g_orders")
        graft.sources.Tables.load(s, d, "customer").createOrReplaceTempView("g_customer")
        s.sql("""
          SELECT c.c_mktsegment AS segment,
                 count(*) AS n_orders,
                 sum(CAST(o.o_totalprice AS DECIMAL(14,2)))
                   AS total_price,
                 count(DISTINCT o.o_custkey) AS n_customers
          FROM g_orders o
          JOIN g_customer c ON c.c_custkey = o.o_custkey
          GROUP BY c.c_mktsegment
          ORDER BY segment""")
          .withColumn("total_price", col("total_price").cast("double"))
      },
      Some("""SELECT c.c_mktsegment AS segment, count(*) AS n_orders,
             |  sum(CAST(o.o_totalprice AS DECIMAL(14,2)))::DOUBLE
             |    AS total_price,
             |  count(DISTINCT o.o_custkey)::BIGINT AS n_customers
             |FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
             |GROUP BY c.c_mktsegment ORDER BY segment""".stripMargin)),

    // Cramér's V — the chi-square association normalized to [0,1] so
    // it is comparable ACROSS tables: V = sqrt(chi2 / (n·(min(r,c)−1))).
    // Same contingency digest as q_chisq_independence; the extra
    // moments (row/col cardinalities) ride the same aggregation.
    QueryDef("q_cramers_v",
      (s, d) => {
        val obs = graft.sources.Tables.events(s, d)
          .groupBy(col("event_type"), dayofweek(col("ts")).as("dow"))
          .agg(count(lit(1)).as("n"))
        val rowT = obs.groupBy(col("event_type")).agg(sum(col("n")).as("n_row"))
        val colT = obs.groupBy(col("dow")).agg(sum(col("n")).as("n_col"))
        val tot = obs.agg(sum(col("n")).as("total"))
        val dims = obs.agg(count_distinct(col("event_type")).as("r"),
          count_distinct(col("dow")).as("c"))
        obs.join(broadcast(rowT), "event_type")
          .join(broadcast(colT), "dow")
          .crossJoin(broadcast(tot))
          .withColumn("__exp", col("n_row").cast("double") *
            col("n_col").cast("double") / col("total").cast("double"))
          .withColumn("__term", round((col("n").cast("double") - col("__exp")) *
            (col("n").cast("double") - col("__exp")) / col("__exp"), 9)
            .cast("decimal(20,9)"))
          .agg(max(col("total")).as("n"),
            sum(col("__term")).as("__chi"))
          .crossJoin(broadcast(dims))
          .select(col("n"), round(col("__chi").cast("double"), 4).as("chi_sq"),
            round(sqrt(col("__chi").cast("double") /
              (col("n") * (least(col("r"), col("c")) - 1)).cast("double")), 6)
              .as("cramers_v"))
      },
      Some("""WITH o AS (SELECT event_type, dayofweek(ts) AS dow, count(*) AS n
             |  FROM events GROUP BY 1, 2),
             |r AS (SELECT event_type, sum(n)::BIGINT AS n_row FROM o GROUP BY 1),
             |c AS (SELECT dow, sum(n)::BIGINT AS n_col FROM o GROUP BY 1),
             |t AS (SELECT sum(n)::BIGINT AS total FROM o),
             |dims AS (SELECT count(DISTINCT event_type)::BIGINT AS r,
             |    count(DISTINCT dow)::BIGINT AS c FROM o),
             |cells AS (SELECT
             |    round((o.n::DOUBLE - r.n_row::DOUBLE * c.n_col::DOUBLE / t.total::DOUBLE)
             |      * (o.n::DOUBLE - r.n_row::DOUBLE * c.n_col::DOUBLE / t.total::DOUBLE)
             |      / (r.n_row::DOUBLE * c.n_col::DOUBLE / t.total::DOUBLE), 9)::DECIMAL(20,9)
             |      AS term, t.total
             |  FROM o JOIN r USING (event_type) JOIN c USING (dow), t),
             |agg AS (SELECT max(total)::BIGINT AS n, sum(term) AS chi
             |  FROM cells)
             |SELECT n, round(chi::DOUBLE, 4) AS chi_sq,
             |  round(sqrt(chi::DOUBLE / (n * (least(r, c) - 1))::DOUBLE), 6)
             |    AS cramers_v
             |FROM agg, dims""".stripMargin)),

    // Cohen's d — the standardized effect size between two groups'
    // value distributions (purchase vs click): d = (m1 − m2) / s_pooled
    // with the pooled SD from exact milli-integer Σ/Σ² per arm (the
    // Welch-t digest discipline; the t-test says "is it real", d says
    // "is it big").
    QueryDef("q_cohens_d",
      (s, d) => {
        val g = graft.sources.Tables.events(s, d)
          .filter(col("event_type").isin("purchase", "click"))
          .select(col("event_type"),
            floor(col("value") * 1000).cast("long").as("vm"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("vm")).as("sv"),
            sum(col("vm") * col("vm")).as("qv"))
        g.agg(
            sum(when(col("event_type") === "purchase", col("n"))).as("n1"),
            sum(when(col("event_type") === "purchase", col("sv"))).as("s1"),
            sum(when(col("event_type") === "purchase", col("qv"))).as("q1"),
            sum(when(col("event_type") === "click", col("n"))).as("n2"),
            sum(when(col("event_type") === "click", col("sv"))).as("s2"),
            sum(when(col("event_type") === "click", col("qv"))).as("q2"))
          .select(col("n1"), col("n2"),
            round((col("s1").cast("double") / col("n1") -
              col("s2").cast("double") / col("n2")) / lit(1000.0), 6)
              .as("mean_diff"),
            round(((col("s1").cast("double") / col("n1") -
              col("s2").cast("double") / col("n2")) /
              sqrt((
                (col("q1").cast("double") -
                  col("s1").cast("double") * col("s1").cast("double") / col("n1")) +
                (col("q2").cast("double") -
                  col("s2").cast("double") * col("s2").cast("double") / col("n2"))
              ) / (col("n1") + col("n2") - 2).cast("double"))), 6)
              .as("cohens_d"))
      },
      Some("""WITH e AS (SELECT event_type,
             |    floor(value * 1000)::BIGINT AS vm FROM events
             |  WHERE event_type IN ('purchase', 'click')),
             |g AS (SELECT event_type, count(*)::BIGINT AS n,
             |    sum(vm)::BIGINT AS sv, sum(vm * vm)::BIGINT AS qv
             |  FROM e GROUP BY 1),
             |w AS (SELECT
             |    sum(CASE WHEN event_type = 'purchase' THEN n END)::BIGINT AS n1,
             |    sum(CASE WHEN event_type = 'purchase' THEN sv END)::BIGINT AS s1,
             |    sum(CASE WHEN event_type = 'purchase' THEN qv END)::BIGINT AS q1,
             |    sum(CASE WHEN event_type = 'click' THEN n END)::BIGINT AS n2,
             |    sum(CASE WHEN event_type = 'click' THEN sv END)::BIGINT AS s2,
             |    sum(CASE WHEN event_type = 'click' THEN qv END)::BIGINT AS q2
             |  FROM g)
             |SELECT n1, n2,
             |  round((s1::DOUBLE / n1 - s2::DOUBLE / n2) / 1000.0, 6)
             |    AS mean_diff,
             |  round((s1::DOUBLE / n1 - s2::DOUBLE / n2)
             |    / sqrt(((q1::DOUBLE - s1::DOUBLE * s1::DOUBLE / n1)
             |          + (q2::DOUBLE - s2::DOUBLE * s2::DOUBLE / n2))
             |        / (n1 + n2 - 2)::DOUBLE), 6) AS cohens_d
             |FROM w""".stripMargin)),

    // Theil's U (uncertainty coefficient) — the ASYMMETRIC categorical
    // association: how much knowing the hour of day reduces
    // uncertainty about the event type, U(type|hour) =
    // (H(type) − H(type|hour)) / H(type). All entropies from the same
    // contingency digest with rounded-term decimal sums (the
    // user-entropy discipline); unlike Cramér's V this tells you the
    // DIRECTION of predictability.
    QueryDef("q_theils_u",
      (s, d) => {
        val obs = graft.sources.Tables.events(s, d)
          .groupBy(col("event_type"), hour(col("ts")).as("hr"))
          .agg(count(lit(1)).as("n")).persist()
        val tot = obs.agg(sum(col("n")).as("nn"))
        // H(type): marginal entropy
        val hType = obs.groupBy(col("event_type")).agg(sum(col("n")).as("nt"))
          .crossJoin(broadcast(tot))
          .select(round((-(col("nt").cast("double") / col("nn")) *
            log(col("nt").cast("double") / col("nn"))), 9)
            .cast("decimal(20,9)").as("__t"))
          .agg(sum(col("__t")).as("h_type"))
        // H(type|hour): Σ_h p(h) · H(type|h), expanded per cell
        val hCol = obs.groupBy(col("hr")).agg(sum(col("n")).as("nh"))
        val hCond = obs.join(broadcast(hCol), "hr")
          .crossJoin(broadcast(tot))
          .select(round((-(col("n").cast("double") / col("nn")) *
            log(col("n").cast("double") / col("nh"))), 9)
            .cast("decimal(20,9)").as("__t"))
          .agg(sum(col("__t")).as("h_cond"))
        QueryDef.digest(s, hType.crossJoin(hCond)
          .select(
            round(col("h_type").cast("double"), 6).as("h_type"),
            round(col("h_cond").cast("double"), 6).as("h_type_given_hour"),
            round((col("h_type") - col("h_cond")).cast("double") /
              col("h_type").cast("double"), 6).as("theils_u")), obs)
      },
      Some("""WITH o AS (SELECT event_type, hour(ts) AS hr, count(*) AS n
             |  FROM events GROUP BY 1, 2),
             |t AS (SELECT sum(n)::BIGINT AS nn FROM o),
             |ht AS (SELECT sum(round(-(nt::DOUBLE / nn)
             |      * ln(nt::DOUBLE / nn), 9)::DECIMAL(20,9)) AS h_type
             |  FROM (SELECT event_type, sum(n)::BIGINT AS nt FROM o
             |    GROUP BY 1), t),
             |hh AS (SELECT hr, sum(n)::BIGINT AS nh FROM o GROUP BY 1),
             |hc AS (SELECT sum(round(-(o.n::DOUBLE / nn)
             |      * ln(o.n::DOUBLE / nh), 9)::DECIMAL(20,9)) AS h_cond
             |  FROM o JOIN hh USING (hr), t)
             |SELECT round(h_type::DOUBLE, 6) AS h_type,
             |  round(h_cond::DOUBLE, 6) AS h_type_given_hour,
             |  round((h_type - h_cond)::DOUBLE / h_type::DOUBLE, 6)
             |    AS theils_u
             |FROM ht, hc""".stripMargin)),

    // LTTB downsampling (Steinarsson 2013, the parallel variant) — the
    // dashboard-feed reducer: compress the 'view' value series to ≤100
    // visually-representative points by keeping, per time bucket, the
    // point forming the largest triangle with the NEIGHBOR BUCKET MEAN
    // points (the standard parallelization of LTTB's sequential
    // previous-selected-point rule; first/last buckets keep their
    // first/last point). Shapes: time-range bucketing needs no global
    // rank; the 100-row bucket digest broadcasts back for the
    // neighbor means; and the triangle argmax is EXACT — the area
    // comparison is cleared of its rational denominators and computed
    // in DECIMAL(38,0)/HUGEINT integer arithmetic (x as seconds from
    // series start, y in milli-units; products stay < 1e38 past
    // sf100), so the selected set is bit-deterministic on both
    // engines, no float-area ties.
    QueryDef("q_lttb_downsample",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .filter(col("event_type") === "view")
          .select(col("event_id"),
            expr("unix_micros(ts) div 1000000").as("xa"),
            floor(col("value") * 1000).cast("long").as("y"))
        val span = ev.agg(min(col("xa")).as("t0"), max(col("xa")).as("t1"))
        // pts feeds the bucket digest AND the per-point scoring join:
        // the lazy persist shares one cached RDD between them inside
        // the single collect below (r12 — was a double scan)
        val pts = ev.crossJoin(broadcast(span))
          .select(col("event_id"), (col("xa") - col("t0")).as("x"), col("y"),
            expr("(xa - t0) * 100 div (t1 - t0 + 1)").as("b"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val dig = pts.groupBy(col("b"))
          .agg(count(lit(1)).as("c"), sum(col("x")).as("sx"),
            sum(col("y")).as("sy"))
        val nb = dig.select(col("b"), col("c"), col("sx"), col("sy"))
        val withN = pts
          .join(broadcast(nb.toDF("bp", "cp", "sxp", "syp")),
            col("b") - 1 === col("bp"), "left")
          .join(broadcast(nb.toDF("bn", "cn", "sxn", "syn")),
            col("b") + 1 === col("bn"), "left")
        // cast the OPERANDS to decimal, not the products: a long*long
        // pre-product silently wraps in Spark (and raises in DuckDB)
        // once bucket sums pass ~3e9 — every multiply must already be
        // decimal(38,0) arithmetic
        val dec = "decimal(38,0)"
        def dc(n: String) = col(n).cast(dec)
        val score = abs(
          ((dc("sxp") * dc("cn") - dc("sxn") * dc("cp")) *
            (dc("y") * dc("cp") - dc("syp"))) -
          ((dc("sxp") - dc("x") * dc("cp")) *
            (dc("syn") * dc("cp") - dc("syp") * dc("cn"))))
        val wA = Window.partitionBy(col("b"))
          .orderBy(col("score").desc, col("x"), col("event_id"))
        val wF = Window.partitionBy(col("b"))
          .orderBy(col("x"), col("event_id"))
        val wL = Window.partitionBy(col("b"))
          .orderBy(col("x").desc, col("event_id").desc)
        val res = withN
          .withColumn("score",
            when(col("cp").isNotNull && col("cn").isNotNull, score))
          .withColumn("ra", row_number().over(wA))
          .withColumn("rf", row_number().over(wF))
          .withColumn("rl", row_number().over(wL))
          .crossJoin(broadcast(dig.agg(max(col("b")).as("bmax"))))
          .filter(
            when(col("b") === 0, col("rf") === 1)
              .when(col("b") === col("bmax"), col("rl") === 1)
              .when(col("cp").isNull || col("cn").isNull, col("rf") === 1)
              .otherwise(col("ra") === 1))
          .select(col("b").as("bucket"), col("x").as("x_sec"),
            col("y").as("value_milli"))
          .orderBy(col("bucket"))
        QueryDef.digest(s, res, pts)
      },
      Some("""WITH ev AS (SELECT event_id, floor(epoch(ts))::BIGINT AS xa,
             |    floor(value * 1000)::BIGINT AS y
             |  FROM events WHERE event_type = 'view'),
             |span AS (SELECT min(xa) AS t0, max(xa) AS t1 FROM ev),
             |pts AS (SELECT event_id, xa - t0 AS x, y,
             |    (xa - t0) * 100 // (t1 - t0 + 1) AS b
             |  FROM ev, span),
             |dig AS (SELECT b, count(*)::BIGINT AS c, sum(x)::BIGINT AS sx,
             |    sum(y)::BIGINT AS sy
             |  FROM pts GROUP BY 1),
             |mx AS (SELECT max(b) AS bmax FROM dig),
             |wn AS (SELECT p.*, dp.c AS cp, dp.sx AS sxp, dp.sy AS syp,
             |    dn.c AS cn, dn.sx AS sxn, dn.sy AS syn
             |  FROM pts p LEFT JOIN dig dp ON dp.b = p.b - 1
             |    LEFT JOIN dig dn ON dn.b = p.b + 1),
             |sc AS (SELECT event_id, x, y, b, cp, cn,
             |    CASE WHEN cp IS NOT NULL AND cn IS NOT NULL THEN
             |      abs((sxp::HUGEINT * cn - sxn::HUGEINT * cp)
             |            * (y::HUGEINT * cp - syp)
             |        - (sxp::HUGEINT - x::HUGEINT * cp)
             |            * (syn::HUGEINT * cp - syp::HUGEINT * cn))
             |    END AS score
             |  FROM wn),
             |rk AS (SELECT *,
             |    row_number() OVER (PARTITION BY b
             |      ORDER BY score DESC, x, event_id) AS ra,
             |    row_number() OVER (PARTITION BY b
             |      ORDER BY x, event_id) AS rf,
             |    row_number() OVER (PARTITION BY b
             |      ORDER BY x DESC, event_id DESC) AS rl
             |  FROM sc)
             |SELECT b AS bucket, x AS x_sec, y AS value_milli
             |FROM rk, mx
             |WHERE CASE WHEN b = 0 THEN rf = 1
             |  WHEN b = bmax THEN rl = 1
             |  WHEN cp IS NULL OR cn IS NULL THEN rf = 1
             |  ELSE ra = 1 END
             |ORDER BY bucket""".stripMargin)),

    // Split-conformal prediction intervals (Vovk et al.; Lei et al.
    // 2018) — the distribution-free uncertainty wrapper: calibration
    // half (even event_id) fits the trivial per-type mean predictor
    // and takes the ⌈0.9(n+1)⌉-th smallest absolute residual as the
    // 90% interval half-width; the held-out half then measures the
    // empirical coverage that conformal theory guarantees ≥ 90%.
    // Everything rides EXACT integers: residuals are compared scaled
    // by n_cal (|v·n − Σv| — same order as |v − mean|, no division),
    // the quantile is an order statistic via one per-type window, and
    // coverage is an integer ppm. One shuffle by event_type.
    QueryDef("q_conformal_coverage",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .select(col("event_type"), col("event_id"),
            floor(col("value") * 1000).cast("long").as("vm"),
            (col("event_id") % 2 === 0).as("is_cal"))
        val cs = ev.filter(col("is_cal")).groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_cal"), sum(col("vm")).as("s_cal"))
        val r = ev.join(broadcast(cs), "event_type")
          .withColumn("resid", abs(col("vm") * col("n_cal") - col("s_cal")))
        val wq = Window.partitionBy(col("event_type"))
          .orderBy(col("resid"), col("event_id"))
        val qh = r.filter(col("is_cal"))
          .withColumn("rk", row_number().over(wq))
          .filter(col("rk") === expr("least((9 * n_cal + 18) div 10, n_cal)"))
          .select(col("event_type"), col("resid").as("q_scaled"))
        r.filter(!col("is_cal"))
          .join(broadcast(qh), "event_type")
          .groupBy(col("event_type"))
          .agg(max(col("n_cal")).as("n_cal"),
            count(lit(1)).as("n_test"),
            max(round(col("q_scaled").cast("double") /
              (col("n_cal").cast("double") * 1000.0), 6)).as("q_hat"),
            sum(when(col("resid") <= col("q_scaled"), 1L).otherwise(0L))
              .as("n_cov"))
          .withColumn("coverage_ppm", expr("n_cov * 1000000 div n_test"))
          .orderBy(col("event_type"))
      },
      Some("""WITH ev AS (SELECT event_type, event_id,
             |    floor(value * 1000)::BIGINT AS vm,
             |    (event_id % 2 = 0) AS is_cal
             |  FROM events),
             |cs AS (SELECT event_type, count(*)::BIGINT AS n_cal,
             |    sum(vm)::BIGINT AS s_cal
             |  FROM ev WHERE is_cal GROUP BY 1),
             |r AS (SELECT ev.*, cs.n_cal, cs.s_cal,
             |    abs(ev.vm * cs.n_cal - cs.s_cal)::BIGINT AS resid
             |  FROM ev JOIN cs USING (event_type)),
             |qh AS (SELECT event_type, resid AS q_scaled FROM (
             |    SELECT event_type, resid, n_cal,
             |      row_number() OVER (PARTITION BY event_type
             |        ORDER BY resid, event_id) AS rk
             |    FROM r WHERE is_cal)
             |  WHERE rk = least((9 * n_cal + 18) // 10, n_cal))
             |SELECT r.event_type, max(r.n_cal)::BIGINT AS n_cal,
             |  count(*)::BIGINT AS n_test,
             |  max(round(q_scaled::DOUBLE / (r.n_cal::DOUBLE * 1000.0), 6))
             |    AS q_hat,
             |  sum(CASE WHEN resid <= q_scaled THEN 1 ELSE 0 END)::BIGINT
             |    AS n_cov,
             |  (sum(CASE WHEN resid <= q_scaled THEN 1 ELSE 0 END) * 1000000
             |    // count(*))::BIGINT AS coverage_ppm
             |FROM r JOIN qh USING (event_type)
             |WHERE NOT is_cal
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Benjamini-Hochberg FDR control (1995) — the multiple-testing
    // step the A/B family (z/t/chi²/Tukey) still lacked: screen all
    // (event_type × hour-of-day) cells for mean-value deviations from
    // their type's mean, convert z-scores to two-sided p-values, and
    // reject at FDR α=0.05 via the step-up rule p_(k) ≤ k·α/m. The
    // normal CDF uses the Zelen-Severo polynomial (A&S 26.2.17) on the
    // 6-dp-rounded z — identical closed form on both engines — and p
    // is rounded once at 9 dp BEFORE ranking, so the BH ordering and
    // threshold index are engine-independent. All sums are exact
    // milli-ints; the BH pass runs on the 120-cell digest.
    QueryDef("q_fdr_bh",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .select(col("event_type"), hour(col("ts")).as("hr"),
            floor(col("value") * 1000).cast("long").as("vm"))
        val cell = ev.groupBy(col("event_type"), col("hr"))
          .agg(count(lit(1)).as("nc"), sum(col("vm")).as("sc"))
        val typ = ev.groupBy(col("event_type"))
          .agg(count(lit(1)).as("nt"), sum(col("vm")).as("st"),
            sum(col("vm") * col("vm")).as("qt"))
        val z0 = cell.join(broadcast(typ), "event_type")
          .filter(col("nc") >= 30)
          .withColumn("mt", col("st").cast("double") / col("nt").cast("double"))
          .withColumn("vt",
            (col("qt").cast("double") -
              col("st").cast("double") * col("st").cast("double") /
                col("nt").cast("double")) / (col("nt").cast("double") - 1.0))
          .withColumn("z", round(
            (col("sc").cast("double") / col("nc").cast("double") - col("mt")) /
              sqrt(col("vt") / col("nc").cast("double")), 6))
        // Zelen-Severo Φ(x) for x = |z| (rounded), then p = 2(1 − Φ)
        val p = z0
          .withColumn("ax", abs(col("z")))
          .withColumn("tv", lit(1.0) / (lit(1.0) + lit(0.2316419) * col("ax")))
          .withColumn("pdf",
            exp(col("ax") * col("ax") * lit(-0.5)) / lit(2.5066282746310002))
          .withColumn("p", round(lit(2.0) * col("pdf") *
            (((((lit(1.330274429) * col("tv") - lit(1.821255978)) * col("tv") +
              lit(1.781477937)) * col("tv") - lit(0.356563782)) * col("tv") +
              lit(0.319381530)) * col("tv")), 9))
        val wr = Window.orderBy(col("p"), col("event_type"), col("hr"))
        val m = p.agg(count(lit(1)).as("m"))
        val ranked = p.withColumn("rank", row_number().over(wr))
          .crossJoin(broadcast(m))
          .withColumn("hit",
            when(col("p") <= col("rank").cast("double") * lit(0.05) /
              col("m").cast("double"), col("rank")).otherwise(lit(0L)))
        val kmax = ranked.agg(max(col("hit")).as("k_max"))
        ranked.crossJoin(broadcast(kmax))
          .select(col("event_type"), col("hr"), col("nc").as("n"),
            col("z"), col("p"), col("rank"),
            (col("rank") <= col("k_max")).as("bh_reject"))
          .orderBy(col("event_type"), col("hr"))
      },
      Some("""WITH ev AS (SELECT event_type, hour(ts) AS hr,
             |    floor(value * 1000)::BIGINT AS vm
             |  FROM events),
             |cell AS (SELECT event_type, hr, count(*)::BIGINT AS nc,
             |    sum(vm)::BIGINT AS sc
             |  FROM ev GROUP BY 1, 2),
             |typ AS (SELECT event_type, count(*)::BIGINT AS nt,
             |    sum(vm)::BIGINT AS st, sum(vm * vm)::BIGINT AS qt
             |  FROM ev GROUP BY 1),
             |z0 AS (SELECT cell.event_type, hr, nc,
             |    round((sc::DOUBLE / nc::DOUBLE - st::DOUBLE / nt::DOUBLE)
             |      / sqrt(((qt::DOUBLE - st::DOUBLE * st::DOUBLE / nt::DOUBLE)
             |          / (nt::DOUBLE - 1.0)) / nc::DOUBLE), 6) AS z
             |  FROM cell JOIN typ USING (event_type) WHERE nc >= 30),
             |pv AS (SELECT event_type, hr, nc, z,
             |    round(2.0 * (exp(abs(z) * abs(z) * -0.5) / 2.5066282746310002)
             |      * (((((1.330274429 * (1.0 / (1.0 + 0.2316419 * abs(z)))
             |          - 1.821255978) * (1.0 / (1.0 + 0.2316419 * abs(z)))
             |          + 1.781477937) * (1.0 / (1.0 + 0.2316419 * abs(z)))
             |          - 0.356563782) * (1.0 / (1.0 + 0.2316419 * abs(z)))
             |          + 0.319381530) * (1.0 / (1.0 + 0.2316419 * abs(z)))),
             |      9) AS p
             |  FROM z0),
             |m AS (SELECT count(*)::BIGINT AS m FROM pv),
             |rk AS (SELECT pv.*,
             |    row_number() OVER (ORDER BY p, event_type, hr) AS rank
             |  FROM pv),
             |km AS (SELECT max(CASE WHEN p <= rank::DOUBLE * 0.05 / m::DOUBLE
             |    THEN rank ELSE 0 END)::BIGINT AS k_max
             |  FROM rk, m)
             |SELECT event_type, hr, nc AS n, z, p, rank,
             |  (rank <= k_max) AS bh_reject
             |FROM rk, km
             |ORDER BY event_type, hr""".stripMargin)),

    // Iterative proportional fitting / raking (Deming & Stephan 1940)
    // — the survey-weighting step: rake the FIRST half-period's
    // (event_type × day-of-week) activity table onto the SECOND
    // half's row and column margins, so the fitted weights say what
    // the old mix would look like under the new marginal behavior.
    // The contingency digest is catalog-sized (5×7) at ANY corpus
    // scale, so like the Markov/Bradley-Terry fits it is collected
    // and iterated exactly on the driver (8 alternating row/column
    // scalings in integer milli-units, floor division each step);
    // the oracle replays the identical 8 iterations as generated
    // MATERIALIZED CTEs. The only facts-scale work is the two
    // half-period aggregates.
    QueryDef("q_ipf_raking",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .select(col("event_type"), dayofweek(col("ts")).as("dow"),
            expr("unix_micros(ts)").as("tu"))
        val mid = ev.agg(((min(col("tu")) + max(col("tu"))) / 2)
          .cast("long").as("mid"))
        val tagged = ev.crossJoin(broadcast(mid))
          .withColumn("half1", col("tu") < col("mid"))
        val n1 = tagged.filter(col("half1"))
          .groupBy(col("event_type"), col("dow"))
          .agg(count(lit(1)).as("n")).collect()
          .map(r => ((r.getString(0), r.getInt(1)), r.getLong(2))).toMap
        val h2 = tagged.filter(!col("half1"))
        val rm = h2.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val cm = h2.groupBy(col("dow")).agg(count(lit(1)).as("n"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        // cells present in half 1 whose margins exist in half 2
        val cells = n1.keys.toSeq
          .filter { case (e, dw) => rm.contains(e) && cm.contains(dw) }
          .sorted
        var w: Map[(String, Int), Long] =
          cells.map(c => c -> n1(c) * 1000L).toMap
        for (_ <- 1 to 8) {
          val se = cells.groupBy(_._1).map { case (e, cs) =>
            e -> cs.map(w).sum }
          w = w.map { case ((e, dw), v) =>
            ((e, dw), v * (rm(e) * 1000L) / se(e)) }
          val td = cells.groupBy(_._2).map { case (dw, cs) =>
            dw -> cs.map(w).sum }
          w = w.map { case ((e, dw), v) =>
            ((e, dw), v * (cm(dw) * 1000L) / td(dw)) }
        }
        val spark2 = s
        import spark2.implicits._
        cells.map { case (e, dw) =>
          (e, dw, n1((e, dw)), rm(e), cm(dw), w((e, dw))) }
          .toDF("event_type", "dow", "n_first", "row_target", "col_target",
            "fitted_milli")
          .orderBy(col("event_type"), col("dow"))
      },
      Some {
        val iters = (1 to 8).map { i =>
          s"""s$i AS MATERIALIZED (SELECT event_type, sum(wm)::BIGINT AS se
             |  FROM w${i - 1} GROUP BY 1),
             |wr$i AS MATERIALIZED (SELECT w.event_type, w.dow,
             |    (w.wm * (rm.n * 1000) // s$i.se)::BIGINT AS wm
             |  FROM w${i - 1} w JOIN s$i USING (event_type)
             |    JOIN rm ON rm.event_type = w.event_type),
             |t$i AS MATERIALIZED (SELECT dow, sum(wm)::BIGINT AS td
             |  FROM wr$i GROUP BY 1),
             |w$i AS MATERIALIZED (SELECT w.event_type, w.dow,
             |    (w.wm * (cm.n * 1000) // t$i.td)::BIGINT AS wm
             |  FROM wr$i w JOIN t$i USING (dow)
             |    JOIN cm ON cm.dow = w.dow)""".stripMargin
        }.mkString(",\n")
        s"""WITH ev AS MATERIALIZED (SELECT event_type,
           |    dayofweek(ts) + 1 AS dow, epoch_us(ts) AS tu
           |  FROM events),
           |mid AS MATERIALIZED (SELECT (min(tu) + max(tu)) // 2 AS mid FROM ev),
           |n1 AS MATERIALIZED (SELECT event_type, dow, count(*)::BIGINT AS n
           |  FROM ev, mid WHERE tu < mid GROUP BY 1, 2),
           |rm AS MATERIALIZED (SELECT event_type, count(*)::BIGINT AS n
           |  FROM ev, mid WHERE tu >= mid GROUP BY 1),
           |cm AS MATERIALIZED (SELECT dow, count(*)::BIGINT AS n
           |  FROM ev, mid WHERE tu >= mid GROUP BY 1),
           |w0 AS MATERIALIZED (SELECT n1.event_type, n1.dow,
           |    (n1.n * 1000)::BIGINT AS wm
           |  FROM n1 JOIN rm USING (event_type) JOIN cm USING (dow)),
           |$iters
           |SELECT w.event_type, w.dow, n1.n AS n_first,
           |  rm.n AS row_target, cm.n AS col_target, w.wm AS fitted_milli
           |FROM w8 w JOIN n1 USING (event_type, dow)
           |  JOIN rm ON rm.event_type = w.event_type
           |  JOIN cm ON cm.dow = w.dow
           |ORDER BY w.event_type, w.dow""".stripMargin
      }),

    // Granger-style lead-lag test on the daily digest (Granger 1969,
    // the lag-1 bivariate special case): does yesterday's click count
    // improve today's purchase-count prediction beyond yesterday's
    // purchases alone — and the reverse? Both OLS fits (restricted
    // y_t ~ y_{t-1}; full y_t ~ y_{t-1} + x_{t-1}) have closed forms
    // off NINE exact integer sums of the day-digest series, so the
    // F statistic is scalar post-agg arithmetic like the Welch t.
    // One shuffle to the calendar-sized daily digest; the lag window
    // is a global sort over that digest (bounded by the calendar,
    // never the event count).
    QueryDef("q_granger_daily",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .filter(col("event_type").isin("click", "purchase"))
          .groupBy(to_date(col("ts")).as("day"))
          .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("ck"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("pu"))
        val w = Window.orderBy(col("day"))
        val lagged = daily
          .withColumn("ck1", lag(col("ck"), 1).over(w))
          .withColumn("pu1", lag(col("pu"), 1).over(w))
          .filter(col("ck1").isNotNull)
        def fit(dir: String, yc: String, y1c: String, x1c: String) = {
          val (y, a, b) = (col(yc), col(y1c), col(x1c))
          lagged.agg(count(lit(1)).as("n"),
            sum(y).as("su"), sum(a).as("sa"), sum(b).as("sb"),
            sum(y * y).as("suu"), sum(a * a).as("saa"),
            sum(b * b).as("sbb"), sum(y * a).as("sua"),
            sum(y * b).as("sub"), sum(a * b).as("sab"))
            .withColumn("cuu",
              (col("n") * col("suu") - col("su") * col("su")).cast("double"))
            .withColumn("caa",
              (col("n") * col("saa") - col("sa") * col("sa")).cast("double"))
            .withColumn("cbb",
              (col("n") * col("sbb") - col("sb") * col("sb")).cast("double"))
            .withColumn("cua",
              (col("n") * col("sua") - col("su") * col("sa")).cast("double"))
            .withColumn("cub",
              (col("n") * col("sub") - col("su") * col("sb")).cast("double"))
            .withColumn("cab",
              (col("n") * col("sab") - col("sa") * col("sb")).cast("double"))
            .withColumn("rss_r",
              col("cuu") - col("cua") * col("cua") / col("caa"))
            .withColumn("det",
              col("caa") * col("cbb") - col("cab") * col("cab"))
            .withColumn("rss_f", col("cuu") -
              ((col("cua") * col("cbb") - col("cub") * col("cab")) * col("cua") +
                (col("cub") * col("caa") - col("cua") * col("cab")) * col("cub"))
                / col("det"))
            .select(lit(dir).as("direction"), col("n").as("n_days"),
              round((col("rss_r") - col("rss_f")) /
                (col("rss_f") / (col("n").cast("double") - 3.0)), 6)
                .as("f_stat"),
              round((col("rss_r") - col("rss_f")) / col("rss_r"), 6)
                .as("r2_gain"))
        }
        fit("click_to_purchase", "pu", "pu1", "ck1")
          .unionAll(fit("purchase_to_click", "ck", "ck1", "pu1"))
          .orderBy(col("direction"))
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day,
             |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS ck,
             |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS pu
             |  FROM events WHERE event_type IN ('click', 'purchase')
             |  GROUP BY 1),
             |lg AS (SELECT day, ck, pu,
             |    lag(ck) OVER (ORDER BY day) AS ck1,
             |    lag(pu) OVER (ORDER BY day) AS pu1
             |  FROM daily),
             |lv AS (SELECT * FROM lg WHERE ck1 IS NOT NULL),
             |fits AS (
             |  SELECT 'click_to_purchase' AS direction, count(*)::BIGINT AS n,
             |    sum(pu)::BIGINT AS su, sum(pu1)::BIGINT AS sa,
             |    sum(ck1)::BIGINT AS sb, sum(pu * pu)::BIGINT AS suu,
             |    sum(pu1 * pu1)::BIGINT AS saa, sum(ck1 * ck1)::BIGINT AS sbb,
             |    sum(pu * pu1)::BIGINT AS sua, sum(pu * ck1)::BIGINT AS sub,
             |    sum(pu1 * ck1)::BIGINT AS sab
             |  FROM lv
             |  UNION ALL
             |  SELECT 'purchase_to_click', count(*)::BIGINT,
             |    sum(ck)::BIGINT, sum(ck1)::BIGINT, sum(pu1)::BIGINT,
             |    sum(ck * ck)::BIGINT, sum(ck1 * ck1)::BIGINT,
             |    sum(pu1 * pu1)::BIGINT, sum(ck * ck1)::BIGINT,
             |    sum(ck * pu1)::BIGINT, sum(ck1 * pu1)::BIGINT
             |  FROM lv),
             |cc AS (SELECT direction, n,
             |    (n * suu - su * su)::DOUBLE AS cuu,
             |    (n * saa - sa * sa)::DOUBLE AS caa,
             |    (n * sbb - sb * sb)::DOUBLE AS cbb,
             |    (n * sua - su * sa)::DOUBLE AS cua,
             |    (n * sub - su * sb)::DOUBLE AS cub,
             |    (n * sab - sa * sb)::DOUBLE AS cab
             |  FROM fits),
             |rr AS (SELECT direction, n,
             |    cuu - cua * cua / caa AS rss_r,
             |    cuu - ((cua * cbb - cub * cab) * cua
             |         + (cub * caa - cua * cab) * cub)
             |      / (caa * cbb - cab * cab) AS rss_f
             |  FROM cc)
             |SELECT direction, n AS n_days,
             |  round((rss_r - rss_f) / (rss_f / (n::DOUBLE - 3.0)), 6) AS f_stat,
             |  round((rss_r - rss_f) / rss_r, 6) AS r2_gain
             |FROM rr ORDER BY direction""".stripMargin)),

    // Wald's sequential probability ratio test (SPRT, 1945) — the
    // always-valid alternative to the fixed-horizon z-test family:
    // is the daily purchase share p1 = 0.21 (H1) or p0 = 0.19 (H0)?
    // Each day contributes c·ln(p1/p0) + (n−c)·ln((1−p1)/(1−p0)) to
    // the log-likelihood ratio; the test stops the FIRST day the
    // cumulative LLR crosses ln((1−β)/α) or ln(β/(1−α)) (α=β=0.05).
    // The per-event log constants are pre-computed micro-unit INTEGERS
    // inlined into both engines (no cross-engine ln), so the whole
    // trajectory is an exact integer cumsum over the daily digest —
    // one aggregate plus a calendar-bounded window.
    QueryDef("q_sprt_sequential", {
      // ln(0.21/0.19)·1e6, ln(0.79/0.81)·1e6, ln(19)·1e6
      val c1 = math.round(math.log(0.21 / 0.19) * 1e6)
      val c0 = math.round(math.log(0.79 / 0.81) * 1e6)
      val a = math.round(math.log(19.0) * 1e6)
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("c"))
        val w = Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, 0)
        val cum = daily
          .withColumn("llr", sum(col("c") * lit(c1) +
            (col("n") - col("c")) * lit(c0)).over(w))
        cum.agg(count(lit(1)).as("n_days"),
            max(col("llr")).as("max_llr_micro"),
            min(col("llr")).as("min_llr_micro"),
            min(when(col("llr") >= a, col("day"))).as("h1d"),
            min(when(col("llr") <= -a, col("day"))).as("h0d"))
          .select(col("n_days"), col("max_llr_micro"), col("min_llr_micro"),
            coalesce(col("h1d").cast("string"), lit("none")).as("h1_day"),
            coalesce(col("h0d").cast("string"), lit("none")).as("h0_day"),
            when(col("h1d").isNotNull &&
              (col("h0d").isNull || col("h1d") <= col("h0d")), lit("accept_h1"))
              .when(col("h0d").isNotNull, lit("accept_h0"))
              .otherwise(lit("continue")).as("decision"))
      }
    }, {
      val c1 = math.round(math.log(0.21 / 0.19) * 1e6)
      val c0 = math.round(math.log(0.79 / 0.81) * 1e6)
      val a = math.round(math.log(19.0) * 1e6)
      Some(s"""WITH daily AS (SELECT ts::DATE AS day, count(*)::BIGINT AS n,
             |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS c
             |  FROM events GROUP BY 1),
             |cum AS (SELECT day,
             |    sum(c * $c1 + (n - c) * $c0) OVER (ORDER BY day
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS llr
             |  FROM daily)
             |SELECT count(*)::BIGINT AS n_days,
             |  max(llr)::BIGINT AS max_llr_micro,
             |  min(llr)::BIGINT AS min_llr_micro,
             |  coalesce(min(CASE WHEN llr >= $a THEN day END)::VARCHAR, 'none')
             |    AS h1_day,
             |  coalesce(min(CASE WHEN llr <= -$a THEN day END)::VARCHAR, 'none')
             |    AS h0_day,
             |  CASE WHEN min(CASE WHEN llr >= $a THEN day END) IS NOT NULL
             |      AND (min(CASE WHEN llr <= -$a THEN day END) IS NULL
             |        OR min(CASE WHEN llr >= $a THEN day END)
             |          <= min(CASE WHEN llr <= -$a THEN day END))
             |    THEN 'accept_h1'
             |    WHEN min(CASE WHEN llr <= -$a THEN day END) IS NOT NULL
             |    THEN 'accept_h0'
             |    ELSE 'continue' END AS decision
             |FROM cum""".stripMargin)
    }),
    // Theta/KMV sketch SET ALGEBRA (Dasgupta et al. 2016's theta
    // sketch framework in its KMV special case) — the sketch-scale
    // answer to "how many users did BOTH click and purchase": each
    // arm keeps its 256 smallest 40-bit user hashes; the union
    // estimate comes from the merged-and-trimmed sketch, and the
    // intersection by inclusion-exclusion, clamped at 0. Exact counts
    // ride along as the accuracy audit. Sketch state is O(k) per arm
    // at ANY user count; every hash is md5-derived and replayed in
    // SQL, so the sketches themselves are engine-identical.
    QueryDef("q_kmv_setops",
      (s, d) => {
        val h40 = pmod(conv(substring(md5(concat(lit("kmv:"),
          col("user_id").cast("string"))), 1, 15), 16, 10).cast("long"),
          lit(1099511627776L))
        val ev = graft.sources.Tables.events(s, d)
          .filter(col("event_type").isin("click", "purchase"))
          .select(col("event_type").as("arm"), h40.as("h")).distinct()
        val wa = Window.partitionBy(col("arm")).orderBy(col("h"))
        val sk = ev.withColumn("rk", row_number().over(wa))
          .filter(col("rk") <= 256)
        def estOf(df: org.apache.spark.sql.DataFrame, label: String) =
          df.agg(count(lit(1)).as("n"),
            max(when(col("rk") === 256, col("h"))).as("hk"))
            .select(lit(label).as("set_op"),
              when(col("hk").isNull, col("n"))
                .otherwise(expr("255 * 1099511627776 div hk")).as("est"))
        val wu = Window.orderBy(col("h"))
        val un = sk.select(col("h")).distinct()
          .withColumn("rk", row_number().over(wu)).filter(col("rk") <= 256)
        val ea = estOf(sk.filter(col("arm") === "click"), "click")
        val eb = estOf(sk.filter(col("arm") === "purchase"), "purchase")
        val eu = estOf(un, "union")
        val exact = ev.groupBy().agg(
          count_distinct(when(col("arm") === "click", col("h"))).as("xa"),
          count_distinct(when(col("arm") === "purchase", col("h"))).as("xb"),
          count_distinct(col("h")).as("xu"))
        val ests = ea.unionAll(eb).unionAll(eu)
          .groupBy().pivot("set_op", Seq("click", "purchase", "union"))
          .agg(first(col("est")))
        ests.crossJoin(exact)
          .select(col("click").as("est_click"),
            col("purchase").as("est_purchase"),
            col("union").as("est_union"),
            greatest(col("click") + col("purchase") - col("union"), lit(0L))
              .as("est_intersect"),
            col("xa").as("exact_click"), col("xb").as("exact_purchase"),
            col("xu").as("exact_union"),
            (col("xa") + col("xb") - col("xu")).as("exact_intersect"))
      },
      Some("""WITH ev AS (SELECT DISTINCT event_type AS arm,
             |    ((('0x'||substring(md5('kmv:'||user_id),1,15))::BIGINT
             |      % 1099511627776 + 1099511627776) % 1099511627776) AS h
             |  FROM events WHERE event_type IN ('click', 'purchase')),
             |sk AS (SELECT arm, h FROM (
             |    SELECT arm, h, row_number() OVER (PARTITION BY arm
             |      ORDER BY h) AS rk FROM ev)
             |  WHERE rk <= 256),
             |un AS (SELECT h FROM (
             |    SELECT h, row_number() OVER (ORDER BY h) AS rk
             |    FROM (SELECT DISTINCT h FROM sk))
             |  WHERE rk <= 256),
             |est AS (
             |  SELECT 'click' AS set_op, count(*)::BIGINT AS n,
             |    max(CASE WHEN rk = 256 THEN h END) AS hk
             |  FROM (SELECT h, row_number() OVER (ORDER BY h) AS rk
             |    FROM sk WHERE arm = 'click')
             |  UNION ALL
             |  SELECT 'purchase', count(*)::BIGINT,
             |    max(CASE WHEN rk = 256 THEN h END)
             |  FROM (SELECT h, row_number() OVER (ORDER BY h) AS rk
             |    FROM sk WHERE arm = 'purchase')
             |  UNION ALL
             |  SELECT 'union', count(*)::BIGINT,
             |    max(CASE WHEN rk = 256 THEN h END)
             |  FROM (SELECT h, row_number() OVER (ORDER BY h) AS rk FROM un)),
             |ee AS (SELECT set_op,
             |    (CASE WHEN hk IS NULL THEN n
             |      ELSE 255 * 1099511627776 // hk END)::BIGINT AS est
             |  FROM est),
             |px AS (SELECT
             |    max(CASE WHEN set_op = 'click' THEN est END) AS est_click,
             |    max(CASE WHEN set_op = 'purchase' THEN est END) AS est_purchase,
             |    max(CASE WHEN set_op = 'union' THEN est END) AS est_union
             |  FROM ee),
             |xt AS (SELECT
             |    count(DISTINCT CASE WHEN arm = 'click' THEN h END)::BIGINT AS xa,
             |    count(DISTINCT CASE WHEN arm = 'purchase' THEN h END)::BIGINT AS xb,
             |    count(DISTINCT h)::BIGINT AS xu
             |  FROM ev)
             |SELECT est_click, est_purchase, est_union,
             |  greatest(est_click + est_purchase - est_union, 0)::BIGINT
             |    AS est_intersect,
             |  xa AS exact_click, xb AS exact_purchase, xu AS exact_union,
             |  (xa + xb - xu)::BIGINT AS exact_intersect
             |FROM px, xt""".stripMargin)),
    // Newman modularity of the LPA partition (Newman & Girvan 2004) —
    // the quality score for q_label_propagation's communities:
    // Q = Σ_c (e_c/m − (d_c/2m)²) over the co-purchase graph, where
    // e_c counts intra-community edges and d_c sums community degrees.
    // Labels come from the same 3 synchronous LPA rounds (identical
    // tie rule) on the memoized edge artifact; all counts are exact
    // integers, each community's term rounds once at 9 dp and the
    // community sum accumulates as exact decimals, so Q is partition-
    // order independent on both engines.
    QueryDef("q_graph_modularity",
      (s, d) => {
        // r17 (the q_kcore3 discipline): the input is the prebuilt
        // co-purchase edges artifact and the whole 3-round label
        // propagation is one lazy DAG — AQE scheduled 18 driver jobs
        // for 0.29 s of CPU. Static planning runs it in 7 (measured
        // 1.46 -> 1.18 s); the label-count aggregates reduce through
        // the session shuffle conf as before, and a skewed hub label
        // collapses map-side in the partial aggregate.
        QueryDef.withConf(s, "spark.sql.adaptive.enabled" -> "false") {
        val e = s.read.parquet(copurchaseEdgesOf(s, d))
        val eb = e.select(col("p1").as("src"), col("p2").as("dst"))
          .unionAll(e.select(col("p2").as("src"), col("p1").as("dst")))
        var lab = eb.select(col("src").as("node")).distinct()
          .withColumn("lab", col("node"))
        for (_ <- 1 to 3) {
          val cnt = eb.join(lab, col("src") === col("node"))
            .groupBy(col("dst").as("nd"), col("lab"))
            .agg(count(lit(1)).as("cv"))
          val win = Window.partitionBy(col("nd"))
            .orderBy(col("cv").desc, col("lab"))
          lab = cnt.withColumn("rn", row_number().over(win))
            .filter(col("rn") === 1)
            .select(col("nd").as("node"), col("lab"))
        }
        val mdf = e.agg(count(lit(1)).as("m"))
        val la = lab.toDF("n1", "l1")
        val lb = lab.toDF("n2", "l2")
        val ec = e.join(la, col("p1") === col("n1"))
          .join(lb, col("p2") === col("n2"))
          .filter(col("l1") === col("l2"))
          .groupBy(col("l1").as("comm")).agg(count(lit(1)).as("ec"))
        val dc = eb.join(lab, col("src") === col("node"))
          .groupBy(col("lab").as("comm")).agg(count(lit(1)).as("dc"))
        val terms = dc.join(ec, Seq("comm"), "left")
          .withColumn("ec", coalesce(col("ec"), lit(0L)))
          .crossJoin(broadcast(mdf))
          .select(round(col("ec").cast("double") / col("m") -
            (col("dc").cast("double") * col("dc").cast("double")) /
              (lit(4.0) * col("m").cast("double") * col("m").cast("double")),
            9).cast("decimal(20,9)").as("t"))
        graft.queries.QueryDef.digest(s,
          terms.agg(count(lit(1)).as("n_communities"),
              sum(col("t")).cast("double").as("q0"))
            .crossJoin(broadcast(mdf))
            .select(col("m").as("n_edges"), col("n_communities"),
              round(col("q0"), 6).as("q_modularity")))
        }
      },
      Some("""WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |e AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2
             |  FROM pp a JOIN pp b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |eb AS (SELECT p1 AS src, p2 AS dst FROM e
             |  UNION ALL SELECT p2, p1 FROM e),
             |l0 AS (SELECT DISTINCT src AS node, src AS lab FROM eb),
             |c1 AS (SELECT eb.dst AS nd, l0.lab, count(*) AS cv
             |  FROM eb JOIN l0 ON eb.src = l0.node GROUP BY 1, 2),
             |l1 AS (SELECT nd AS node, lab FROM (SELECT nd, lab,
             |    row_number() OVER (PARTITION BY nd ORDER BY cv DESC, lab) AS rn
             |  FROM c1) WHERE rn = 1),
             |c2 AS (SELECT eb.dst AS nd, l1.lab, count(*) AS cv
             |  FROM eb JOIN l1 ON eb.src = l1.node GROUP BY 1, 2),
             |l2 AS (SELECT nd AS node, lab FROM (SELECT nd, lab,
             |    row_number() OVER (PARTITION BY nd ORDER BY cv DESC, lab) AS rn
             |  FROM c2) WHERE rn = 1),
             |c3 AS (SELECT eb.dst AS nd, l2.lab, count(*) AS cv
             |  FROM eb JOIN l2 ON eb.src = l2.node GROUP BY 1, 2),
             |l3 AS (SELECT nd AS node, lab FROM (SELECT nd, lab,
             |    row_number() OVER (PARTITION BY nd ORDER BY cv DESC, lab) AS rn
             |  FROM c3) WHERE rn = 1),
             |mm AS (SELECT count(*)::BIGINT AS m FROM e),
             |ec AS (SELECT la.lab AS comm, count(*)::BIGINT AS ec
             |  FROM e JOIN l3 la ON la.node = e.p1
             |    JOIN l3 lb ON lb.node = e.p2
             |  WHERE la.lab = lb.lab GROUP BY 1),
             |dc AS (SELECT l3.lab AS comm, count(*)::BIGINT AS dc
             |  FROM eb JOIN l3 ON l3.node = eb.src GROUP BY 1),
             |terms AS (SELECT round(coalesce(ec.ec, 0)::DOUBLE / mm.m
             |    - (dc.dc::DOUBLE * dc.dc::DOUBLE)
             |      / (4.0 * mm.m::DOUBLE * mm.m::DOUBLE), 9)::DECIMAL(20,9) AS t
             |  FROM dc LEFT JOIN ec USING (comm), mm)
             |SELECT mm.m AS n_edges, count(*)::BIGINT AS n_communities,
             |  round(sum(t)::DOUBLE, 6) AS q_modularity
             |FROM terms, mm GROUP BY 1""".stripMargin)),

    // O'Brien-Fleming group-sequential monitoring (1979) — the
    // interim-analysis discipline SPRT's fully-sequential test
    // complements: the experiment timeline splits into 5 equal
    // calendar looks; at look k the cumulative two-sample z (purchase
    // value, arms by user parity) is compared against the OBF
    // boundary 2.0403·sqrt(5/k) — wide early, nominal late, overall
    // α≈0.05 — so early peeks can't burn the error budget. Boundaries
    // are inlined constants; the z at each look is closed-form on
    // CUMULATIVE exact milli sums (one window over the 5-row look
    // digest); one facts pass total.
    QueryDef("q_group_sequential", {
      val bounds = (1 to 5).map(k =>
        BigDecimal(2.0403 * math.sqrt(5.0 / k))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .select((col("user_id") % 2 === 0).as("arm_a"),
            expr("unix_micros(ts) div 1000000").as("x"),
            floor(col("value") * 1000).cast("long").as("vm"))
        val span = ev.agg(min(col("x")).as("t0"), max(col("x")).as("t1"))
        val looks = ev.crossJoin(broadcast(span))
          .withColumn("lk",
            least(expr("(x - t0) * 5 div (t1 - t0 + 1)"), lit(4L)) + 1)
          .groupBy(col("lk"))
          .agg(
            sum(when(col("arm_a"), 1L).otherwise(0L)).as("na"),
            sum(when(col("arm_a"), col("vm")).otherwise(0L)).as("sa"),
            sum(when(col("arm_a"), col("vm") * col("vm")).otherwise(0L)).as("qa"),
            sum(when(!col("arm_a"), 1L).otherwise(0L)).as("nb"),
            sum(when(!col("arm_a"), col("vm")).otherwise(0L)).as("sb"),
            sum(when(!col("arm_a"), col("vm") * col("vm")).otherwise(0L)).as("qb"))
        val wc = Window.orderBy(col("lk"))
          .rowsBetween(Window.unboundedPreceding, 0)
        val cum = looks
          .withColumn("cna", sum(col("na")).over(wc))
          .withColumn("csa", sum(col("sa")).over(wc))
          .withColumn("cqa", sum(col("qa")).over(wc))
          .withColumn("cnb", sum(col("nb")).over(wc))
          .withColumn("csb", sum(col("sb")).over(wc))
          .withColumn("cqb", sum(col("qb")).over(wc))
        def m(sc: String, nc: String) =
          col(sc).cast("double") / col(nc).cast("double")
        def v(qc: String, sc: String, nc: String) =
          (col(qc).cast("double") -
            col(sc).cast("double") * col(sc).cast("double") /
              col(nc).cast("double")) / (col(nc).cast("double") - 1.0)
        val bCase = bounds.zipWithIndex.reverse.foldLeft(lit(0.0)) {
          case (acc, (b, i)) => when(col("lk") === (i + 1), lit(b)).otherwise(acc)
        }
        cum.withColumn("z", round(
            (m("csa", "cna") - m("csb", "cnb")) /
              sqrt(v("cqa", "csa", "cna") / col("cna").cast("double") +
                v("cqb", "csb", "cnb") / col("cnb").cast("double")), 6))
          .withColumn("boundary", bCase)
          .select(col("lk").as("look"), col("cna").as("n_a"),
            col("cnb").as("n_b"), col("z"), col("boundary"),
            (abs(col("z")) >= col("boundary")).as("crossed"))
          .orderBy(col("look"))
      }
    }, {
      val bounds = (1 to 5).map(k =>
        BigDecimal(2.0403 * math.sqrt(5.0 / k))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      val bCase = bounds.zipWithIndex
        .map { case (b, i) => s"WHEN lk = ${i + 1} THEN $b" }.mkString(" ")
      Some(s"""WITH ev AS (SELECT user_id % 2 = 0 AS arm_a,
             |    floor(epoch(ts))::BIGINT AS x,
             |    floor(value * 1000)::BIGINT AS vm
             |  FROM events WHERE event_type = 'purchase'),
             |span AS (SELECT min(x) AS t0, max(x) AS t1 FROM ev),
             |looks AS (SELECT least((x - t0) * 5 // (t1 - t0 + 1), 4) + 1 AS lk,
             |    sum(CASE WHEN arm_a THEN 1 ELSE 0 END)::BIGINT AS na,
             |    sum(CASE WHEN arm_a THEN vm ELSE 0 END)::BIGINT AS sa,
             |    sum(CASE WHEN arm_a THEN vm * vm ELSE 0 END)::BIGINT AS qa,
             |    sum(CASE WHEN NOT arm_a THEN 1 ELSE 0 END)::BIGINT AS nb,
             |    sum(CASE WHEN NOT arm_a THEN vm ELSE 0 END)::BIGINT AS sb,
             |    sum(CASE WHEN NOT arm_a THEN vm * vm ELSE 0 END)::BIGINT AS qb
             |  FROM ev, span GROUP BY 1),
             |cum AS (SELECT lk,
             |    sum(na) OVER w AS cna, sum(sa) OVER w AS csa,
             |    sum(qa) OVER w AS cqa, sum(nb) OVER w AS cnb,
             |    sum(sb) OVER w AS csb, sum(qb) OVER w AS cqb
             |  FROM looks WINDOW w AS (ORDER BY lk
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             |zz AS (SELECT lk, cna, cnb,
             |    round((csa::DOUBLE / cna::DOUBLE - csb::DOUBLE / cnb::DOUBLE)
             |      / sqrt(((cqa::DOUBLE - csa::DOUBLE * csa::DOUBLE / cna::DOUBLE)
             |            / (cna::DOUBLE - 1.0)) / cna::DOUBLE
             |          + ((cqb::DOUBLE - csb::DOUBLE * csb::DOUBLE / cnb::DOUBLE)
             |            / (cnb::DOUBLE - 1.0)) / cnb::DOUBLE), 6) AS z,
             |    CASE $bCase ELSE 0.0 END AS boundary
             |  FROM cum)
             |SELECT lk AS look, cna::BIGINT AS n_a, cnb::BIGINT AS n_b, z, boundary,
             |  (abs(z) >= boundary) AS crossed
             |FROM zz ORDER BY look""".stripMargin)
    }),

    // Newsvendor critical-fractile stocking (Arrow-Harris-Marschak
    // 1951) — the inventory question the demand digests feed: with
    // underage cost 3 and overage cost 1, stock the 75th-percentile
    // day (smallest s with F(s) ≥ 3/4, an order statistic on the
    // daily-demand digest), and report the expected daily unmet /
    // leftover units at that level via EXACT partial sums over the
    // digest — the two tail expectations every stocking decision
    // trades off. One facts pass; everything after is calendar-sized.
    QueryDef("q_newsvendor_stock",
      (s, d) => {
        val daily = graft.sources.Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("dem"))
        val wr = Window.orderBy(col("dem"), col("day"))
        val nd = daily.agg(count(lit(1)).as("n"))
        val stock = daily.crossJoin(broadcast(nd))
          .withColumn("rk", row_number().over(wr))
          .filter(col("rk") === expr("(3 * n + 3) div 4"))
          .select(col("dem").as("stock"))
        daily.crossJoin(broadcast(stock)).crossJoin(broadcast(nd))
          .agg(max(col("n")).as("n_days"), max(col("stock")).as("stock"),
            sum(greatest(col("dem") - col("stock"), lit(0L))).as("under_u"),
            sum(greatest(col("stock") - col("dem"), lit(0L))).as("over_u"),
            sum(when(col("dem") <= col("stock"), 1L).otherwise(0L))
              .as("n_served"))
          .select(col("n_days"), col("stock"),
            expr("under_u * 1000 div n_days").as("exp_under_milli"),
            expr("over_u * 1000 div n_days").as("exp_over_milli"),
            expr("n_served * 1000000 div n_days").as("service_ppm"))
      },
      Some("""WITH daily AS (SELECT ts::DATE AS day, count(*)::BIGINT AS dem
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
             |nd AS (SELECT count(*)::BIGINT AS n FROM daily),
             |st AS (SELECT dem AS stock FROM (
             |    SELECT dem, row_number() OVER (ORDER BY dem, day) AS rk
             |    FROM daily), nd
             |  WHERE rk = (3 * n + 3) // 4)
             |SELECT max(n)::BIGINT AS n_days, max(stock)::BIGINT AS stock,
             |  (sum(greatest(dem - stock, 0)) * 1000 // max(n))::BIGINT
             |    AS exp_under_milli,
             |  (sum(greatest(stock - dem, 0)) * 1000 // max(n))::BIGINT
             |    AS exp_over_milli,
             |  (sum(CASE WHEN dem <= stock THEN 1 ELSE 0 END) * 1000000
             |    // max(n))::BIGINT AS service_ppm
             |FROM daily, st, nd""".stripMargin)),

    // Column-profile drift report — the schema-level data-quality diff
    // (per-feature distribution drift is q_psi_stability; this is the
    // profiler's view): for each informative events column (type,
    // props, user, value — the id column's NDV is its count), null
    // rate and exact NDV in the first vs second half of the time
    // range, plus the mean for the numeric measure. One melt (stack) + one aggregate per
    // half; only COUNTS cross the engine boundary (both engines cast
    // values to strings with round-trip formatting, so distinct counts
    // agree without comparing the strings themselves). At 100 TB the
    // exact NDV column swaps for the KMV sketch (corpus_kmv_distinct);
    // the report shape is unchanged.
    QueryDef("q_profile_drift",
      (s, d) => {
        val ev = graft.sources.Tables.events(s, d)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"), col("props"),
            expr("unix_micros(ts)").as("tu"))
        val mid = ev.agg(((min(col("tu")) + max(col("tu"))) / 2)
          .cast("long").as("mid"))
        val melted = ev.crossJoin(broadcast(mid))
          .withColumn("half", when(col("tu") < col("mid"), 1).otherwise(2))
          .selectExpr("half",
            """stack(4,
              |  'event_type', CAST(event_type AS STRING), CAST(NULL AS DOUBLE),
              |  'props',      CAST(props AS STRING),      CAST(NULL AS DOUBLE),
              |  'user_id',    CAST(user_id AS STRING),    CAST(NULL AS DOUBLE),
              |  'value',      CAST(value AS STRING),      value)
              | AS (column, sval, nv)""".stripMargin)
        val prof = melted.groupBy(col("column"), col("half"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("sval").isNull, 1L).otherwise(0L)).as("n_null"),
            count_distinct(col("sval")).as("ndv"),
            sum(floor(col("nv") * 1000).cast("long")).as("sv"),
            count(col("nv")).as("nn"))
        val p1 = prof.filter(col("half") === 1)
          .select(col("column"), col("n").as("n_1"),
            expr("n_null * 1000000 div n").as("null_ppm_1"),
            col("ndv").as("ndv_1"), col("sv").as("sv1"), col("nn").as("nn1"))
        val p2 = prof.filter(col("half") === 2)
          .select(col("column"), col("n").as("n_2"),
            expr("n_null * 1000000 div n").as("null_ppm_2"),
            col("ndv").as("ndv_2"), col("sv").as("sv2"), col("nn").as("nn2"))
        p1.join(p2, "column")
          .select(col("column"), col("n_1"), col("n_2"),
            col("null_ppm_1"), col("null_ppm_2"),
            col("ndv_1"), col("ndv_2"),
            expr("(ndv_2 - ndv_1) * 1000000 div ndv_1").as("ndv_drift_ppm"),
            round(col("sv1").cast("double") /
              (col("nn1").cast("double") * 1000.0), 6).as("mean_1"),
            round(col("sv2").cast("double") /
              (col("nn2").cast("double") * 1000.0), 6).as("mean_2"))
          .orderBy(col("column"))
      },
      Some("""WITH ev AS (SELECT event_id, user_id, event_type, value, props,
             |    epoch_us(ts) AS tu
             |  FROM events),
             |mid AS (SELECT (min(tu) + max(tu)) // 2 AS mid FROM ev),
             |melted AS (
             |  SELECT CASE WHEN tu < mid THEN 1 ELSE 2 END AS half,
             |    'event_type' AS "column", event_type::VARCHAR AS sval,
             |    NULL::DOUBLE AS nv
             |  FROM ev, mid
             |  UNION ALL
             |  SELECT CASE WHEN tu < mid THEN 1 ELSE 2 END, 'props',
             |    props::VARCHAR, NULL::DOUBLE FROM ev, mid
             |  UNION ALL
             |  SELECT CASE WHEN tu < mid THEN 1 ELSE 2 END, 'user_id',
             |    user_id::VARCHAR, NULL::DOUBLE FROM ev, mid
             |  UNION ALL
             |  SELECT CASE WHEN tu < mid THEN 1 ELSE 2 END, 'value',
             |    value::VARCHAR, value FROM ev, mid),
             |prof AS (SELECT "column", half, count(*)::BIGINT AS n,
             |    sum(CASE WHEN sval IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
             |    count(DISTINCT sval)::BIGINT AS ndv,
             |    sum(floor(nv * 1000)::BIGINT)::BIGINT AS sv,
             |    count(nv)::BIGINT AS nn
             |  FROM melted GROUP BY 1, 2)
             |SELECT p1."column", p1.n AS n_1, p2.n AS n_2,
             |  (p1.n_null * 1000000 // p1.n)::BIGINT AS null_ppm_1,
             |  (p2.n_null * 1000000 // p2.n)::BIGINT AS null_ppm_2,
             |  p1.ndv AS ndv_1, p2.ndv AS ndv_2,
             |  ((p2.ndv - p1.ndv) * 1000000 // p1.ndv)::BIGINT AS ndv_drift_ppm,
             |  round(p1.sv::DOUBLE / (p1.nn::DOUBLE * 1000.0), 6) AS mean_1,
             |  round(p2.sv::DOUBLE / (p2.nn::DOUBLE * 1000.0), 6) AS mean_2
             |FROM prof p1 JOIN prof p2
             |  ON p1."column" = p2."column" AND p1.half = 1 AND p2.half = 2
             |ORDER BY p1."column"""".stripMargin)),

    // Rolling 7-day distinct users via MERGEABLE KMV sketches — the
    // 100 TB twin of q_rolling_distinct_users' exact diff-array: each
    // day keeps only its 64 smallest distinct 40-bit user hashes (a
    // KMV sketch); a window's sketch is the union of 7 daily sketches
    // re-trimmed to 64, and the estimate is the classic (k-1)/F(h_k).
    // Only 64 rows per day cross the window join — state is BOUNDED
    // by the calendar, never the user count — while the exact count
    // rides along from the full per-day distinct set as the accuracy
    // audit. Identical md5-derived hashes on both engines make even
    // the sketch contents hash-comparable.
    QueryDef("q_rolling_distinct_approx",
      (s, d) => {
        val h40 = pmod(conv(substring(md5(concat(lit("kmv:"),
          col("user_id").cast("string"))), 1, 15), 16, 10).cast("long"),
          lit(1099511627776L))
        val dd = graft.sources.Tables.events(s, d)
          .select(to_date(col("ts")).as("day"), h40.as("h"))
          .distinct()
        val wd = Window.partitionBy(col("day")).orderBy(col("h"))
        val sketch = dd.withColumn("rk", row_number().over(wd))
          .filter(col("rk") <= 64).select(col("day"), col("h"))
        val offs = (0 to 6).map(o => lit(o))
        val fan = explode(array(offs: _*)).as("off")
        val su = sketch.select(col("day"), col("h"), fan)
          .select(date_add(col("day"), col("off")).as("rd"), col("h"))
          .distinct()
        val wr = Window.partitionBy(col("rd")).orderBy(col("h"))
        val est = su.withColumn("rk", row_number().over(wr))
          .groupBy(col("rd"))
          .agg(count(lit(1)).as("sketch_n"),
            max(when(col("rk") === 64, col("h"))).as("h64"))
          .withColumn("est", when(col("h64").isNull, col("sketch_n"))
            .otherwise(expr("63 * 1099511627776 div h64")))
        val exact = dd.select(col("day"), col("h"), fan)
          .select(date_add(col("day"), col("off")).as("rd"), col("h"))
          .groupBy(col("rd"))
          .agg(count_distinct(col("h")).as("n_exact"))
        est.join(exact, "rd")
          .select(col("rd").cast("string").as("day"), col("n_exact"),
            col("est"),
            expr("(est - n_exact) * 1000000 div n_exact").as("err_ppm"))
          .orderBy(col("day"))
      },
      Some("""WITH dd AS (SELECT DISTINCT ts::DATE AS day,
             |    ((('0x'||substring(md5('kmv:'||user_id),1,15))::BIGINT
             |      % 1099511627776 + 1099511627776) % 1099511627776) AS h
             |  FROM events),
             |sk AS (SELECT day, h FROM (
             |    SELECT day, h, row_number() OVER (PARTITION BY day
             |      ORDER BY h) AS rk FROM dd)
             |  WHERE rk <= 64),
             |su AS (SELECT DISTINCT sk.day + o.off AS rd, h
             |  FROM sk, (SELECT unnest(range(7))::INT AS off) o),
             |es AS (SELECT rd, count(*)::BIGINT AS sketch_n,
             |    max(CASE WHEN rk = 64 THEN h END) AS h64
             |  FROM (SELECT rd, h, row_number() OVER (PARTITION BY rd
             |      ORDER BY h) AS rk FROM su)
             |  GROUP BY 1),
             |ex AS (SELECT dd.day + o.off AS rd,
             |    count(DISTINCT h)::BIGINT AS n_exact
             |  FROM dd, (SELECT unnest(range(7))::INT AS off) o
             |  GROUP BY 1)
             |SELECT es.rd::VARCHAR AS day, ex.n_exact,
             |  (CASE WHEN h64 IS NULL THEN sketch_n
             |    ELSE 63 * 1099511627776 // h64 END)::BIGINT AS est,
             |  ((CASE WHEN h64 IS NULL THEN sketch_n
             |    ELSE 63 * 1099511627776 // h64 END - n_exact) * 1000000
             |    // n_exact)::BIGINT AS err_ppm
             |FROM es JOIN ex USING (rd)
             |ORDER BY day""".stripMargin)),

    // Empirical-Bayes shrinkage of per-user conversion rates (the
    // beta-binomial moment-matched prior, Robbins/Efron-Morris): raw
    // per-user purchase rates are noisy for light users, so each rate
    // shrinks toward the grand mean with strength α+β fitted from the
    // OBSERVED rate distribution by method of moments — the estimator
    // every leaderboard/segmentation job should use instead of raw
    // ratios. Per-user digests are exact integers; the two prior
    // parameters are scalar post-agg arithmetic; one broadcast back
    // scores every user, top-20 shrunken rates reported with their
    // raw rates for contrast.
    QueryDef("q_eb_shrinkage",
      (s, d) => {
        val per = graft.sources.Tables.events(s, d)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("k"))
        // moment-match on the per-user rate distribution: mu = E[p],
        // v = Var[p] across users (rates rounded once at 9 dp, exact
        // decimal sums), prior strength m = mu(1-mu)/v - 1 (floored at
        // 1 so a degenerate corpus still shrinks)
        val mo = per
          .select(round(col("k").cast("double") / col("n"), 9)
            .cast("decimal(20,9)").as("p"))
          .agg(count(lit(1)).as("u"), sum(col("p")).as("sp"),
            sum((col("p") * col("p")).cast("decimal(38,18)")).as("spp"))
          .select(col("u"),
            (col("sp").cast("double") / col("u")).as("mu"),
            ((col("spp").cast("double") -
              col("sp").cast("double") * col("sp").cast("double") /
                col("u").cast("double")) /
              (col("u").cast("double") - 1.0)).as("v"))
          .withColumn("m",
            greatest(col("mu") * (lit(1.0) - col("mu")) / col("v") - 1.0,
              lit(1.0)))
        per.crossJoin(broadcast(mo))
          .select(col("user_id"), col("n"), col("k"),
            round(col("k").cast("double") / col("n"), 6).as("raw_rate"),
            round((col("k").cast("double") + col("m") * col("mu")) /
              (col("n").cast("double") + col("m")), 6).as("eb_rate"))
          .orderBy(col("eb_rate").desc, col("user_id"))
          .limit(20)
      },
      Some("""WITH per AS (SELECT user_id, count(*)::BIGINT AS n,
             |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS k
             |  FROM events GROUP BY 1),
             |mo AS (SELECT count(*)::BIGINT AS u,
             |    sum(round(k::DOUBLE / n, 9)::DECIMAL(20,9)) AS sp,
             |    sum((round(k::DOUBLE / n, 9)::DECIMAL(20,9)
             |       * round(k::DOUBLE / n, 9)::DECIMAL(20,9))::DECIMAL(38,18))
             |      AS spp
             |  FROM per),
             |pr AS (SELECT u, sp::DOUBLE / u AS mu,
             |    (spp::DOUBLE - sp::DOUBLE * sp::DOUBLE / u::DOUBLE)
             |      / (u::DOUBLE - 1.0) AS v
             |  FROM mo),
             |pm AS (SELECT mu,
             |    greatest(mu * (1.0 - mu) / v - 1.0, 1.0) AS m
             |  FROM pr)
             |SELECT user_id, n, k,
             |  round(k::DOUBLE / n, 6) AS raw_rate,
             |  round((k::DOUBLE + m * mu) / (n::DOUBLE + m), 6) AS eb_rate
             |FROM per, pm
             |ORDER BY eb_rate DESC, user_id LIMIT 20""".stripMargin))
  )
}
